package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

import graft.{JobCounter, SparkSuite}

/** The one-block path of `Superstep`: an edge set under 65 536 rows
  * runs in the driver after one Spark job, leaves no checkpoint and no
  * cached RDD, and returns a local relation; a `shortestPaths` result
  * bound over two blocks' rows sends the call to the distributed loop. */
class OneBlockSpec extends SparkSuite {

  private def edgesDF(es: (Long, Long)*): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  /** Every file under the session's checkpoint dir, if it has one. */
  private def checkpointFiles(): (Option[String], Set[String]) = {
    val dir = spark.sparkContext.getCheckpointDir
    val files = dir.toSet.flatMap { (d: String) =>
      val root = java.nio.file.Paths.get(new java.net.URI(d))
      if (!java.nio.file.Files.exists(root)) Set.empty[String] else {
        val s = java.nio.file.Files.walk(root)
        try s.toArray.map(_.toString).toSet finally s.close()
      }
    }
    (dir, files)
  }

  private def inDriver(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  test("a one-block call runs one job, in the driver, and leaves no checkpoint or cache") {
    val eg = new EdgeGraph(edgesDF(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L), (10L, 11L), (11L, 11L)))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "connectedComponents" -> (() => eg.connectedComponents(spark)),
      "shortestPaths" -> (() => eg.shortestPaths(spark, Seq(1L, 4L))),
      "stronglyConnected" -> (() => eg.stronglyConnected(spark)),
      "kCore" -> (() => eg.kCore(spark, k = 2)),
      "labelPropagation" -> (() => eg.labelPropagation(spark, rounds = 2)))
    for ((name, call) <- calls) {
      val ckpt = checkpointFiles()
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      val (df, jobs) = JobCounter.count(call())
      assert(jobs === 1, s"$name ran $jobs jobs while built")
      assert(inDriver(df), s"$name: ${df.queryExecution.logical.nodeName}")
      assert(checkpointFiles() === ckpt, name)
      assert(spark.sparkContext.getPersistentRDDs.keySet === cached, name)
    }
  }

  test("a one-block edge set spread past the per-partition shares takes a second job") {
    // 8 partitions, so a partition ships at most 65 536 / 8 = 8192 rows; one holds 10 000
    val skewed = spark.range(0, 10000, 1, 1).union(spark.range(0, 7, 1, 7))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (cc, jobs) = JobCounter.count(new EdgeGraph(skewed).connectedComponents(spark))
    assert(jobs === 2)
    assert(inDriver(cc))
    assert(cc.select("comp").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("the in-driver result equals the one-block distributed loop") {
    val e = edgesDF((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L), (10L, 11L))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Superstep.connectedComponents(spark, e)) ===
      rows(Superstep.connectedComponents(spark, e, blocks = 1)))
    assert(rows(Superstep.stronglyConnected(spark, e, numIter = 2)) ===
      rows(Superstep.stronglyConnected(spark, e, numIter = 2, blocks = 1)))
  }

  test("shortestPaths over the 131 072-row result bound takes the distributed loop") {
    // a star: vertices × 70 landmarks is just under, then just over, 2 × 65 536
    val landmarks = (1L to 70L).toSeq
    def star(leaves: Long) = edgesDF((1L to leaves).map(i => (0L, i)): _*)
    val under = Superstep.shortestPaths(spark, star(1871), landmarks)  // 1872 × 70 = 131 040
    val over = Superstep.shortestPaths(spark, star(1872), landmarks)   // 1873 × 70 = 131 110
    assert(inDriver(under))
    assert(!inDriver(over))
    val expected = landmarks.flatMap(l => Seq((0L, l, 1L), (l, l, 0L))).toSet
    for (df <- Seq(under, over))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === expected)
  }

  test("the local checkpoint dir is registered for removal at JVM exit") {
    EdgeGraph.ensureCheckpointDir(spark, "OneBlockSpec")
    val local = s"${graft.tools.Scratch.fastLocalBase}/graft_ckpt_${spark.sparkContext.applicationId}"
    // the shared session has no spark.graft.checkpointDir, so the dir is the local one
    assert(spark.sparkContext.getCheckpointDir.exists(_.contains(local)))
    assert(graft.tools.Scratch.removedAtExit(local))
  }

  test("building sharedNeighborsSketch runs no Spark job") {
    val e = edgesDF((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 12L))
    for (hasher <- Seq("xx", "md5")) {
      val (_, jobs) = JobCounter.count(MotifQuery.sharedNeighborsSketch(e, k = 8, bands = 2, hasher = hasher))
      assert(jobs === 0, hasher)
    }
  }
}
