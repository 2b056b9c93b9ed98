package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Motif semantics mirror pygr `tests/graph_test.py:88-160`: basic
  * path queries, cyclic query graphs (closure edges as filters),
  * per-step filters, and injective matching.
  */
class GraphSpec extends SparkSuite {

  private def edgesDF(es: (Long, Long)*) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  //   1 -> 2 -> 3 -> 1  (triangle)  and  2 -> 4
  private lazy val g = edgesDF((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L))

  private def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(r.getLong).toList).toSet

  test("path motif a->b->c enumerates all injective chains") {
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("a", "b", g), MotifEdge("b", "c", g))), "a", "b", "c")
    assert(got === Set(
      List(1L, 2L, 3L), List(1L, 2L, 4L), List(2L, 3L, 1L), List(3L, 1L, 2L)))
  }

  test("cyclic motif: closure edge filters to the triangle") {
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("a", "b", g), MotifEdge("b", "c", g),
      MotifEdge("c", "a", g))), "a", "b", "c") // c->a closes the cycle
    assert(got === Set(List(1L, 2L, 3L), List(2L, 3L, 1L), List(3L, 1L, 2L)))
  }

  test("non-injective matching allows repeated data nodes") {
    val gg = edgesDF((1L, 2L), (2L, 1L))
    val inj = rows(MotifQuery.find(Seq(
      MotifEdge("a", "b", gg), MotifEdge("b", "c", gg))), "a", "b", "c")
    assert(inj === Set.empty) // a==c forced, injective forbids
    val rel = rows(MotifQuery.find(Seq(
      MotifEdge("a", "b", gg), MotifEdge("b", "c", gg)), injective = false),
      "a", "b", "c")
    assert(rel === Set(List(1L, 2L, 1L), List(2L, 1L, 2L)))
  }

  test("per-step filter prunes bindings (graphquery.py:500-503)") {
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("a", "b", g, filter = Some(col("b") =!= 2L)),
      MotifEdge("b", "c", g))), "a", "b", "c")
    assert(got === Set(List(2L, 3L, 1L), List(3L, 1L, 2L)))
  }

  test("maxHits caps motif solutions (maxhit semantics)") {
    val capped = MotifQuery.find(Seq(
      MotifEdge("a", "b", g), MotifEdge("b", "c", g)), maxHits = Some(2))
    assert(capped.count() === 2)
  }

  test("heterogeneous edge sources per motif edge") {
    val e1 = edgesDF((10L, 20L))
    val e2 = edgesDF((20L, 30L))
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("x", "y", e1), MotifEdge("y", "z", e2))), "x", "y", "z")
    assert(got === Set(List(10L, 20L, 30L)))
  }

  test("EdgeGraph: adjacency, inverse, degrees, connected components") {
    val e = edgesDF((1L, 2L), (2L, 3L), (10L, 11L))
    val eg = new EdgeGraph(e)
    assert(eg.adjacency(2L).collect().map(_.getLong(1)).toSet === Set(3L))
    assert(eg.inverse.adjacency(2L).collect().map(_.getLong(1)).toSet === Set(1L))
    assert(eg.outDegrees.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 1L), (2L, 1L), (10L, 1L)))
    val cc = eg.connectedComponents(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("EdgeGraph.shortestPaths: hop distances from landmarks, capped") {
    // path 1-2-3-4-5, separate component 10-11
    val e = edgesDF((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val und = new EdgeGraph(new EdgeGraph(e).undirected)
    val got = und.shortestPaths(spark, Seq(1L, 10L)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((1L, 1L)) === 0L)
    assert(got((3L, 1L)) === 2L)
    assert(got((5L, 1L)) === 4L)
    assert(got((11L, 10L)) === 1L)
    assert(!got.contains((5L, 10L)), "cross-component pair must be absent")
    // the cap drops far pairs but keeps near ones
    val capped = und.shortestPaths(spark, Seq(1L), maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("graph_test.py:88-100 basic query golden (verbatim)") {
    val g = edgesDF((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 6L), (5L, 6L))
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("q0", "q1", g), MotifEdge("q0", "q2", g),
      MotifEdge("q0", "q3", g), MotifEdge("q3", "q4", g))),
      "q0", "q1", "q2", "q3", "q4")
    assert(got === Set(
      List(0L, 1L, 2L, 3L, 4L), List(0L, 1L, 2L, 3L, 5L),
      List(0L, 2L, 1L, 3L, 4L), List(0L, 2L, 1L, 3L, 5L)))
  }

  test("graph_test.py:114-121 cyclic query vs cyclic data golden") {
    val g = edgesDF((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L))
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("q0", "q1", g), MotifEdge("q1", "q2", g),
      MotifEdge("q2", "q4", g), MotifEdge("q4", "q3", g),
      MotifEdge("q3", "q1", g))),
      "q0", "q1", "q2", "q3", "q4")
    assert(got === Set(List(1L, 2L, 3L, 5L, 4L)))
  }

  test("graph_test.py:123-130 cyclic query vs acyclic data is empty") {
    val g = edgesDF((0L, 1L), (1L, 3L), (5L, 3L), (4L, 5L), (2L, 4L), (2L, 1L))
    val got = MotifQuery.find(Seq(
      MotifEdge("q0", "q1", g), MotifEdge("q1", "q3", g),
      MotifEdge("q3", "q5", g), MotifEdge("q5", "q4", g),
      MotifEdge("q4", "q2", g), MotifEdge("q2", "q1", g)))
    assert(got.count() === 0L)
  }

  test("graph_test.py:132-140 symmetric query golden") {
    val g = edgesDF((1L, 2L), (2L, 3L), (2L, 4L), (5L, 2L))
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("q0", "q1", g), MotifEdge("q1", "q2", g))),
      "q0", "q1", "q2")
    assert(got === Set(
      List(1L, 2L, 3L), List(1L, 2L, 4L), List(5L, 2L, 3L), List(5L, 2L, 4L)))
  }

  test("graph_test.py:151-160 headless (pure cycle) query golden") {
    val g = edgesDF((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val got = rows(MotifQuery.find(Seq(
      MotifEdge("q0", "q1", g), MotifEdge("q1", "q2", g),
      MotifEdge("q2", "q3", g), MotifEdge("q3", "q0", g))),
      "q0", "q1", "q2", "q3")
    assert(got === Set(
      List(1L, 2L, 3L, 4L), List(2L, 3L, 4L, 1L),
      List(3L, 4L, 1L, 2L), List(4L, 1L, 2L, 3L)))
  }

  test("connected components on a deep chain checkpoints lineage") {
    // a 40-node path at 4 blocks: consecutive ids hash to different
    // blocks, so every hop crosses blocks and the loop runs ~40
    // supersteps — the worst case for lineage depth. interval=5 (set
    // here for this test, restored after) must cut it with loop
    // checkpoints beyond the one the result is read from, and still
    // converge to one comp.
    val key = "spark.graphx.pregel.checkpointInterval"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "5")
    val chain = edgesDF((0L until 39L).map(i => (i, i + 1)): _*)
    def ckptRdds(): Set[String] = spark.sparkContext.getCheckpointDir.toSet
      .flatMap((d: String) => Option(new java.io.File(new java.net.URI(d)).list()).toSeq.flatten)
    EdgeGraph.ensureCheckpointDir(spark, "GraphSpec")
    val before = ckptRdds()
    val cc = try Superstep.connectedComponents(spark, chain, blocks = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    finally spark.conf.set(key, saved)
    assert(cc.size === 40)
    assert(cc.values.toSet === Set(0L))
    val written = ckptRdds() -- before
    assert(written.size > 1,
      s"deep chain with checkpointInterval=5 should have written loop checkpoints: $written")
    // a bounded superstep cap still returns a labeling, and a coarser one
    val capped = Superstep.connectedComponents(spark, chain, maxIterations = 3, blocks = 4)
      .collect().map(r => r.getLong(1)).toSeq
    assert(capped.size === 40)
    assert(capped.toSet.size > 1)
  }

  test("a changed vertex reaches every block that mirrors it") {
    // at 3 blocks, 3 and 6 share block 0 while 7 and 8 sit in blocks 1
    // and 2. Vertex 6 learns its value from 3 inside block 0, then must
    // ship it to both mirror blocks: dropping either leaves 7 or 8 stale.
    assert(Seq(3L, 6L, 7L, 8L).map(Superstep.blockOf(_, 3)) === Seq(0, 0, 1, 2))
    val e = edgesDF((6L, 3L), (7L, 6L), (8L, 6L))
    val cc = Superstep.connectedComponents(spark, e, blocks = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(3L -> 3L, 6L -> 3L, 7L -> 3L, 8L -> 3L))
    val dist = Superstep.shortestPaths(spark, e, Seq(3L), blocks = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dist === Map(3L -> 0L, 6L -> 1L, 7L -> 2L, 8L -> 2L))
  }

  test("iterative algorithms release every cached RDD") {
    // GraphX's CC and SCC used to leave cached vertex/edge RDDs behind
    val e = edgesDF((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L), (10L, 11L))
    val eg = new EdgeGraph(e)
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (() => eg.connectedComponents(spark)),
      "shortestPaths" -> (() => eg.shortestPaths(spark, Seq(1L, 4L))),
      "stronglyConnected" -> (() => eg.stronglyConnected(spark)),
      "kCore" -> (() => eg.kCore(spark, k = 2)),
      "labelPropagation" -> (() => eg.labelPropagation(spark, rounds = 2)))
    for ((name, call) <- calls) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      call().count()
      assert(spark.sparkContext.getPersistentRDDs.keySet === before, name)
    }
  }
}
