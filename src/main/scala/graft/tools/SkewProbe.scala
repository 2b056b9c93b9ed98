package graft.tools

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Skew-bound measurement for the salted operators (VERDICT r14 #7):
  * derives a deliberately Zipfian join key over the v2 events fixture
  * (rank-frequency ~ 1/k, deterministic in event_id — the ScaleDataV2
  * hot-draw recipe with s=1 over the full key range, no new fixture
  * dir needed) and records PER-TASK shuffle-read record counts for a
  * big-big shuffle-hash join, unsalted vs `Salt.saltedJoin`. The claim
  * under test: the salt bounds the largest reduce task within ~2× of
  * the mean where the unsalted hot key pins one task at many× mean.
  *
  * AQE is disabled for the probe: its skew-join splitter would split
  * the hot partition itself and measure Spark's mitigation instead of
  * the salt's. (At production both compose; the salt is the lever
  * that also works for aggregates and non-sort-merge paths.)
  *
  * The salted-AGGREGATE twin (x17's shape) is intentionally not
  * probed this way: decomposable count/sum partials collapse map-side,
  * so the reduce stage sees ≤ |keys|·|map tasks| rows either way —
  * reduce-row skew is not where that operator's ceiling lives.
  *
  * Usage: runMain graft.tools.SkewProbe [sfDir] [nKeys] [buckets]
  * (SKEW_r15.json ran at 64 shuffle partitions:
  * SPARK_GRAFT_JAVA_OPTS=-Dspark.sql.shuffle.partitions=64)
  * Prints one JSON line: per-variant {tasks, rows_max, rows_mean,
  * max_over_mean, hot_key_share}.
  */
object SkewProbe {

  private final class TaskRows extends SparkListener {
    val byStage = TrieMap[Int, ArrayBuffer[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val recs = Option(t.taskMetrics).map(_.shuffleReadMetrics.recordsRead)
        .getOrElse(0L)
      byStage.getOrElseUpdate(t.stageId, ArrayBuffer()) += recs
    }
    /** the reduce stage = the stage that shuffle-read the most rows */
    def reduceTasks(): Seq[Long] = {
      val s = byStage.toSeq.map { case (id, b) => (id, b.toSeq) }
      if (s.isEmpty) Seq.empty else s.maxBy(_._2.sum)._2
    }
    def reset(): Unit = byStage.clear()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/localdata/v2sf1")
    val nKeys = args.lift(1).map(_.toLong).getOrElse(1024L)
    val buckets = args.lift(2).map(_.toInt).getOrElse(16)
    val cpus = graft.core.Graft.envCpus
    val spark = graft.core.Graft.session("skew-probe", cores = cpus)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val probe = new TaskRows
    spark.sparkContext.addSparkListener(probe)

    // Zipf(s=1) rank draw: u log-uniform → floor(K^u) has P(k) ≈ 1/(k·lnK);
    // hottest key share ≈ ln2/lnK (10% at K=1024)
    val u = pmod(xxhash64(col("event_id"), lit("zipf")), lit(1048576L))
      .cast("double") / 1048576.0
    val fact = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("value"),
        floor(pow(lit(nKeys.toDouble), u)).cast("long").as("zkey"))
    val dim = spark.range(0L, nKeys + 1).toDF("zkey")
      .withColumn("attr", pmod(xxhash64(col("zkey"), lit("attr")), lit(97L)))

    def stats(rows: Seq[Long]): (Int, Long, Double, Double) = {
      val n = rows.size
      val mx = if (rows.isEmpty) 0L else rows.max
      val mean = if (rows.isEmpty) 0.0 else rows.sum.toDouble / n
      (n, mx, mean, if (mean > 0) mx / mean else 0.0)
    }
    def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

    def run(name: String)(f: => Long): String = {
      probe.reset()
      val out = f
      try org.apache.spark.graft.GraftSparkHooks.drainListenerBus(spark.sparkContext)
      catch { case _: Throwable => Thread.sleep(500) }
      val (n, mx, mean, ratio) = stats(probe.reduceTasks())
      s""""$name":{"join_rows":$out,"tasks":$n,"rows_max":$mx,"rows_mean":${fmt(mean)},"max_over_mean":${fmt(ratio)}}"""
    }

    val hotShare = {
      val tot = fact.count().toDouble
      val hot = fact.where(col("zkey") === 1L).count()
      hot / tot
    }
    probe.reset()
    val unsalted = run("unsalted") {
      fact.join(dim.hint("shuffle_hash"), Seq("zkey")).count()
    }
    val salted = run("salted") {
      graft.operators.Salt
        .saltedJoin(fact, dim.hint("shuffle_hash"), Seq("zkey"),
          col("event_id"), buckets).count()
    }
    println(s"""{"probe":"skew_salted_join","sf_dir":"$sfDir","n_keys":$nKeys,"buckets":$buckets,"shuffle_partitions":$parts,"hot_key_share":${fmt(hotShare)},$unsalted,$salted}""")
    spark.stop()
  }
}
