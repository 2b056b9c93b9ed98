package graft.tools

import org.apache.spark.sql.functions._

/** Skew-bound measurement for the salted operators (VERDICT r14 #7):
  * derives a deliberately Zipfian join key over the v2 events fixture
  * (rank-frequency ~ 1/k, deterministic in event_id — the ScaleDataV2
  * hot-draw recipe with s=1 over the full key range, no new fixture
  * dir needed) and reads the reduce stage's largest and mean per-task
  * shuffle-read rows (`QueryTrace` stage row) for a big-big
  * shuffle-hash join, unsalted vs `Salt.saltedJoin`. The claim
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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/localdata/v2sf1")
    val nKeys = args.lift(1).map(_.toLong).getOrElse(1024L)
    val buckets = args.lift(2).map(_.toInt).getOrElse(16)
    val cpus = graft.core.Graft.envCpus
    val spark = graft.core.Graft.session("skew-probe", cores = cpus)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val trace = QueryTrace.of(spark.sparkContext)

    // Zipf(s=1) rank draw: u log-uniform → floor(K^u) has P(k) ≈ 1/(k·lnK);
    // hottest key share ≈ ln2/lnK (10% at K=1024)
    val u = pmod(xxhash64(col("event_id"), lit("zipf")), lit(1048576L))
      .cast("double") / 1048576.0
    val fact = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("value"),
        floor(pow(lit(nKeys.toDouble), u)).cast("long").as("zkey"))
    val dim = spark.range(0L, nKeys + 1).toDF("zkey")
      .withColumn("attr", pmod(xxhash64(col("zkey"), lit("attr")), lit(97L)))

    def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

    def run(name: String)(f: => Long): String = {
      trace.snapshotAndReset()
      val out = f
      // the reduce stage = the stage that shuffle-read the most rows
      val r = trace.snapshotAndReset().stages.maxBy(_("shuffle_read_records"))
      val (n, mx) = (r("tasks"), r("max_shuffle_read_records"))
      val mean = r("shuffle_read_records").toDouble / n
      s""""$name":{"join_rows":$out,"tasks":$n,"rows_max":$mx,"rows_mean":${fmt(mean)},"max_over_mean":${fmt(if (mean > 0) mx / mean else 0.0)}}"""
    }

    val hotShare = {
      val tot = fact.count().toDouble
      val hot = fact.where(col("zkey") === 1L).count()
      hot / tot
    }
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
