package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table access for the graft engine.
  *
  * Conventions (see SURVEY.md §7):
  *  - CLUSTER-SAFE: when a master is already configured (spark-submit
  *    sets the `spark.master` system property), the factory neither
  *    overrides it nor touches `spark.sql.shuffle.partitions` — the
  *    deployment's sizing wins. Only a bare JVM (local dev, the test
  *    harness) gets a `local[n]` master with shuffle partitions = n,
  *    n defaulting to the host's core count.
  *  - AQE on: runtime coalescing + skew-join handling is our first
  *    line of defense at 100TB.
  */
object Graft {

  def session(appName: String = "graft", cores: Int = 0): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
    if (!sys.props.contains("spark.master")) {
      val n = if (cores > 0) cores else Runtime.getRuntime.availableProcessors()
      builder.master(s"local[$n]")
        .config("spark.sql.shuffle.partitions", n.toString)
    }
    val spark = builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long once,
      // globally, instead of per-query conf mutation
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // EdgeGraph's iterative algorithms (graph.Superstep) checkpoint
      // their loop state every 10 supersteps so deep components don't
      // accumulate unbounded lineage (recomputed in full on executor
      // loss at scale)
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Load one of the driver-generated tables from a scale-factor dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
