package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

import graft.tools.Scratch

/** Session factory + table access for the graft engine.
  *
  * `session` is the engine's one session definition: Bench, Verify,
  * the probes, the benchmark harness and the test suites all build
  * through it. Conventions (see SURVEY.md §7):
  *  - A SYSTEM PROPERTY BEATS A DEFAULT: every setting below is a
  *    default, applied only when no `spark.*` system property of the
  *    same key is set. `-Dspark.sql.shuffle.partitions=320` (e.g. via
  *    SPARK_GRAFT_JAVA_OPTS) overrides the partition count,
  *    `-Dspark.local.dir=...` the scratch placement, and so on.
  *  - CLUSTER-SAFE: when a master is already configured (spark-submit
  *    sets the `spark.master` system property), the factory neither
  *    overrides it nor touches `spark.sql.shuffle.partitions` or
  *    `spark.local.dir` — the deployment's sizing wins. Only a bare
  *    JVM (local dev, the test harness) gets a `local[n]` master with
  *    shuffle partitions = n, n defaulting to the host's core count,
  *    and shuffle/spill on tmpfs when the host has room for it.
  *  - AQE on: runtime coalescing + skew-join handling is our first
  *    line of defense at 100TB.
  */
object Graft {

  /** Shuffle/spill on tmpfs when available (static conf — builder
    * only): the whole suite writes ~180 MB of shuffle at sf0.1, and
    * disk-contended shuffle-file fsyncs were a prime suspect in the
    * r7 full-suite bench regressions. Created once per JVM (Scratch
    * guards free space and removes it at exit), and only when neither the
    * `spark.local.dir` property nor SPARK_LOCAL_DIRS (which Spark
    * prefers over the conf) already places it. */
  private lazy val tmpfsLocalDir: Option[String] =
    if (sys.props.contains("spark.local.dir") || sys.env.contains("SPARK_LOCAL_DIRS")) None
    else Scratch.tmpfsDir("graft_local_")

  /** The local core count of the entry points (Bench, Verify, the
    * probes): `SPARK_GRAFT_CPUS`, default 32, the bench's width, so
    * the oracle plans every query at the width the bench times. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  def session(appName: String = "graft", cores: Int = 0): SparkSession = {
    val local = if (sys.props.contains("spark.master")) Nil else {
      val n = if (cores > 0) cores else Runtime.getRuntime.availableProcessors()
      Seq("spark.master" -> s"local[$n]", "spark.sql.shuffle.partitions" -> n.toString) ++
        tmpfsLocalDir.map("spark.local.dir" -> _)
    }
    val defaults = local ++ Seq(
      "spark.app.name" -> appName,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // events.parquet carries TIMESTAMP(NANOS); read as long once,
      // globally, instead of per-query conf mutation
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // EdgeGraph's iterative algorithms (graph.Superstep) checkpoint
      // their loop state every 10 supersteps so deep components don't
      // accumulate unbounded lineage (recomputed in full on executor
      // loss at scale)
      "spark.graphx.pregel.checkpointInterval" -> "10",
      // 156 queries × many codegen units each thrash the default
      // 100-entry generated-class cache, so late-order queries re-pay
      // codegen for shared plan fragments — the r6 full-suite runs
      // showed fixed-size queries drifting 2-4× run-to-run from
      // exactly this (w2c: 2.5 s → 9.0 s with unchanged code). Size
      // the cache to the suite.
      "spark.sql.codegen.cache.maxEntries" -> "5000")
    val spark = defaults.filterNot { case (k, _) => sys.props.contains(k) }
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Load table `name` of a scale-factor dir (`<dir>/<name>.parquet`).
    * The schema comes from the first data file's parquet footer, read
    * in the calling JVM and converted under the session's parquet
    * settings as Spark's inference does, so building a query runs no
    * schema-inference job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$dir/$name.parquet")
    dataFiles(conf, root).headOption.fold(spark.read.parquet(root.toString)) { f => // none: Spark's error
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val footer = try new Footer(f, reader.getFooter) finally reader.close()
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(root.toString)
    }
  }

  /** Row count of the same table, summed from its parquet footers in
    * the calling JVM — no Spark job, so a query may size itself by it
    * while it is being built. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, new Path(s"$dir/$name.parquet")).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** The parquet data files under `root`, in name order. */
  private def dataFiles(conf: Configuration, root: Path): Seq[Path] = {
    val files = root.getFileSystem(conf).listFiles(root, true)
    val out = Seq.newBuilder[Path]
    while (files.hasNext) {
      val f = files.next().getPath
      if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) out += f
    }
    out.result().sortBy(_.toString)
  }
}
