package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.{Bench, SparkSuite}

/** `QueryTrace`, the engine's one metrics listener: a window's stage
  * rows account for every task it saw, whichever job group or thread
  * ran it, and Bench's per-query task keys are the rows' sums. */
class QueryTraceSpec extends SparkSuite {

  private def trace = QueryTrace.of(spark.sparkContext)

  /** The window of `body` alone. */
  private def window(body: => Unit): TraceWindow = {
    trace.snapshotAndReset()
    body
    val w = trace.snapshotAndReset()
    assert(w.drained)
    w
  }

  test("installs once per SparkContext") {
    assert(QueryTrace.of(spark.sparkContext) eq trace)
  }

  test("a 7-partition RDD count is one stage row of 7 tasks") {
    val w = window { spark.sparkContext.parallelize(1 to 70, 7).count() }
    assert(w.stages.map(_("tasks")) === Seq(7L))
    assert(w.totals("tasks") === 7L)
    assert(w.jobs === Map("" -> 1))
  }

  test("on a multi-stage query the stage rows sum to the window totals and Bench's keys") {
    val w = window {
      val left = spark.range(0, 20000, 1, 6).select((col("id") % 97).as("k"), col("id"))
      val right = spark.range(0, 97, 1, 3).select(col("id").as("k"), (col("id") * 2).as("v"))
      left.join(right.hint("shuffle_hash"), "k").groupBy("v").count().collect()
    }
    assert(w.stages.size >= 3, w.stages)
    assert(w.totals("shuffle_read_records") > 0L && w.totals("shuffle_write_b") > 0L)
    assert(w.totals("cpu_ns") > 0L && w.totals("run_ms") >= w.totals("max_run_ms"))
    assert(w.totals.keySet === QueryTrace.Metrics.toSet)
    for (m <- QueryTrace.Metrics) {
      val vs = w.stages.map(_(m))
      assert(w.totals(m) === (if (m.startsWith("max_")) vs.max else vs.sum), m)
    }
    val keys = Bench.taskKeys(w).toMap
    assert(keys("tasks") === w.stages.map(_("tasks")).sum)
    assert(keys("task_cpu_ms") === w.stages.map(_("cpu_ns")).sum / 1000000L)
    assert(keys("task_run_ms") === w.stages.map(_("run_ms")).sum)
    assert(keys("shuf_read_b") === w.stages.map(_("shuffle_read_b")).sum)
  }

  test("a job on another thread under its own group lands in the window totals") {
    // a streaming query runs its micro-batches like this: on its own
    // thread, under its own run-id job group
    val sc = spark.sparkContext
    val w = window {
      sc.setJobGroup("query", "QueryTraceSpec")
      try {
        val other = new Thread(() => {
          sc.setJobGroup("other-run", "QueryTraceSpec")
          sc.parallelize(1 to 30, 3).count()
          ()
        })
        other.start()
        sc.parallelize(1 to 20, 2).count()
        other.join()
      } finally sc.clearJobGroup()
    }
    assert(w.jobs === Map("query" -> 1, "other-run" -> 1))
    assert(w.stages.map(r => r.group -> r("tasks")).toSet === Set("query" -> 2L, "other-run" -> 3L))
    assert(w.totals("tasks") === 5L)
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("tools/QueryTrace.scala holds the only SparkListener in src") {
    val listener = ("extends " + "SparkListener|new " + "SparkListener").r
    val listeners = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filter(p => listener.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(listeners === Seq("src/main/scala/graft/tools/QueryTrace.scala"))
  }
}
