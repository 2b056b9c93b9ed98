package graft.tools

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graft.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The tasks of one stage that ended in a trace window. `name` is the
  * first line of the stage's callsite, `group` the job group it was
  * submitted under ("" for none), and `values` its metrics in the order
  * of `QueryTrace.Metrics`. */
final case class StageRow(stage: Int, name: String, group: String, values: Vector[Long]) {

  def apply(metric: String): Long = values(QueryTrace.Metrics.indexOf(metric))
}

/** What a trace saw since the previous snapshot: one row per stage that
  * ended a task, by stage id, and the jobs started per job group ("" for
  * jobs without one). `drained` is false when the listener bus could not
  * be emptied first, so the window may miss its last events. */
final case class TraceWindow(stages: Seq[StageRow], jobs: Map[String, Int], drained: Boolean) {

  /** Every metric over all stage rows, whatever their job group. */
  lazy val totals: Map[String, Long] = QueryTrace.Metrics.zip(QueryTrace.sum(stages.map(_.values))).toMap
}

/** The engine's one metrics listener: per-stage task metrics and job
  * counts per job group, read and zeroed window by window. Install it
  * with `QueryTrace.of`, which adds at most one to a `SparkContext`. */
final class QueryTrace private (sc: SparkContext) extends SparkListener {

  // callsite and job group of each running stage, kept across windows
  private val submitted = mutable.HashMap.empty[Int, (String, String)]
  private val rows = mutable.TreeMap.empty[Int, StageRow]
  private val jobs = mutable.HashMap.empty[String, Int]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobs(g) = jobs.getOrElse(g, 0) + 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted(e.stageInfo.stageId) = (e.stageInfo.name.takeWhile(_ != '\n'), group(e.properties))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    submitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      val (name, g) = submitted.getOrElse(e.stageId, ("", ""))
      val row = rows.getOrElse(e.stageId, StageRow(e.stageId, name, g, QueryTrace.sum(Nil)))
      rows(e.stageId) = row.copy(values = QueryTrace.sum(Seq(row.values, QueryTrace.task(e.taskMetrics))))
    }
  }

  /** Everything since the previous snapshot, after waiting for the
    * listener bus to deliver the events already posted; zeroes the
    * window. A bus that does not empty in time (or belongs to a stopped
    * context) gives `drained = false` and a warning on stderr. */
  def snapshotAndReset(): TraceWindow = {
    val drained = try { GraftSparkHooks.drainListenerBus(sc); true } catch {
      case NonFatal(e) => System.err.println(s"WARNING: QueryTrace: listener bus not drained: $e"); false
    }
    synchronized {
      val w = TraceWindow(rows.values.toSeq, jobs.toMap, drained)
      rows.clear()
      jobs.clear()
      w
    }
  }
}

object QueryTrace {

  /** Each metric and its value for one task. The `max_*` metrics keep
    * the largest task's value (the slowest task, the largest shuffle
    * read); the others are summed. */
  private val perTask: Seq[(String, TaskMetrics => Long)] = Seq(
    "tasks" -> (_ => 1L),
    "run_ms" -> (_.executorRunTime),
    "cpu_ns" -> (_.executorCpuTime),
    "max_run_ms" -> (_.executorRunTime),
    "gc_ms" -> (_.jvmGCTime),
    "shuffle_read_b" -> (_.shuffleReadMetrics.totalBytesRead),
    "shuffle_read_records" -> (_.shuffleReadMetrics.recordsRead),
    "max_shuffle_read_records" -> (_.shuffleReadMetrics.recordsRead),
    "shuffle_write_b" -> (_.shuffleWriteMetrics.bytesWritten),
    "spill_mem_b" -> (_.memoryBytesSpilled),
    "spill_disk_b" -> (_.diskBytesSpilled),
    "result_ser_ms" -> (_.resultSerializationTime),
    "output_records" -> (_.outputMetrics.recordsWritten))

  val Metrics: Seq[String] = perTask.map(_._1)

  /** Rows' (or tasks') metrics as one row's. */
  private[tools] def sum(rows: Seq[Vector[Long]]): Vector[Long] =
    rows.foldLeft(Vector.fill(Metrics.size)(0L)) { (a, b) =>
      Metrics.indices.map(i => if (Metrics(i).startsWith("max_")) math.max(a(i), b(i)) else a(i) + b(i))
        .toVector
    }

  private def task(m: TaskMetrics): Vector[Long] = perTask.map(_._2(m)).toVector

  // a JVM runs one SparkContext at a time
  private var installed: Option[(SparkContext, QueryTrace)] = None

  /** The trace listening on `sc`, added to its listener bus on first use. */
  def of(sc: SparkContext): QueryTrace = synchronized {
    if (!installed.exists(_._1 eq sc)) {
      installed = Some(sc -> new QueryTrace(sc))
      sc.addSparkListener(installed.get._2)
    }
    installed.get._2
  }
}
