package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** JVM counters sampled at every span boundary. */
final case class JvmSample(jitMs: Long, gcMs: Long, codeCacheBytes: Long) {
  def -(o: JvmSample): JvmSample =
    JvmSample(jitMs - o.jitMs, gcMs - o.gcMs, codeCacheBytes - o.codeCacheBytes)
}

object JvmSample {
  private val compiler = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val codeHeaps = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getName.startsWith("CodeHeap"))

  def now(): JvmSample = JvmSample(
    compiler.getTotalCompilationTime,
    gcs.map(g => math.max(0L, g.getCollectionTime)).sum,
    codeHeaps.map(_.getUsage.getUsed).sum)
}

/** One span. `kind` is "op" for an operation's root, "build" for a call
  * into an engine function and "run" for the action on its result; the
  * Spark jobs a build or run span starts carry its id as job group. */
final class Span(val id: Long, val parent: Long, val op: Long, val kind: String,
                 val name: String, val startNs: Long, val jvm0: JvmSample) {
  var endNs: Long = -1L
  var jvm1: JvmSample = jvm0
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** Task and job counters per job group, from a SparkListener. Stage
  * sums are kept apart from the task sums so the two can be checked
  * against each other. */
final class JobListener extends SparkListener {
  val Fields: Seq[String] = Seq("jobs", "tasks", "task_cpu_ns", "shuffle_write_b",
    "shuffle_read_b", "spill_b", "result_ser_ms", "sched_delay_ms", "task_gc_ms")
  private val ix = Fields.zipWithIndex.toMap
  val Unattributed = "-"

  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups: mutable.HashMap[String, Array[Long]] = mutable.HashMap.empty
  val totals: Array[Long] = new Array[Long](Fields.size)
  var stageTasks = 0L
  var stageCpuNs = 0L

  private def add(g: String, f: String, v: Long): Unit = {
    groups.getOrElseUpdate(g, new Array[Long](Fields.size))(ix(f)) += v
    totals(ix(f)) += v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Unattributed)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    add(g, "jobs", 1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, Unattributed)
    val m = e.taskMetrics
    val info = e.taskInfo
    add(g, "tasks", 1L)
    if (m != null) {
      add(g, "task_cpu_ns", m.executorCpuTime)
      add(g, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add(g, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add(g, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, "result_ser_ms", m.resultSerializationTime)
      add(g, "task_gc_ms", m.jvmGCTime)
      // the Spark UI's scheduler delay: task wall minus the parts the
      // executor accounts for
      val gettingResult =
        if (info.gettingResultTime > 0L) info.finishTime - info.gettingResultTime else 0L
      add(g, "sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTasks += e.stageInfo.numTasks
    stageCpuNs += e.stageInfo.taskMetrics.executorCpuTime
  }

  def group(g: String): Map[String, Long] = synchronized {
    val a = groups.getOrElse(g, new Array[Long](Fields.size))
    Fields.zip(a).toMap
  }
}

/** In-memory spans, written out when the run ends. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 1L

  def open(parent: Long, op: Long, kind: String, name: String): Span = {
    val s = new Span(nextId, parent, op, kind, name, System.nanoTime(), JvmSample.now())
    nextId += 1
    spans += s
    s
  }

  def close(s: Span): Unit = {
    s.jvm1 = JvmSample.now()
    s.endNs = System.nanoTime()
  }
}
