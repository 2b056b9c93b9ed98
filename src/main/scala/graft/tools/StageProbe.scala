package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.SparkEntry

/** Per-stage task-count / CPU / wall breakdown for selected queries —
  * pins WHERE a query's wall goes when the suite-level numbers say
  * "CPU-bound but serial" (e.g. AQE coalescing a compute-dense,
  * byte-small stage down to one task). Prints, per stage: task count,
  * summed run/CPU ms, and the max single task (the critical path).
  *
  * Usage: runMain graft.tools.StageProbe <dir> <query...>
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("d14_lsh_recall")
    val cpus = graft.core.Graft.envCpus
    val spark = graft.core.Graft.session("stage-probe", cores = cpus)
    case class St(var n: Int = 0, var run: Long = 0L, var cpu: Long = 0L,
                  var maxRun: Long = 0L, var rows: Long = 0L,
                  var name: String = "")
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val s = stages.getOrElseUpdate(e.stageId, St())
        val m = e.taskMetrics
        if (m != null) {
          s.n += 1; s.run += m.executorRunTime
          s.cpu += m.executorCpuTime / 1000000L
          s.maxRun = math.max(s.maxRun, m.executorRunTime)
          s.rows += m.outputMetrics.recordsWritten
        }
      }
      // stage name (first line of the callsite) — maps a stage id back
      // to the operator that owns it
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          stages.getOrElseUpdate(e.stageInfo.stageId, St()).name =
            e.stageInfo.name.takeWhile(_ != '\n').take(60)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.read.parquet(s"$dir/lineitem.parquet").count()
    for (n <- names) {
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      try org.apache.spark.graft.GraftSparkHooks.drainListenerBus(spark.sparkContext)
      catch { case _: Throwable => () }
      println(f"\n=== $n wall=$wall%.2f s ===")
      println(f"${"stage"}%6s ${"tasks"}%6s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"max_ms"}%7s name")
      stages.toSeq.sortBy(-_._2.run).take(20).foreach { case (id, s) =>
        println(f"$id%6d ${s.n}%6d ${s.run}%8d ${s.cpu}%8d ${s.maxRun}%7d ${s.name}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
