package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.align.AlignmentStore
import graft.core.Graft
import graft.graph.{EdgeGraph, MotifEdge, MotifQuery}
import graft.operators.{Coverage, IntervalJoin}

/** Closed-loop benchmark: one client on one thread sends
  * the next operation only after the previous one has completed.
  *
  * Usage: `graftbench.Main plan.json result.json`. The plan (written by
  * run.py) names the workload, the generated input files, the untimed
  * set-up pass and the seeded cycles of operations. The result holds the
  * set-up timings, one record per timed operation (latency, row count,
  * hash), process CPU, peak RSS and the environment; with tracing, the
  * spans and their Spark job counters too. Checking the records against
  * the DuckDB references is run.py's job.
  */
object Main {

  private val mapper = new ObjectMapper()

  /** The generated input files of a session, and the alignment stores
    * over them. */
  final class Inputs(spark: SparkSession, dir: String, files: Seq[String]) {
    val frames: Map[String, DataFrame] =
      files.map(f => f -> spark.read.parquet(s"$dir/$f")).toMap
    lazy val motifEdges: DataFrame = frames("motif_edges.parquet")
    lazy val graph: EdgeGraph = new EdgeGraph(frames("graph_edges.parquet"))
    val stores: Map[String, AlignmentStore] = files.collect {
      case f if f.startsWith("store_") =>
        f.stripPrefix("store_").stripSuffix(".parquet") -> new AlignmentStore(frames(f))
    }.toMap
  }

  /** One operation in flight: times its calls and runs its action. */
  final class OpCtx(spark: SparkSession, tracer: Option[Tracer], root: Option[Span]) {
    var lastFn = ""

    def call[T](fn: String)(body: => T): T = {
      val s = tracer.map(_.open(root.get.id, root.get.op, "build", fn))
      s.foreach(sp => spark.sparkContext.setJobGroup(sp.id.toString, fn, false))
      try body
      finally {
        spark.sparkContext.clearJobGroup()
        s.foreach(sp => tracer.get.close(sp))
        lastFn = fn
      }
    }

    def span: Option[Span] = tracer.flatMap(_.spans.lastOption)

    /** The action: row count plus order-independent hash of the result. */
    def act(df: DataFrame): (Long, Long) = {
      val s = tracer.map(_.open(root.get.id, root.get.op, "run", lastFn))
      s.foreach(sp => spark.sparkContext.setJobGroup(sp.id.toString, lastFn, false))
      try {
        val cols = df.columns.sorted.map(c => coalesce(col(s"`$c`").cast("string"), lit("\\N")))
        val h = conv(substring(md5(concat_ws("|", cols.toIndexedSeq: _*)), 1, 8), 16, 10)
          .cast("long")
        val agg = df.agg(count(lit(1)), coalesce(sum(h), lit(0L)))
        val r = agg.head()
        if (lastFn == "align.AlignmentStore.slice")
          s.foreach(_.extra("indexed") = planNodes(agg.queryExecution.executedPlan)
            .exists(_.isInstanceOf[graft.plans.IndexedIntervalJoinExec]))
        (r.getLong(0), r.getLong(1))
      } finally {
        spark.sparkContext.clearJobGroup()
        s.foreach(sp => tracer.get.close(sp))
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: planNodes(a.executedPlan)
    case q: QueryStageExec => p +: planNodes(q.plan)
    case _ => p +: p.children.flatMap(planNodes)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => Files.delete(x))

  private def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def runOp(spark: SparkSession, in: Inputs, v: JsonNode, ctx: OpCtx,
                    persistDir: Path): (Long, Long) = {
    def int(k: String) = v.get(k).asInt
    def frame(k: String) = in.frames(v.get(k).asText)
    lazy val store = in.stores(v.get("store").asText)
    v.get("op").asText match {
      case "cc" => ctx.act(ctx.call("graph.EdgeGraph.connectedComponents")(
        in.graph.connectedComponents(spark)))
      case "sp" =>
        val lm = v.get("landmarks").elements.asScala.map(_.asLong).toSeq
        ctx.act(ctx.call("graph.EdgeGraph.shortestPaths")(
          in.graph.shortestPaths(spark, lm, maxDist = int("max_dist"))))
      case "lpa" => ctx.act(ctx.call("graph.EdgeGraph.labelPropagation")(
        in.graph.labelPropagation(spark, rounds = int("rounds"))))
      case "kcore" => ctx.act(ctx.call("graph.EdgeGraph.kCore")(
        in.graph.kCore(spark, k = int("k"))))
      case "scc" => ctx.act(ctx.call("graph.EdgeGraph.stronglyConnected")(
        in.graph.stronglyConnected(spark, numIter = int("iters"))))
      case "shared" => ctx.act(ctx.call("graph.MotifQuery.sharedNeighbors")(
        MotifQuery.sharedNeighbors(in.motifEdges, chunkSize = int("chunk_size"))))
      case "sketch" => ctx.act(ctx.call("graph.MotifQuery.sharedNeighborsSketch")(
        MotifQuery.sharedNeighborsSketch(in.motifEdges, k = int("k"), bands = int("bands"),
          hasher = "md5")))
      case "find" => ctx.act(ctx.call("graph.MotifQuery.find")(
        MotifQuery.find(Seq(MotifEdge("s1", "t", in.motifEdges),
          MotifEdge("s2", "t", in.motifEdges, Some(col("s1") < col("s2")))))))
      case "slice" => ctx.act(ctx.call("align.AlignmentStore.slice")(
        store.slice(frame("queries"), maxIndexedKeyRows = v.get("indexed_cap").asLong)))
      case "hop2" => ctx.act(ctx.call("align.AlignmentStore.slice2hopMerged")(
        store.slice2hopMerged(frame("queries"))))
      case "ijoin" =>
        val cols = store.blocks.columns.toSeq ++ Seq("p_src_id", "p")
        ctx.act(ctx.call("operators.IntervalJoin.shuffledIndexJoin")(
          IntervalJoin.shuffledIndexJoin(store.blocks, frame("points"),
            "src_id", "src_start", "src_end", "p").toDF(cols: _*)))
      case "cov" => ctx.act(ctx.call("operators.Coverage.stats")(
        Coverage.stats(store.blocks, Seq("src_id"), "src_start", "src_end")))
      case "write" =>
        val path = persistDir.toString
        ctx.call("align.AlignmentStore.persist")(store.persist(path, int("buckets")))
        ctx.span.foreach(_.extra("bytes") = treeBytes(persistDir))
        val loaded = ctx.call("align.AlignmentStore.load")(AlignmentStore.load(spark, path))
        ctx.act(ctx.call("align.AlignmentStore.slice")(
          loaded.slice(frame("queries"), maxIndexedKeyRows = v.get("indexed_cap").asLong)))
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }
  }

  private def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val plan = mapper.readTree(new java.io.File(args(0)))
    val variants = plan.get("variants")
    val files = plan.get("files").elements.asScala.map(_.asText).toSeq
    val work = Paths.get(plan.get("work").asText)
    val trace = plan.get("trace").asBoolean
    val cycles = plan.get("cycles").elements.asScala
      .map(_.elements.asScala.map(_.asText).toIndexedSeq).toIndexedSeq
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var opId = 0L

    def record(spark: SparkSession, in: Inputs, id: String, cycle: Int,
               tracer: Option[Tracer]): java.util.Map[String, Any] = {
      opId += 1
      val v = variants.get(id)
      val root = tracer.map(_.open(0L, opId, "op", v.get("op").asText))
      val ctx = new OpCtx(spark, tracer, root)
      val persistDir = work.resolve(s"persist/op$opId")
      val t0 = System.nanoTime()
      val res = try Right(runOp(spark, in, v, ctx, persistDir))
                catch { case e: Throwable => Left(e.toString.take(500)) }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op $opId%d cycle $cycle%d $id%s ${dt}%.3f s ${res.fold(identity, _.toString)}%s")
      root.foreach(sp => tracer.get.close(sp))
      deleteTree(persistDir)
      res match {
        case Right((n, h)) => jmap("v" -> id, "cycle" -> cycle, "t" -> dt, "rows" -> n, "hash" -> h)
        case Left(err) => jmap("v" -> id, "cycle" -> cycle, "t" -> dt, "err" -> err)
      }
    }

    // --- set-up, timed once and cold: JVM start, Graft.session, the
    // inputs, then one untimed pass of every operation type, which pays
    // first-pass codegen and JIT ---
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val spark = Graft.session("perfbench")
    val sessionEnd = System.nanoTime()
    val in = new Inputs(spark, plan.get("inputs").asText, files)
    val inputsEnd = System.nanoTime()
    val setupRecords = new java.util.ArrayList[Any]()
    plan.get("setup").elements.asScala.foreach(id =>
      setupRecords.add(record(spark, in, id.asText, -1, None)))
    val setupEnd = System.nanoTime()
    val setup = jmap("jvm_boot_s" -> bootS, "session_s" -> (sessionEnd - mainNs) / 1e9,
      "inputs_s" -> (inputsEnd - sessionEnd) / 1e9, "pass_s" -> (setupEnd - inputsEnd) / 1e9,
      "total_s" -> (bootS + (setupEnd - mainNs) / 1e9))
    val afterSetup = JvmSample.now()

    // --- timed closed loop over whole cycles ---
    val seconds = plan.get("seconds").asDouble
    val tracer = if (trace) Some(new Tracer) else None
    val listener = new JobListener
    val records = new java.util.ArrayList[Any]()
    if (trace) spark.sparkContext.addSparkListener(listener)
    val cpu0 = os.getProcessCpuTime
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var cycle = 0
    // With tracing, cycles run in pairs over the same variants, and every
    // other operation is traced, alternating within the pair: each
    // operation is measured traced and untraced, and warm-up from one
    // cycle to the next weighs on both sides alike.
    while (elapsed < seconds || (trace && cycle % 2 == 1)) {
      val ids = cycles((if (trace) cycle / 2 else cycle) % cycles.size)
      ids.zipWithIndex.foreach { case (id, pos) =>
        val traced = trace && (pos + cycle) % 2 == 0
        val r = record(spark, in, id, cycle, if (traced) tracer else None)
        r.put("pos", pos)
        r.put("traced", traced)
        records.add(r)
      }
      cycle += 1
    }
    if (trace) {
      org.apache.spark.graft.GraftSparkHooks.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val loopS = elapsed
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val rss = vmHwmMb()

    val rt = ManagementFactory.getRuntimeMXBean
    val env = jmap(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> rt.getInputArguments,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "master" -> spark.sparkContext.master,
      "session_conf" -> new java.util.TreeMap[String, String](spark.conf.getAll.asJava))
    val out = jmap(
      "env" -> env,
      "setup" -> setup,
      "setup_records" -> setupRecords,
      "jit_compile_s" -> afterSetup.jitMs / 1000.0,
      "code_cache_mb" -> afterSetup.codeCacheBytes / 1e6,
      "loop_s" -> loopS, "cpu_s" -> cpuS, "rss_peak_mb" -> rss,
      "cycles" -> cycle, "records" -> records)
    tracer.foreach { t =>
      val spans = new java.util.ArrayList[Any]()
      t.spans.foreach { s =>
        val m = jmap("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
          "name" -> s.name, "start_s" -> (s.startNs - loop0) / 1e9,
          "end_s" -> (s.endNs - loop0) / 1e9,
          "jit_ms" -> (s.jvm1 - s.jvm0).jitMs, "gc_ms" -> (s.jvm1 - s.jvm0).gcMs,
          "code_cache_b" -> (s.jvm1 - s.jvm0).codeCacheBytes)
        listener.group(s.id.toString).foreach { case (k, v) => m.put(k, v) }
        s.extra.foreach { case (k, v) => m.put(k, v) }
        spans.add(m)
      }
      mapper.writeValue(new java.io.File(args(1) + ".spans.json"), spans)
      out.put("listener", jmap(
        "totals" -> jmap(listener.Fields.zip(listener.totals): _*),
        "unattributed" -> jmap(listener.group(listener.Unattributed).toSeq: _*),
        "stage_tasks" -> listener.stageTasks, "stage_cpu_ns" -> listener.stageCpuNs))
    }
    mapper.writeValue(new java.io.File(args(1)), out)
    spark.stop()
    sys.exit(0)
  }
}
