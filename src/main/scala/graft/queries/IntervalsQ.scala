package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.align.AlignmentStore
import graft.core.Graft.table
import graft.core.Intervals
import graft.operators.{Coverage, IntervalJoin, Sessionize}

/** Interval-engine operators mapped onto the `events` table.
  *
  * The testdata has no genomic alignments, so interval inputs are
  * DERIVED deterministically from events (identically in the oracle
  * SQL): "error" events open a window of 2-12 minutes; "click" events
  * are points; a synthetic pairwise alignment table maps each error
  * window onto a dest axis. This exercises the real operators —
  * binned interval join (J1), slice+clip with orientation-aware dest
  * adjustment (J2/P6/F8), per-target merge (A1/J3), gap-rule
  * sessionization (A2), sweep-line coverage (A3), longest run (A7),
  * interval algebra (J12) — against SQL oracles.
  */
object IntervalsQ {

  /** events with `ts` normalized to epoch NANOS as a Long, whichever
    * of the two encodings the table carries. A parquet
    * TIMESTAMP(NANOS) ts arrives as that Long under
    * `spark.sql.legacy.parquet.nanosAsLong`, which `Graft.session`
    * sets when it builds the session (measured on 4.1.2: setting it
    * at runtime does NOT change schema inference). A TIMESTAMP(MICROS)
    * ts — the sf0.001–sf0.1 test tables are written that way, not
    * adjusted to UTC — reads as TIMESTAMP_NTZ under every session, so
    * both branches are live; this one renormalizes via `unix_micros`
    * ×1000 — exact integer math (floor(floor(n/1e3)·1e3/1e9) =
    * floor(n/1e9), so every downstream `div 1000000000` agrees
    * between the two branches). Double arithmetic would lose
    * precision at 1e18; none is used.
    */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    val df = table(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast("timestamp")) * 1000L).cast("long"))
    }
  }

  private def sec(c: String) = expr(s"$c div 1000000000")

  /** error-event windows: [ws, ws + 120 + (event_id%10)*60) per user. */
  private def errorWindows(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("wnd_id"),
        sec("ts").as("ws"),
        (sec("ts") + lit(120L) + (col("event_id") % 10) * 60L).as("we"))

  /** Synthetic pairwise alignment blocks derived from error windows. */
  private def alignBlocks(s: SparkSession, dir: String): DataFrame =
    errorWindows(s, dir).select(
      concat(lit("u"), col("user_id").cast("string")).as("src_id"),
      col("ws").as("src_start"), col("we").as("src_end"),
      concat(lit("d"), (col("wnd_id") % 20).cast("string")).as("dest_id"),
      ((col("wnd_id") % 500) * 1000L).as("dest_start"),
      ((col("wnd_id") % 500) * 1000L + (col("we") - col("ws"))).as("dest_end"),
      when(col("wnd_id") % 3 === 0, -1).otherwise(1).as("dest_ori"),
      col("wnd_id").as("block_id"))

  val defs: Map[String, Q] = Map(
    // J1: binned interval×point overlap join (NCList lookup analog).
    "j1_interval_join" -> { (s, dir) =>
      val clicks = events(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), sec("ts").as("p"))
      IntervalJoin.binnedPoints(errorWindows(s, dir), clicks,
          Seq("user_id"), "ws", "we", "p", 3600L)
        .groupBy("user_id", "wnd_id")
        .agg(count(lit(1)).as("n_clicks"), min("p").as("first_click"))
        .orderBy("user_id", "wnd_id")
    },

    // J1 via the broadcast interval INDEX (NCList-class O(log n + k)
    // probes, no explode/shuffle of the point side) — same semantics
    // and oracle as j1_interval_join, different physical path.
    "j1b_indexed_join" -> { (s, dir) =>
      val wnd = errorWindows(s, dir)
        .select(col("user_id"), col("ws"), col("we"), col("wnd_id"))
      val clicks = events(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), sec("ts").as("p"))
      IntervalJoin.broadcastIndexJoin(wnd, clicks,
          "user_id", "ws", "we", "wnd_id", "p")
        .groupBy("user_id", "wnd_id")
        .agg(count(lit(1)).as("n_clicks"), min("p").as("first_click"))
        .orderBy("user_id", "wnd_id")
    },

    // J1 via the custom physical operator (IndexedIntervalJoin
    // LogicalPlan → SparkStrategy → SparkPlan): per-task per-key
    // interval index probe, no bin explode, no broadcast limit.
    // Same semantics and oracle as j1; third physical path.
    "j1c_shuffled_index" -> { (s, dir) =>
      val wnd = errorWindows(s, dir)
        .select(col("user_id"), col("ws"), col("we"), col("wnd_id"))
      val clicks = events(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), sec("ts").as("p"))
      IntervalJoin.shuffledIndexJoin(wnd, clicks, "user_id", "ws", "we", "p")
        .toDF("user_id", "ws", "we", "wnd_id", "u2", "p")
        .groupBy("user_id", "wnd_id")
        .agg(count(lit(1)).as("n_clicks"), min("p").as("first_click"))
        .orderBy("user_id", "wnd_id")
    },

    // J2+P6: alignment slice — overlap join vs per-user query window,
    // clip to window, orientation-aware dest coordinate shift.
    "j2_slice_clip" -> { (s, dir) =>
      val store = new AlignmentStore(alignBlocks(s, dir))
      val queries = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id").as("q_id"),
          concat(lit("u"), col("user_id").cast("string")).as("src_id"),
          (col("t0") + 5L * 86400L).as("q_start"),
          (col("t0") + 15L * 86400L).as("q_end"))
      store.slice(queries, binWidth = 172800L, indexed = Some(false)).orderBy("q_id", "block_id")
    },

    // J2 complete: two-hop slice through the shared axis — the
    // bidirectional store answers u_i-vs-u_j queries only via the d*
    // axis both are aligned to (cnestedlist.pyx:498-533).
    "j2b_twohop" -> { (s, dir) =>
      val blocks = alignBlocks(s, dir)
      val store = new AlignmentStore(
        blocks.unionByName(new AlignmentStore(blocks).inverse.blocks))
      val queries = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id").as("q_id"),
          concat(lit("u"), col("user_id").cast("string")).as("src_id"),
          (col("t0") + 5L * 86400L).as("q_start"),
          (col("t0") + 15L * 86400L).as("q_end"))
      store.slice2hop(queries, binWidth = 172800L, axisBinWidth = 8192L)
        .orderBy("q_id", "block1_id", "block2_id")
    },

    // J2+A1 fused: two-hop slice with the bounds-merge below the
    // second hop (the reference's mergeSeq-after-hop-2 consumer
    // shape, cnestedlist.pyx:537-539) — per-(query, target, ori)
    // spans come out without materializing the quadratic pair set
    // j2b returns. This store is per-user sequences (groups ≈ pairs,
    // lane multiplicity 1.3-1.4 at every v2 SF), so the AUTO gate
    // (mapSideMerge = None, r16) places the merge reduce-side:
    // map-side partials would hold one hash entry per PAIR and
    // cascade into sort-fallback spill (36 GB at v2sf5 — DRIFT_r15
    // §1). j2e runs the same auto gate on the dense store, where it
    // lands map-side because partials collapse.
    "j2d_twohop_merged" -> { (s, dir) =>
      val blocks = alignBlocks(s, dir)
      val store = new AlignmentStore(
        blocks.unionByName(new AlignmentStore(blocks).inverse.blocks))
      val queries = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id").as("q_id"),
          concat(lit("u"), col("user_id").cast("string")).as("src_id"),
          (col("t0") + 5L * 86400L).as("q_start"),
          (col("t0") + 15L * 86400L).as("q_end"))
      store.slice2hopMerged(queries, binWidth = 172800L, axisBinWidth = 8192L)
        .orderBy("q_id", "dest_id", "dest_ori")
    },

    // J2+A1 fused on the GENOME-SHAPED store — the reference's actual
    // NLMSA regime (few sequences, dense per-pair blocks: ~25
    // chromosomes, millions of blocks per pair — cnestedlist.pyx NLMSA
    // class doc): sequences here are u(user%256), so per-(query,
    // target) multiplicity GROWS with scale (21 pairs/group at v2sf1)
    // and the fused merge collapses map-side — merged output exp ~1.1
    // where the pair set is ~2.0. j2d gates the same operator on the
    // many-sequence shape where the merge cannot collapse; this gates
    // the shape it exists for. Queries sampled user%7=0 (a production
    // query set is bounded; unsampled, the pair mass at v2sf5 is ~4B).
    "j2e_twohop_merged_dense" -> { (s, dir) =>
      val blocks = errorWindows(s, dir).select(
        concat(lit("u"), (col("user_id") % 256).cast("string")).as("src_id"),
        col("ws").as("src_start"), col("we").as("src_end"),
        concat(lit("d"), (col("wnd_id") % 20).cast("string")).as("dest_id"),
        ((col("wnd_id") % 500) * 1000L).as("dest_start"),
        ((col("wnd_id") % 500) * 1000L + (col("we") - col("ws"))).as("dest_end"),
        when(col("wnd_id") % 3 === 0, -1).otherwise(1).as("dest_ori"),
        col("wnd_id").as("block_id"))
      val store = new AlignmentStore(
        blocks.unionByName(new AlignmentStore(blocks).inverse.blocks))
      val queries = events(s, dir)
        .filter(col("user_id") % 7 === 0)
        .groupBy(col("user_id"))
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id").as("q_id"),
          concat(lit("u"), (col("user_id") % 256).cast("string")).as("src_id"),
          (col("t0") + 5L * 86400L).as("q_start"),
          (col("t0") + 15L * 86400L).as("q_end"))
      store.slice2hopMerged(queries, binWidth = 172800L, axisBinWidth = 8192L)
        .orderBy("q_id", "dest_id", "dest_ori")
    },

    // J2 via the custom physical operator: identical slice semantics
    // and oracle, the overlap join planned as IndexedIntervalJoinExec.
    "j2c_slice_indexed" -> { (s, dir) =>
      val store = new AlignmentStore(alignBlocks(s, dir))
      val queries = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id").as("q_id"),
          concat(lit("u"), col("user_id").cast("string")).as("src_id"),
          (col("t0") + 5L * 86400L).as("q_start"),
          (col("t0") + 15L * 86400L).as("q_end"))
      store.slice(queries, indexed = Some(true)).orderBy("q_id", "block_id")
    },

    // S9/S10: range-bucketed sorted persist → load → slice — the
    // parquet store replacing the NCList binary files must answer the
    // exact same slice as the in-memory blocks (same oracle as j2).
    // Row-group min/max stats on (src_id, src_start) prune the scan.
    "s9b_persist_slice" -> { (s, dir) =>
      val tmp = tmpPath(s, "graft_persist_rt")
      new AlignmentStore(alignBlocks(s, dir)).persist(tmp, buckets = 8)
      val store = AlignmentStore.load(s, tmp)
      val queries = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id").as("q_id"),
          concat(lit("u"), col("user_id").cast("string")).as("src_id"),
          (col("t0") + 5L * 86400L).as("q_start"),
          (col("t0") + 15L * 86400L).as("q_end"))
      store.slice(queries, binWidth = 172800L)
        .select("q_id", "src_id", "src_start", "src_end", "dest_id",
          "dest_start", "dest_end", "dest_ori", "block_id")
        .orderBy("q_id", "block_id")
    },

    // A1/J3: per-target-lane bounds merge (mergeSeq).
    "a1_merge_span" -> { (s, dir) =>
      alignBlocks(s, dir)
        .groupBy("dest_id", "dest_ori")
        .agg(min("dest_start").as("dest_start"), max("dest_end").as("dest_end"),
             count(lit(1)).as("n_blocks"))
        .orderBy("dest_id", "dest_ori")
    },

    // A4: slice split — cut the j2 slice result into subslices per
    // (query, target lane) with a gap rule (split/regions,
    // cnestedlist.pyx:1031-1067).
    "a4_slice_split" -> { (s, dir) =>
      val sliced = defs("j2_slice_clip")(s, dir)
      Sessionize.merge(sliced, Seq("q_id", "dest_id", "dest_ori"),
          "src_start", "src_end", maxGap = 43200L)
        .orderBy("q_id", "dest_id", "dest_ori", "session")
    },

    // A2: gap-rule sessionization of each user's event stream.
    "a2_sessionize" -> { (s, dir) =>
      val pts = events(s, dir)
        .select(col("user_id"), sec("ts").as("p"))
      Sessionize.merge(pts, Seq("user_id"), "p", "p", 1800L)
        .orderBy("user_id", "session")
    },

    // ST10: gap sessionization through Spark's NATIVE session_window
    // operator (the engine-idiomatic alternative to st3's
    // flatMapGroupsWithState: state-store-managed merging sessions,
    // no custom state code). Boundary parity with a2's batch rule is
    // exact: a2 breaks when p > prev_max + 1800, and session_window's
    // merge is boundary-INCLUSIVE (events exactly gap apart merge —
    // measured on the sf0.01 data, user 69's 1801-second delta), so
    // gap = 1800 s is the identical membership predicate.
    // Sessions close in append mode once the watermark (advanced by
    // two far-future sentinels; their own session never closes and is
    // filtered) passes session end + gap; numbering is assigned
    // post-hoc per user by session start — identical to the batch
    // oracle's cumulative-break numbering.
    "st10_session_window" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = events(s, dir)
        .select(col("user_id").cast("long"), sec("ts").cast("long"))
        .as[(Long, Long)].collect()
      val flushT = rows.map(_._2).max + 100000L
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val src = in.toDF().toDF("user_id", "p")
        .select(col("user_id"), col("p"), timestamp_seconds(col("p")).as("ts"))
      val out = src.withWatermark("ts", "1 second")
        .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds"))
        .agg(min("p").as("session_start"), max("p").as("session_end"),
          count(lit(1)).as("n_members"))
        .select("user_id", "session_start", "session_end", "n_members")
      val name = "st10_" + java.util.UUID.randomUUID.toString.replace("-", "")
      // state partitions pinned at 8: MEASURED at sf10 (10M events,
      // one batch) — 8 stores: 158 s engine; 200 volume-scaled
      // stores: 374 s. On one host the per-store fixed cost (RocksDB
      // instance + commit per batch) dominates long before per-store
      // sort volume does; scaling store count is a CLUSTER lever
      // (stores spread across executors), not a single-JVM one.
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(rows.length.toLong)) {
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
          .start()
        try {
          in.addData(rows.toSeq); q.processAllAvailable()
          in.addData(Seq((-1L, flushT))); q.processAllAvailable()
          in.addData(Seq((-1L, flushT + 100000L))); q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      val w = Window.partitionBy("user_id").orderBy("session_start")
      s.table(name).where(col("user_id") >= 0L)
        .withColumn("session", (row_number().over(w) - 1).cast("long"))
        .select("user_id", "session", "session_start", "session_end", "n_members")
        .orderBy("user_id", "session")
    },

    // ST10 A/B TWIN: the identical session result through st3's
    // flatMapGroupsWithState engine instead of the native
    // session_window operator — the measured basis for the
    // production-default choice (BENCH.md "session engines A/B"):
    // the native operator's per-batch state machinery (sort-merge of
    // the store's session list) costs 158 s engine at sf10 where the
    // custom state fold holds single-digit seconds, with identical
    // output. Same oracle as st10.
    "st10b_session_fmgws" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamOps
      implicit val sqlCtx = s.sqlContext
      val rows = events(s, dir)
        .select(col("user_id").cast("long"), sec("ts").cast("long"))
        .as[(Long, Long)].collect()
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamOps.Ev]
      val name = "st10b_" + java.util.UUID.randomUUID.toString.replace("-", "")
      StreamOps.replaySized(s, StreamOps.stateParts(rows.length.toLong)) {
        val q = StreamOps.sessionize(in.toDS(), gapSec = 1800L, timeoutMs = 0L)
          .writeStream.outputMode("append").format("memory").queryName(name)
          .option("checkpointLocation", StreamOps.scratchCheckpoint("st10b"))
          .start()
        try {
          in.addData(rows.toSeq.map { case (u, t) => StreamOps.Ev(u, t) })
          q.processAllAvailable()
          in.addData(rows.map(_._1).distinct.toSeq
            .map(u => StreamOps.Ev(u, StreamOps.FlushAt)))
          q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      val w = Window.partitionBy("user_id").orderBy("session_start")
      s.table(name)
        .withColumn("session", (row_number().over(w) - 1).cast("long"))
        .select(col("user_id"), col("session"), col("session_start"),
          col("session_end"), col("n_events").as("n_members"))
        .orderBy("user_id", "session")
    },

    // A2 complete: full gap-rule merge over the alignment lanes —
    // maxInsert/minInsert on the dest axis split sessions the wide
    // maxGap alone would merge (cnestedlist.pyx:812-845).
    "a2b_gaprule" -> { (s, dir) =>
      new AlignmentStore(alignBlocks(s, dir))
        .groupByIntervals(graft.operators.GapRule(
          maxGap = 7L * 86400L, maxInsert = 150000L, minInsert = -400000L))
        .orderBy("src_id", "dest_id", "dest_ori", "session")
    },

    // A3: sweep-line coverage over each user's error windows.
    "a3_coverage" -> { (s, dir) =>
      Coverage.stats(errorWindows(s, dir), Seq("user_id"), "ws", "we")
        .orderBy("user_id")
    },

    // A3 complete: sourceOnly mask regions under BOTH the absolute
    // (minAligned=2) and fractional (pMinAligned=0.15 of the user's
    // distinct targets) thresholds (cnestedlist.pyx:962-1002).
    "a3b_mask" -> { (s, dir) =>
      // stretch block ends by 2 days so the distinct-target depth has
      // real structure (raw error windows rarely overlap)
      val stretched = alignBlocks(s, dir)
        .withColumn("src_end", col("src_end") + lit(2L * 86400L))
      new AlignmentStore(stretched)
        .groupBySequences(minAligned = 2L, pMinAligned = 0.15, sourceOnly = true)
        .orderBy("src_id", "island")
    },

    // A7: longest run of consecutive active days per user.
    "a7_longest_run" -> { (s, dir) =>
      val days = events(s, dir)
        .select(col("user_id"), floor(sec("ts") / 86400L).as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("island", col("day") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("streak"))
        .orderBy("user_id")
    },

    // ST1: event-time tumbling window aggregation — the batch form of
    // the streaming surface (same library call powers readStream).
    "st1_tumbling_window" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(timestamp_seconds(sec("ts")).as("ts"), col("event_type"), col("value"))
      graft.streaming.StreamOps.tumblingCounts(ev, "ts", "event_type", 3600L)
        .orderBy("wstart", "event_type")
    },

    // ST2: sliding event-time windows (2h window, 1h slide) — each
    // event lands in two windows; batch form of the streaming op.
    "st2_sliding_window" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(timestamp_seconds(sec("ts")).as("ts"), col("event_type"), col("value"))
      graft.streaming.StreamOps.slidingCounts(ev, "ts", "event_type", 7200L, 3600L)
        .orderBy("wstart", "event_type")
    },

    // ST3: the STREAMING sessionizer under the oracle gate — the
    // click stream is replayed through a MemoryStream into
    // StreamOps.sessionize (flatMapGroupsWithState), open sessions are
    // closed deterministically by the flush sentinel (no wall-clock
    // timeout), and the memory-sink result is checked against the
    // batch gaps-and-islands oracle. The driver-side collect here is
    // the stream FEEDER only (a memory source is by definition
    // driver-fed; production uses kafka/files) — sessionization
    // itself runs distributed inside the streaming job.
    "st3_stream_sessionize" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamOps
      implicit val sqlCtx = s.sqlContext
      val evs = events(s, dir).where(col("event_type") === "click")
        .select(col("user_id").cast("long"), sec("ts").cast("long"))
        .as[(Long, Long)].collect()
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamOps.Ev]
      val name = "st3_" + java.util.UUID.randomUUID.toString.replace("-", "")
      StreamOps.replaySized(s, StreamOps.stateParts(evs.length.toLong)) {
        val q = StreamOps.sessionize(in.toDS(), gapSec = 1800L, timeoutMs = 0L)
          .writeStream.outputMode("append").format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
          .start()
        try {
          in.addData(evs.toSeq.map { case (u, t) => StreamOps.Ev(u, t) })
          q.processAllAvailable()
          in.addData(evs.map(_._1).distinct.toSeq.map(u => StreamOps.Ev(u, StreamOps.FlushAt)))
          q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("user_id", "session_start")
    },

    // ST12: the FILE-SOURCE ingest twin of st1 — the production
    // deployment shape every other gated streaming query abstracts
    // behind MemoryStream: `readStream.json(dir)` watches a drop
    // directory, two separate file drops prove incremental discovery
    // (the second lands AFTER the query started), and the tumbling
    // aggregation runs stateful (complete mode) on the same RocksDB
    // state store as the rest of the family. Same oracle SQL as st1:
    // file-fed and memory-fed executions must agree exactly.
    "st12_file_source_window" -> { (s, dir) =>
      import graft.streaming.StreamOps
      val drop = graft.streaming.StreamOps.scratchDir("st12_drop")
      val src = events(s, dir).select(col("event_id"),
        sec("ts").cast("long").as("t"), col("event_type"), col("value"))
      src.where(col("event_id") % 2 === 0)
        .select("t", "event_type", "value").write.mode("append").json(drop)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val name = "st12_" + java.util.UUID.randomUUID.toString.replace("-", "")
      StreamOps.replaySized(s,
          StreamOps.stateParts(table(s, dir, "events").count())) {
        val stream = s.readStream.schema(sch).json(drop)
          .select(timestamp_seconds(col("t")).as("ts"),
            col("event_type"), col("value"))
        val q = StreamOps.tumblingCounts(stream, "ts", "event_type", 3600L)
          .writeStream.outputMode("complete").format("memory").queryName(name)
          .option("checkpointLocation", StreamOps.scratchCheckpoint("st12"))
          .start()
        try {
          q.processAllAvailable()
          // second drop while the query is live: the file index must
          // pick it up and the complete-mode result converge to the
          // full-corpus aggregate
          src.where(col("event_id") % 2 === 1)
            .select("t", "event_type", "value").write.mode("append").json(drop)
          q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("wstart", "event_type")
    },

    // ST13: the STATEFUL production-ingest twin — st3's
    // flatMapGroupsWithState sessionization fed from a FILE SOURCE
    // (`readStream.json` drop directory) on the RocksDB state store:
    // two time-ordered drops prove incremental file discovery feeding
    // LIVE keyed state (the second lands after the query started, and
    // sessions straddling the drop boundary must merge through
    // state), a third drop carries the per-user flush sentinels.
    // This is the query that retires the driver-side MemoryStream
    // feeder from the stateful family's production claim. Same oracle
    // as st3: file-fed and memory-fed executions agree exactly.
    "st13_file_source_sessionize" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamOps
      val drop = graft.streaming.StreamOps.scratchDir("st13_drop")
      val clicks = events(s, dir).where(col("event_type") === "click")
        .select(col("user_id").cast("long").as("user_id"),
          sec("ts").cast("long").as("sec"))
      val mm = clicks.agg(min("sec"), max("sec")).head
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      clicks.where(col("sec") <= mid).write.mode("append").json(drop)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sec",
          org.apache.spark.sql.types.LongType)))
      val name = "st13_" + java.util.UUID.randomUUID.toString.replace("-", "")
      StreamOps.replaySized(s,
          StreamOps.stateParts(table(s, dir, "events").count())) {
        val stream = s.readStream.schema(sch).json(drop).as[StreamOps.Ev]
        val q = StreamOps.sessionize(stream, gapSec = 1800L, timeoutMs = 0L)
          .writeStream.outputMode("append").format("memory").queryName(name)
          .option("checkpointLocation", StreamOps.scratchCheckpoint("st13"))
          .start()
        try {
          q.processAllAvailable()
          clicks.where(col("sec") > mid).write.mode("append").json(drop)
          q.processAllAvailable()
          clicks.select("user_id").distinct()
            .select(col("user_id"), lit(StreamOps.FlushAt).as("sec"))
            .write.mode("append").json(drop)
          q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("user_id", "session_start")
    },

    // ST4: the stream-static interval join under the oracle gate —
    // clicks replay as the stream side; the static side is the
    // error-window table; StreamOps.pointInIntervalStream broadcast-
    // joins per micro-batch with no stream state. Same point-probe
    // semantics as j1, now proven on a real streaming execution
    // (previously spec-only).
    "st4_stream_static_join" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val clicks = events(s, dir).where(col("event_type") === "click")
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          sec("ts").cast("long"))
        .as[(Long, Long, Long)].collect()
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val name = "st4_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val joined = graft.streaming.StreamOps.pointInIntervalStream(
          in.toDF().toDF("event_id", "user_id", "t"),
          errorWindows(s, dir), "user_id", "t", "ws", "we")
        .select("event_id", "user_id", "t", "wnd_id", "ws", "we")
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation",
          graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
        .start()
      try { in.addData(clicks.toSeq); q.processAllAvailable() } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      s.table(name).orderBy("event_id", "wnd_id")
    },

    // ST15 (r18, VERDICT r17 #2): the STREAMING salted join riding
    // the buckets = 0 auto path through a DECLARED skew prior. A
    // stream cannot be sampled at plan time, so the skew model takes
    // the hot key's share from a static bootstrap of the same source
    // (here the batch table; in production, yesterday's partition)
    // via Salt.declareHotShare. event_type is the genuinely hot key
    // (share ~ 0.20 at every SF — the same measurement the batch twin
    // x21 makes in-plan), so the declared prior solves to the same 16
    // buckets at 32 shuffle partitions; the dim replicates x buckets
    // per micro-batch, the join itself is stateless stream-static,
    // and the output — and oracle — is the plain equi-join, identical
    // at any bucket count.
    "st15_stream_salted_join" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.Salt
      implicit val sqlCtx = s.sqlContext
      val ev = events(s, dir).select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      Salt.declareHotShare(s, Seq("event_type"),
        Salt.heavyHitterShare(ev, Seq("event_type"), fraction = 0.1))
      val dim = ev.select("event_type").distinct()
        .withColumn("w", length(col("event_type")).cast("long"))
      val rows = ev.as[(Long, String, Double)].collect()
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Double)]
      val name = "st15_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val joined = Salt.saltedJoin(
          in.toDF().toDF("event_id", "event_type", "value"),
          dim.hint("shuffle_hash"), Seq("event_type"), col("event_id"))
        .select("event_id", "event_type", "value", "w")
      val q = joined.writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation",
          graft.streaming.StreamOps.scratchCheckpoint("st15"))
        .start()
      try { in.addData(rows.toSeq); q.processAllAvailable() }
      finally { graft.streaming.StreamMeter.record(q); q.stop() }
      s.table(name).orderBy("event_id")
    },

    // ST5: stream-STREAM interval join — clicks and purchases replay
    // as two independent streams; each click matches the purchases by
    // the same user in the preceding 10 minutes (the attribution
    // join). Both sides watermarked + a time-range predicate, so the
    // state for BOTH buffers is evictable — the unbounded-run shape.
    // Inner-join rows emit in the batch they match, so the complete
    // batch-equal result the oracle checks is feed-order independent.
    // The replay feeds TIME-ORDERED WAVES (both sides sliced at the
    // same time cuts), because that is what makes the watermark DO
    // anything: a single feed-everything batch never advances the
    // watermark mid-batch, state never evicts, and every probe scans
    // the user's entire history — measured engine-time exponent 1.58
    // across v2sf0.1/1/5 (DRIFT_r13 §4) for what is a linear join
    // under the production arrival order, where per-probe state is
    // bounded by the horizon's content.
    "st5_stream_stream_join" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      def side(t: String) = events(s, dir).where(col("event_type") === t)
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          sec("ts").cast("long"))
        .as[(Long, Long, Long)].collect()
      val cin = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val pin = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val clicks = cin.toDF().toDF("click_id", "user_id", "c_t")
        .withColumn("c_ts", col("c_t").cast("timestamp"))
      val purchases = pin.toDF().toDF("purchase_id", "user_id", "p_t")
        .withColumn("p_ts", col("p_t").cast("timestamp"))
      val name = "st5_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val joined = graft.streaming.StreamOps.intervalJoinStreams(
          clicks, purchases, "user_id", "c_ts", "p_ts",
          horizon = "30 minutes", windowSec = 600L)
        .select("click_id", "purchase_id", "user_id", "c_t", "p_t")
      val cs = side("click")
      val ps = side("purchase")
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(cs.length.toLong + ps.length),
          graft.streaming.StreamOps.smallStateProvider) { // churn-heavy, tiny live state (see smallStateProvider)
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
          .start()
        try {
          val all = cs.map(_._3) ++ ps.map(_._3)
          val k = graft.streaming.StreamOps.waveCount(all.length.toLong)
          for ((lo, hi) <- graft.streaming.StreamOps.timeCuts(all, k)) {
            cin.addData(cs.filter(r => r._3 >= lo && r._3 < hi).toSeq)
            pin.addData(ps.filter(r => r._3 >= lo && r._3 < hi).toSeq)
            q.processAllAvailable()
          }
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("click_id", "purchase_id")
    },

    // ST5b: st5's PRODUCTION-INGEST twin — both join sides fed from
    // FILE SOURCES (two `readStream.json` drop directories) on the
    // RocksDB state store, drops after the first landing WHILE the
    // query runs. Drops are TIME-ORDERED waves (equal event-time
    // slices — the production arrival order, so the watermark
    // advances between drops and join state evicts on schedule;
    // DRIFT_r13 §4 measures why that matters), so cross-boundary
    // matches (a later-drop click attributing to an earlier-drop
    // purchase ≤ 600 s before it) must flow through buffered join
    // state, and eviction never loses a match: a purchase old enough
    // to evict (p_t + 600 < watermark) can only match clicks already
    // processed. One boundary is derived from the WIDEST matched
    // pair (mid = p_t + gap/2, so p_t ≤ mid < c_t), which guarantees
    // at least one match straddles a drop boundary at every SF —
    // equal slicing alone could place every match inside one slice
    // and would have proven nothing about cross-drop state. (The
    // batch pre-join is fixture plumbing to place that boundary, not
    // part of the streaming operator.) Same oracle as st5 — file-fed
    // and memory-fed executions agree exactly; retires MemoryStream
    // from the stream-stream join's production claim.
    "st5b_file_stream_join" -> { (s, dir) =>
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      def side(t: String, idName: String, tName: String) =
        events(s, dir).where(col("event_type") === t)
          .select(col("event_id").cast("long").as(idName),
            col("user_id").cast("long").as("user_id"),
            sec("ts").cast("long").as(tName))
      val clicksAll = side("click", "click_id", "c_t")
      val purchAll = side("purchase", "purchase_id", "p_t")
      val best = clicksAll.join(purchAll, "user_id")
        .where(col("c_t") > col("p_t") && col("c_t") < col("p_t") + 600L)
        .orderBy((col("c_t") - col("p_t")).desc, col("click_id"),
          col("purchase_id"))
        .select("c_t", "p_t").head(1)
      val mid =
        if (best.nonEmpty)
          best(0).getLong(1) + (best(0).getLong(0) - best(0).getLong(1)) / 2
        else {
          val mm = events(s, dir).agg(min(sec("ts")), max(sec("ts"))).head
          mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        }
      val cDrop = graft.streaming.StreamOps.scratchDir("st5b_c")
      val pDrop = graft.streaming.StreamOps.scratchDir("st5b_p")
      // drop boundaries: equal TIME-ORDERED slices (the production
      // arrival order — watermark advances between drops and state
      // evicts on schedule; see st5's feed note and DRIFT_r13 §4)
      // plus the widest-pair midpoint, so at least one match is
      // guaranteed to straddle a boundary at every SF (the
      // cross-boundary-state claim this query exists to prove)
      // bounds/count over the two joined types only, so the wave count
      // matches the st5 twin's (which slices collected click+purchase
      // rows) at every SF
      val mm = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .agg(min(sec("ts")), max(sec("ts")), count(lit(1))).head
      val (tLo, tHi) = (mm.getLong(0), mm.getLong(1) + 1L)
      val k = graft.streaming.StreamOps.waveCount(mm.getLong(2))
      val eqCuts = (1 until k).map(i => tLo + (tHi - tLo) * i / k)
      val bounds = (eqCuts :+ (mid + 1L)).distinct.sorted
        .filter(b => b > tLo && b < tHi)
      val waves = (tLo +: bounds :+ tHi).sliding(2).collect {
        case Seq(a, b) if b > a => (a, b)
      }.toSeq
      def drop(lo: Long, hi: Long): Unit = {
        clicksAll.where(col("c_t") >= lo && col("c_t") < hi)
          .write.mode("append").json(cDrop)
        purchAll.where(col("p_t") >= lo && col("p_t") < hi)
          .write.mode("append").json(pDrop)
      }
      drop(waves.head._1, waves.head._2)
      def sch(idName: String, tName: String) = StructType(Seq(
        StructField(idName, LongType), StructField("user_id", LongType),
        StructField(tName, LongType)))
      val name = "st5b_" + java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(mm.getLong(2)),
          graft.streaming.StreamOps.smallStateProvider) { // churn-heavy, tiny live state (see smallStateProvider)
        val clicks = s.readStream.schema(sch("click_id", "c_t")).json(cDrop)
          .withColumn("c_ts", col("c_t").cast("timestamp"))
        val purchases = s.readStream.schema(sch("purchase_id", "p_t")).json(pDrop)
          .withColumn("p_ts", col("p_t").cast("timestamp"))
        val joined = graft.streaming.StreamOps.intervalJoinStreams(
            clicks, purchases, "user_id", "c_ts", "p_ts",
            horizon = "30 minutes", windowSec = 600L)
          .select("click_id", "purchase_id", "user_id", "c_t", "p_t")
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint("st5b"))
          .start()
        try {
          q.processAllAvailable()
          waves.tail.foreach { case (lo, hi) =>
            drop(lo, hi)
            q.processAllAvailable()
          }
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("click_id", "purchase_id")
    },

    // ST6: watermark LATE-DATA accounting under the oracle gate —
    // the semantics every streaming pipeline must get right: the
    // on-time wave advances the watermark to max(on-time ts)−7201 s,
    // then a late wave arrives and rows whose hour window already
    // closed (window end ≤ watermark) are DROPPED, while still-open
    // windows absorb their stragglers. The replay is deterministic
    // (two MemoryStream waves split on event_id%3 + a flush
    // sentinel), so the exact batch-SQL drop rule is hash-checked.
    // Append mode: the sink only ever sees closed windows — the
    // contract that makes downstream writes idempotent at 100 TB.
    "st6_late_drop" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = events(s, dir)
        .select(col("event_id").cast("long"), sec("ts").cast("long"),
          col("event_type"), col("value"))
        .as[(Long, Long, String, Double)].collect()
      val (late, ontime) = rows.partition(_._1 % 3 == 0)
      val flushT = rows.map(_._2).max + 100000L
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double)]
      val src = in.toDF().toDF("event_id", "t", "event_type", "value")
        .select(timestamp_seconds(col("t")).as("ts"),
          col("event_type"), col("value"))
      val out = graft.streaming.StreamOps.tumblingCounts(
        src, "ts", "event_type", 3600L, watermark = Some("7201 seconds"))
      val name = "st6_" + java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(rows.length.toLong)) {
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
          .start()
        try {
          in.addData(ontime.toSeq)
          q.processAllAvailable()
          in.addData(late.toSeq)
          q.processAllAvailable()
          in.addData(Seq((-1L, flushT, "zz_flush", 0.0)))
          q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).where(col("event_type") =!= "zz_flush")
        .orderBy("wstart", "event_type")
    },

    // J13 (new surface): AS-OF join — each click matched to the
    // LATEST purchase by the same user at or before the click instant
    // (ties: a same-second purchase matches; among equal-time
    // purchases the max event_id wins — deterministic both sides).
    // Spark lacks a native as-of join; the scalable composition is
    // union-tag + one per-user ordered window with last(...,
    // ignoreNulls) — ONE shuffle on user_id, one sorted scan, no
    // range-join row explosion (an interval-join encoding would
    // multiply rows by the candidate window; this is linear).
    "j13_asof" -> { (s, dir) =>
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        sec("ts").as("t"), col("event_type"), col("value"))
      val tagged = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), lit(0).as("k"), col("event_id"), col("value"))
        .unionByName(ev.where(col("event_type") === "click")
          .select(col("user_id"), col("t"), lit(1).as("k"), col("event_id"),
            lit(null).cast("double").as("value")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("k"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged.withColumn("p", last(when(col("k") === 0,
          struct(col("t").as("pt"), col("event_id").as("pid"), col("value").as("pv"))),
          ignoreNulls = true).over(w))
        .where(col("k") === 1)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("t").as("click_t"), col("p.pid").as("purchase_id"),
          col("p.pt").as("purchase_t"), (col("t") - col("p.pt")).as("lag_sec"),
          col("p.pv").as("purchase_value"))
        .orderBy("click_id")
    },

    // J1 long-interval variant: multi-resolution binned overlap join
    // on a fixture that MIXES whole-key-axis spans with short windows
    // (the containment case pygr's NCList sublists exist for,
    // intervaldb.c:222-306). Per user: the whole activity span, its
    // first half, and one 10-minute window — joined against the
    // 2-12-minute error windows. The single-level binned join would
    // explode each whole-span row into every touched fine bin;
    // binnedMulti caps replication at 2·levels rows per interval.
    "j14_multires_overlap" -> { (s, dir) =>
      val spans = events(s, dir)
        .groupBy("user_id")
        .agg(min(sec("ts")).as("umin"), max(sec("ts")).as("umax"))
        .select(col("user_id"), explode(array(
          struct(lit(0).as("span_kind"), col("umin").as("ss"),
            (col("umax") + 1L).as("se")),
          struct(lit(1).as("span_kind"), col("umin").as("ss"),
            (col("umin") + expr("(umax - umin) div 2") + 1L).as("se")),
          struct(lit(2).as("span_kind"),
            (col("umin") + expr("2 * ((umax - umin) div 3)")).as("ss"),
            (col("umin") + expr("2 * ((umax - umin) div 3)") + 600L).as("se"))
        )).as("sp"))
        .select(col("user_id"), col("sp.span_kind").as("span_kind"),
          col("sp.ss").as("ss"), col("sp.se").as("se"))
      IntervalJoin.binnedMulti(errorWindows(s, dir), spans, Seq("user_id"),
          "ws", "we", "ss", "se", binWidth = 3600L, fanout = 16, levels = 4)
        .groupBy("user_id", "span_kind")
        .agg(count(lit(1)).as("n_wnd"),
          min("ws").as("first_ws"), max("we").as("last_we"))
        .orderBy("user_id", "span_kind")
    },

    // J14b: the containment fixture ENTERING THROUGH THE RULE — a
    // naive overlap join with NO equi conjunct, written exactly as a
    // SQL user would. BinnedIntervalJoinRule (registered in
    // extraOptimizations, as GraftExtensions would) must rewrite it to
    // the multi-resolution binned form; the previous single-level
    // rewrite exploded each whole-activity span (~30 days) into every
    // fine bin on the time axis. Span side restricted to user_id%97
    // and window side to user_id%7 so the cross-user pair count stays
    // oracle-friendly while spans still dwarf the coarsest bin width.
    "j14b_rule_multires" -> { (s, dir) =>
      if (!s.experimental.extraOptimizations.contains(
          graft.plans.BinnedIntervalJoinRule))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.BinnedIntervalJoinRule
      s.conf.set("spark.graft.intervalJoin.binWidth", "3600")
      s.conf.set("spark.graft.intervalJoin.fanout", "16")
      s.conf.set("spark.graft.intervalJoin.levels", "4")
      val spans = events(s, dir)
        .filter(col("user_id") % 97 === 0)
        .groupBy("user_id")
        .agg(min(sec("ts")).as("umin"), max(sec("ts")).as("umax"))
        .select(col("user_id").as("span_user"), explode(array(
          struct(lit(0).as("span_kind"), col("umin").as("ss"),
            (col("umax") + 1L).as("se")),
          struct(lit(1).as("span_kind"), col("umin").as("ss"),
            (col("umin") + expr("(umax - umin) div 2") + 1L).as("se")),
          struct(lit(2).as("span_kind"),
            (col("umin") + expr("2 * ((umax - umin) div 3)")).as("ss"),
            (col("umin") + expr("2 * ((umax - umin) div 3)") + 600L).as("se"))
        )).as("sp"))
        .select(col("span_user"), col("sp.span_kind").as("span_kind"),
          col("sp.ss").as("ss"), col("sp.se").as("se"))
      val w = errorWindows(s, dir).filter(col("user_id") % 7 === 0)
      // pure range predicate: without the rule this is a nested loop
      w.join(spans, w("ws") < spans("se") && spans("ss") < w("we"))
        .groupBy("span_user", "span_kind")
        .agg(count(lit(1)).as("n_wnd"),
          min("ws").as("first_ws"), max("we").as("last_we"))
        .orderBy("span_user", "span_kind")
    },

    // P5: interval-set mask (SeqFilterDict): keep error windows
    // intersecting the per-user mask window, clipped to it.
    "p5_filter_mask" -> { (s, dir) =>
      val mask = events(s, dir)
        .groupBy("user_id")
        .agg(min(sec("ts")).as("t0"))
        .select(col("user_id"), (col("t0") + 2L * 86400L).as("ms"),
          (col("t0") + 8L * 86400L).as("me"))
      errorWindows(s, dir).join(mask, "user_id")
        .where(Intervals.overlaps(col("ws"), col("we"), col("ms"), col("me")))
        .select(col("user_id"), col("wnd_id"),
          Intervals.clipStart(col("ws"), col("ms")).as("cs"),
          Intervals.clipEnd(col("we"), col("me")).as("ce"))
        .orderBy("user_id", "wnd_id")
    },

    // P7: filterList — restrict alignment blocks to a target-seq list
    // (semi-join) before aggregation.
    "p7_filter_targets" -> { (s, dir) =>
      val wanted = Seq("d1", "d3", "d5", "d7")
      alignBlocks(s, dir)
        .where(col("dest_id").isin(wanted: _*))
        .groupBy("dest_id")
        .agg(count(lit(1)).as("n_blocks"), min("src_start").as("min_start"),
          max("src_end").as("max_end"))
        .orderBy("dest_id")
    },

    // J12: interval algebra on consecutive error windows per user.
    "j12_interval_algebra" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ws", "wnd_id")
      errorWindows(s, dir)
        .withColumn("nws", lead(col("ws"), 1).over(w))
        .withColumn("nwe", lead(col("we"), 1).over(w))
        .where(col("nws").isNotNull)
        .select(col("user_id"), col("wnd_id"),
          Intervals.intersectLen(col("ws"), col("we"), col("nws"), col("nwe")).as("isect"),
          Intervals.spanLen(col("ws"), col("we"), col("nws"), col("nwe")).as("span"),
          (col("nws") - col("we")).as("gap"),
          Intervals.overlaps(col("ws"), col("we"), col("nws"), col("nwe")).as("does_overlap"))
        .orderBy("user_id", "wnd_id")
    }
  )

  private val wndSql =
    """SELECT user_id, event_id AS wnd_id, epoch_ms(ts)//1000 AS ws,
      |  epoch_ms(ts)//1000 + 120 + (event_id % 10)*60 AS we
      |FROM events WHERE event_type = 'error'""".stripMargin

  private val blocksSql =
    """SELECT 'u' || CAST(user_id AS VARCHAR) AS src_id, ws AS src_start, we AS src_end,
      |  'd' || CAST(wnd_id % 20 AS VARCHAR) AS dest_id,
      |  (wnd_id % 500) * 1000 AS dest_start,
      |  (wnd_id % 500) * 1000 + (we - ws) AS dest_end,
      |  CASE WHEN wnd_id % 3 = 0 THEN -1 ELSE 1 END AS dest_ori,
      |  wnd_id AS block_id
      |FROM w""".stripMargin

  /** The j2 slice as a reusable CTE chain ending in `sl`. */
  private val sliceSql =
    s"""WITH w AS ($wndSql),
      |a AS ($blocksSql),
      |q AS (SELECT user_id AS q_id, 'u' || CAST(user_id AS VARCHAR) AS src_id,
      |  MIN(epoch_ms(ts)//1000) + 5*86400 AS q_start,
      |  MIN(epoch_ms(ts)//1000) + 15*86400 AS q_end
      |  FROM events GROUP BY user_id),
      |sl AS (SELECT q_id, a.src_id,
      |  GREATEST(src_start, q_start) AS src_start,
      |  LEAST(src_end, q_end) AS src_end,
      |  dest_id,
      |  CASE WHEN dest_ori >= 0 THEN dest_start + (GREATEST(src_start, q_start) - src_start)
      |       ELSE dest_start + (src_end - LEAST(src_end, q_end)) END AS dest_start,
      |  CASE WHEN dest_ori >= 0 THEN dest_end - (src_end - LEAST(src_end, q_end))
      |       ELSE dest_end - (GREATEST(src_start, q_start) - src_start) END AS dest_end,
      |  dest_ori, block_id
      |FROM a JOIN q ON a.src_id = q.src_id
      |  AND src_start < q_end AND q_start < src_end)""".stripMargin

  val oracle: Map[String, String] = Map(
    "j1_interval_join" ->
      s"""WITH w AS ($wndSql),
        |c AS (SELECT user_id, epoch_ms(ts)//1000 AS p FROM events WHERE event_type = 'click')
        |SELECT w.user_id, wnd_id, COUNT(*) AS n_clicks, MIN(p) AS first_click
        |FROM w JOIN c ON w.user_id = c.user_id AND p >= ws AND p < we
        |GROUP BY w.user_id, wnd_id ORDER BY w.user_id, wnd_id""".stripMargin,

    "j1b_indexed_join" ->
      s"""WITH w AS ($wndSql),
        |c AS (SELECT user_id, epoch_ms(ts)//1000 AS p FROM events WHERE event_type = 'click')
        |SELECT w.user_id, wnd_id, COUNT(*) AS n_clicks, MIN(p) AS first_click
        |FROM w JOIN c ON w.user_id = c.user_id AND p >= ws AND p < we
        |GROUP BY w.user_id, wnd_id ORDER BY w.user_id, wnd_id""".stripMargin,

    "j1c_shuffled_index" ->
      s"""WITH w AS ($wndSql),
        |c AS (SELECT user_id, epoch_ms(ts)//1000 AS p FROM events WHERE event_type = 'click')
        |SELECT w.user_id, wnd_id, COUNT(*) AS n_clicks, MIN(p) AS first_click
        |FROM w JOIN c ON w.user_id = c.user_id AND p >= ws AND p < we
        |GROUP BY w.user_id, wnd_id ORDER BY w.user_id, wnd_id""".stripMargin,

    "j14_multires_overlap" ->
      s"""WITH w AS ($wndSql),
        |u AS (SELECT user_id, MIN(epoch_ms(ts)//1000) AS umin,
        |             MAX(epoch_ms(ts)//1000) AS umax FROM events GROUP BY user_id),
        |sp AS (
        |  SELECT user_id, 0 AS span_kind, umin AS ss, umax + 1 AS se FROM u
        |  UNION ALL SELECT user_id, 1, umin, umin + (umax - umin)//2 + 1 FROM u
        |  UNION ALL SELECT user_id, 2, umin + 2*((umax - umin)//3),
        |                   umin + 2*((umax - umin)//3) + 600 FROM u)
        |SELECT w.user_id, span_kind, COUNT(*) AS n_wnd,
        |       MIN(ws) AS first_ws, MAX(we) AS last_we
        |FROM w JOIN sp ON w.user_id = sp.user_id AND ws < se AND ss < we
        |GROUP BY w.user_id, span_kind ORDER BY w.user_id, span_kind""".stripMargin,

    "j14b_rule_multires" ->
      s"""WITH w AS ($wndSql),
        |u AS (SELECT user_id, MIN(epoch_ms(ts)//1000) AS umin,
        |             MAX(epoch_ms(ts)//1000) AS umax FROM events
        |      WHERE user_id % 97 = 0 GROUP BY user_id),
        |sp AS (
        |  SELECT user_id AS span_user, 0 AS span_kind, umin AS ss, umax + 1 AS se FROM u
        |  UNION ALL SELECT user_id, 1, umin, umin + (umax - umin)//2 + 1 FROM u
        |  UNION ALL SELECT user_id, 2, umin + 2*((umax - umin)//3),
        |                   umin + 2*((umax - umin)//3) + 600 FROM u),
        |wf AS (SELECT * FROM w WHERE user_id % 7 = 0)
        |SELECT span_user, span_kind, COUNT(*) AS n_wnd,
        |       MIN(ws) AS first_ws, MAX(we) AS last_we
        |FROM wf JOIN sp ON ws < se AND ss < we
        |GROUP BY span_user, span_kind ORDER BY span_user, span_kind""".stripMargin,

    "j2_slice_clip" -> (sliceSql + "\nSELECT * FROM sl ORDER BY q_id, block_id"),

    "j2c_slice_indexed" -> (sliceSql + "\nSELECT * FROM sl ORDER BY q_id, block_id"),

    "s9b_persist_slice" -> (sliceSql + "\nSELECT * FROM sl ORDER BY q_id, block_id"),

    "j2b_twohop" ->
      s"""$sliceSql,
        |h1 AS (SELECT q_id, src_id, src_start AS s1, src_end AS e1,
        |  dest_id AS axis_id, dest_start AS m1s, dest_end AS m1e,
        |  dest_ori AS ori1, block_id AS block1_id FROM sl),
        |inv AS (SELECT dest_id AS axis_id, dest_start AS s2, dest_end AS e2,
        |  src_id AS y_id, src_start AS t2s, src_end AS t2e,
        |  dest_ori AS ori2, block_id AS block2_id FROM a),
        |t AS (SELECT h1.*, inv.s2, inv.e2, inv.y_id, inv.t2s, inv.t2e,
        |  inv.ori2, inv.block2_id,
        |  GREATEST(m1s, s2) AS ms, LEAST(m1e, e2) AS me
        |  FROM h1 JOIN inv ON h1.axis_id = inv.axis_id
        |    AND m1s < e2 AND s2 < m1e),
        |r AS (SELECT q_id, src_id,
        |  CASE WHEN ori1 >= 0 THEN s1 + (ms - m1s) ELSE s1 + (m1e - me) END AS src_start,
        |  CASE WHEN ori1 >= 0 THEN s1 + (me - m1s) ELSE s1 + (m1e - ms) END AS src_end,
        |  y_id AS dest_id,
        |  CASE WHEN ori2 >= 0 THEN t2s + (ms - s2) ELSE t2s + (e2 - me) END AS dest_start,
        |  CASE WHEN ori2 >= 0 THEN t2s + (me - s2) ELSE t2s + (e2 - ms) END AS dest_end,
        |  ori1 * ori2 AS dest_ori, axis_id, block1_id, block2_id FROM t)
        |SELECT * FROM r WHERE dest_id <> src_id OR src_start <> dest_start
        |ORDER BY q_id, block1_id, block2_id""".stripMargin,

    "j2d_twohop_merged" ->
      s"""$sliceSql,
        |h1 AS (SELECT q_id, src_id, src_start AS s1, src_end AS e1,
        |  dest_id AS axis_id, dest_start AS m1s, dest_end AS m1e,
        |  dest_ori AS ori1, block_id AS block1_id FROM sl),
        |inv AS (SELECT dest_id AS axis_id, dest_start AS s2, dest_end AS e2,
        |  src_id AS y_id, src_start AS t2s, src_end AS t2e,
        |  dest_ori AS ori2, block_id AS block2_id FROM a),
        |t AS (SELECT h1.*, inv.s2, inv.e2, inv.y_id, inv.t2s, inv.t2e,
        |  inv.ori2, inv.block2_id,
        |  GREATEST(m1s, s2) AS ms, LEAST(m1e, e2) AS me
        |  FROM h1 JOIN inv ON h1.axis_id = inv.axis_id
        |    AND m1s < e2 AND s2 < m1e),
        |r AS (SELECT q_id, src_id,
        |  CASE WHEN ori1 >= 0 THEN s1 + (ms - m1s) ELSE s1 + (m1e - me) END AS src_start,
        |  CASE WHEN ori1 >= 0 THEN s1 + (me - m1s) ELSE s1 + (m1e - ms) END AS src_end,
        |  y_id AS dest_id,
        |  CASE WHEN ori2 >= 0 THEN t2s + (ms - s2) ELSE t2s + (e2 - me) END AS dest_start,
        |  CASE WHEN ori2 >= 0 THEN t2s + (me - s2) ELSE t2s + (e2 - ms) END AS dest_end,
        |  ori1 * ori2 AS dest_ori FROM t)
        |SELECT q_id, dest_id, dest_ori,
        |  MIN(src_start) AS src_start, MAX(src_end) AS src_end,
        |  MIN(dest_start) AS dest_start, MAX(dest_end) AS dest_end,
        |  COUNT(*) AS n_blocks
        |FROM r WHERE dest_id <> src_id OR src_start <> dest_start
        |GROUP BY q_id, dest_id, dest_ori
        |ORDER BY q_id, dest_id, dest_ori""".stripMargin,

    "j2e_twohop_merged_dense" ->
      s"""WITH w AS ($wndSql),
        |a AS (SELECT 'u' || CAST(user_id % 256 AS VARCHAR) AS src_id,
        |  ws AS src_start, we AS src_end,
        |  'd' || CAST(wnd_id % 20 AS VARCHAR) AS dest_id,
        |  (wnd_id % 500) * 1000 AS dest_start,
        |  (wnd_id % 500) * 1000 + (we - ws) AS dest_end,
        |  CASE WHEN wnd_id % 3 = 0 THEN -1 ELSE 1 END AS dest_ori,
        |  wnd_id AS block_id FROM w),
        |q AS (SELECT user_id AS q_id, 'u' || CAST(user_id % 256 AS VARCHAR) AS src_id,
        |  MIN(epoch_ms(ts)//1000) + 5*86400 AS q_start,
        |  MIN(epoch_ms(ts)//1000) + 15*86400 AS q_end
        |  FROM events WHERE user_id % 7 = 0 GROUP BY user_id),
        |sl AS (SELECT q_id, a.src_id,
        |  GREATEST(src_start, q_start) AS s1, LEAST(src_end, q_end) AS e1,
        |  dest_id AS axis_id,
        |  CASE WHEN dest_ori >= 0 THEN dest_start + (GREATEST(src_start, q_start) - src_start)
        |       ELSE dest_start + (src_end - LEAST(src_end, q_end)) END AS m1s,
        |  CASE WHEN dest_ori >= 0 THEN dest_end - (src_end - LEAST(src_end, q_end))
        |       ELSE dest_end - (GREATEST(src_start, q_start) - src_start) END AS m1e,
        |  dest_ori AS ori1
        |  FROM a JOIN q ON a.src_id = q.src_id
        |    AND src_start < q_end AND q_start < src_end),
        |inv AS (SELECT dest_id AS axis_id, dest_start AS s2, dest_end AS e2,
        |  src_id AS y_id, src_start AS t2s, dest_ori AS ori2 FROM a),
        |t AS (SELECT sl.*, inv.s2, inv.e2, inv.y_id, inv.t2s, inv.ori2,
        |  GREATEST(m1s, s2) AS ms, LEAST(m1e, e2) AS me
        |  FROM sl JOIN inv ON sl.axis_id = inv.axis_id
        |    AND m1s < e2 AND s2 < m1e),
        |r AS (SELECT q_id, src_id,
        |  CASE WHEN ori1 >= 0 THEN s1 + (ms - m1s) ELSE s1 + (m1e - me) END AS src_start,
        |  CASE WHEN ori1 >= 0 THEN s1 + (me - m1s) ELSE s1 + (m1e - ms) END AS src_end,
        |  y_id AS dest_id,
        |  CASE WHEN ori2 >= 0 THEN t2s + (ms - s2) ELSE t2s + (e2 - me) END AS dest_start,
        |  CASE WHEN ori2 >= 0 THEN t2s + (me - s2) ELSE t2s + (e2 - ms) END AS dest_end,
        |  ori1 * ori2 AS dest_ori FROM t)
        |SELECT q_id, dest_id, dest_ori,
        |  MIN(src_start) AS src_start, MAX(src_end) AS src_end,
        |  MIN(dest_start) AS dest_start, MAX(dest_end) AS dest_end,
        |  COUNT(*) AS n_blocks
        |FROM r WHERE dest_id <> src_id OR src_start <> dest_start
        |GROUP BY q_id, dest_id, dest_ori
        |ORDER BY q_id, dest_id, dest_ori""".stripMargin,

    "a4_slice_split" ->
      s"""$sliceSql,
        |m AS (SELECT *, CASE WHEN
        |    MAX(src_end) OVER (PARTITION BY q_id, dest_id, dest_ori
        |      ORDER BY src_start, src_end
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR src_start > MAX(src_end) OVER (PARTITION BY q_id, dest_id, dest_ori
        |      ORDER BY src_start, src_end
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 43200
        |  THEN 1 ELSE 0 END AS brk FROM sl),
        |t AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY q_id, dest_id, dest_ori
        |    ORDER BY src_start, src_end
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session
        |  FROM m)
        |SELECT q_id, dest_id, dest_ori, session,
        |  MIN(src_start) AS session_start, MAX(src_end) AS session_end,
        |  COUNT(*) AS n_members
        |FROM t GROUP BY q_id, dest_id, dest_ori, session
        |ORDER BY q_id, dest_id, dest_ori, session""".stripMargin,

    "a1_merge_span" ->
      s"""WITH w AS ($wndSql),
        |a AS ($blocksSql)
        |SELECT dest_id, dest_ori, MIN(dest_start) AS dest_start,
        |  MAX(dest_end) AS dest_end, COUNT(*) AS n_blocks
        |FROM a GROUP BY dest_id, dest_ori ORDER BY dest_id, dest_ori""".stripMargin,

    "a2b_gaprule" ->
      s"""WITH w AS ($wndSql),
        |a AS ($blocksSql),
        |m AS (SELECT *,
        |  LAG(src_end) OVER (PARTITION BY src_id, dest_id, dest_ori
        |    ORDER BY src_start, src_end, dest_start, dest_end) AS pe,
        |  LAG(dest_end) OVER (PARTITION BY src_id, dest_id, dest_ori
        |    ORDER BY src_start, src_end, dest_start, dest_end) AS pde
        |  FROM a),
        |b AS (SELECT *, CASE WHEN pe IS NULL
        |    OR src_start - pe > 7*86400
        |    OR dest_start - pde > 150000
        |    OR dest_start - pde < -400000 THEN 1 ELSE 0 END AS brk FROM m),
        |t AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY src_id, dest_id, dest_ori
        |    ORDER BY src_start, src_end, dest_start, dest_end
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session
        |  FROM b),
        |t2 AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY src_id, dest_id, dest_ori, session
        |    ORDER BY src_start, src_end, dest_start, dest_end) AS rn,
        |  ROW_NUMBER() OVER (PARTITION BY src_id, dest_id, dest_ori, session
        |    ORDER BY src_start DESC, src_end DESC, dest_start DESC, dest_end DESC) AS rnd
        |  FROM t)
        |SELECT src_id, dest_id, dest_ori, session,
        |  MIN(src_start) AS session_start,
        |  MAX(CASE WHEN rnd = 1 THEN src_end END) AS session_end,
        |  MAX(CASE WHEN rn = 1 THEN dest_start END) AS session_dest_start,
        |  MAX(CASE WHEN rnd = 1 THEN dest_end END) AS session_dest_end,
        |  COUNT(*) AS n_members
        |FROM t2 GROUP BY src_id, dest_id, dest_ori, session
        |ORDER BY src_id, dest_id, dest_ori, session""".stripMargin,

    "a2_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)//1000 AS p FROM events),
        |m AS (SELECT user_id, p,
        |  CASE WHEN MAX(p) OVER (PARTITION BY user_id ORDER BY p, p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR p > MAX(p) OVER (PARTITION BY user_id ORDER BY p, p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1800
        |  THEN 1 ELSE 0 END AS brk FROM e),
        |t AS (SELECT user_id, p,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY p, p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session
        |  FROM m)
        |SELECT user_id, session, MIN(p) AS session_start, MAX(p) AS session_end,
        |  COUNT(*) AS n_members
        |FROM t GROUP BY user_id, session ORDER BY user_id, session""".stripMargin,

    // st10: identical session semantics to a2 (same gap rule, same
    // numbering), reached through the native streaming operator.
    "st10b_session_fmgws" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)//1000 AS p FROM events),
        |m AS (SELECT user_id, p,
        |  CASE WHEN MAX(p) OVER (PARTITION BY user_id ORDER BY p, p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR p > MAX(p) OVER (PARTITION BY user_id ORDER BY p, p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1800
        |  THEN 1 ELSE 0 END AS brk FROM e),
        |t AS (SELECT user_id, p,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY p, p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session
        |  FROM m)
        |SELECT user_id, session, MIN(p) AS session_start, MAX(p) AS session_end,
        |  COUNT(*) AS n_members
        |FROM t GROUP BY user_id, session ORDER BY user_id, session""".stripMargin,

    "st10_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)//1000 AS p FROM events),
        |m AS (SELECT user_id, p,
        |  CASE WHEN MAX(p) OVER (PARTITION BY user_id ORDER BY p, p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR p > MAX(p) OVER (PARTITION BY user_id ORDER BY p, p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1800
        |  THEN 1 ELSE 0 END AS brk FROM e),
        |t AS (SELECT user_id, p,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY p, p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session
        |  FROM m)
        |SELECT user_id, session, MIN(p) AS session_start, MAX(p) AS session_end,
        |  COUNT(*) AS n_members
        |FROM t GROUP BY user_id, session ORDER BY user_id, session""".stripMargin,

    "a3_coverage" ->
      s"""WITH w AS ($wndSql),
        |ev AS (SELECT user_id, ws AS pos, 1 AS delta FROM w
        |       UNION ALL SELECT user_id, we, -1 FROM w),
        |agg AS (SELECT user_id, pos, CAST(SUM(delta) AS BIGINT) AS delta
        |        FROM ev GROUP BY user_id, pos),
        |scan AS (SELECT user_id, pos,
        |  CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY pos) AS BIGINT) AS depth,
        |  LEAD(pos) OVER (PARTITION BY user_id ORDER BY pos) AS next_pos
        |  FROM agg)
        |SELECT user_id, MAX(depth) AS max_depth,
        |  CAST(SUM(CASE WHEN depth >= 1 THEN next_pos - pos ELSE 0 END) AS BIGINT) AS covered
        |FROM scan WHERE next_pos IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a3b_mask" ->
      s"""WITH w AS ($wndSql),
        |a AS ($blocksSql),
        |a2 AS (SELECT src_id, dest_id, src_start, src_end + 2*86400 AS src_end FROM a),
        |cm AS (SELECT src_id, dest_id, src_start AS s, src_end AS e,
        |  CASE WHEN MAX(src_end) OVER (PARTITION BY src_id, dest_id
        |      ORDER BY src_start, src_end
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR src_start >= MAX(src_end) OVER (PARTITION BY src_id, dest_id
        |      ORDER BY src_start, src_end
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  THEN 1 ELSE 0 END AS brk FROM a2),
        |ci AS (SELECT *, SUM(brk) OVER (PARTITION BY src_id, dest_id
        |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM cm),
        |lanes AS (SELECT src_id, dest_id, MIN(s) AS s, MAX(e) AS e
        |  FROM ci GROUP BY src_id, dest_id, grp),
        |nseq AS (SELECT src_id, COUNT(DISTINCT dest_id) AS nseq FROM a GROUP BY src_id),
        |ev AS (SELECT src_id, s AS pos, 1 AS delta, 0 AS stops FROM lanes
        |  UNION ALL SELECT src_id, e, -1, 1 FROM lanes),
        |ag AS (SELECT src_id, pos, SUM(delta) AS delta, SUM(stops) AS stops
        |  FROM ev GROUP BY src_id, pos),
        |s1 AS (SELECT src_id, pos, stops,
        |  CAST(SUM(delta) OVER (PARTITION BY src_id ORDER BY pos) AS BIGINT) AS depth,
        |  LEAD(pos) OVER (PARTITION BY src_id ORDER BY pos) AS next_pos
        |  FROM ag),
        |s2 AS (SELECT s1.*, nseq,
        |  LAG(depth) OVER (PARTITION BY src_id ORDER BY pos) AS prev_depth
        |  FROM s1 JOIN nseq USING (src_id)),
        |abv AS (SELECT * FROM s2 WHERE next_pos IS NOT NULL
        |  AND depth >= 2 AND CAST(depth AS DOUBLE)/nseq >= 0.15),
        |il AS (SELECT *, CASE WHEN
        |    LAG(next_pos) OVER (PARTITION BY src_id ORDER BY pos) IS NULL
        |    OR LAG(next_pos) OVER (PARTITION BY src_id ORDER BY pos) <> pos
        |    OR (COALESCE(prev_depth, 0) - stops) < 2
        |    OR CAST(COALESCE(prev_depth, 0) - stops AS DOUBLE)/nseq < 0.15
        |  THEN 1 ELSE 0 END AS brk FROM abv),
        |t AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY src_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS island
        |  FROM il)
        |SELECT src_id, island, MIN(pos) AS mask_start, MAX(next_pos) AS mask_end
        |FROM t GROUP BY src_id, island
        |ORDER BY src_id, island""".stripMargin,

    "a7_longest_run" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts)//1000//86400 AS day FROM events),
        |i AS (SELECT user_id, day,
        |  day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island FROM d),
        |g AS (SELECT user_id, island, COUNT(*) AS len FROM i GROUP BY user_id, island)
        |SELECT user_id, MAX(len) AS streak FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st1_tumbling_window" ->
      """SELECT (epoch_ms(ts)//1000)//3600*3600 AS wstart, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    // identical aggregate to st1 — the twin proves the INGEST path
    // (file drops vs memory feed), not new semantics
    "st12_file_source_window" ->
      """SELECT (epoch_ms(ts)//1000)//3600*3600 AS wstart, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "st15_stream_salted_join" ->
      """WITH d AS (SELECT DISTINCT event_type,
        |  CAST(length(event_type) AS BIGINT) AS w FROM events)
        |SELECT e.event_id, e.event_type, e.value, d.w
        |FROM events e JOIN d USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "st4_stream_static_join" ->
      s"""WITH w AS ($wndSql),
        |c AS (SELECT event_id, user_id, epoch_ms(ts)//1000 AS t FROM events
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, t, wnd_id, ws, we
        |FROM c JOIN w ON c.user_id = w.user_id AND t >= ws AND t < we
        |ORDER BY c.event_id, wnd_id""".stripMargin,

    "st6_late_drop" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts)//1000 AS t, event_type, value
        |  FROM events),
        |ontime AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |late AS (SELECT * FROM e WHERE event_id % 3 = 0),
        |wm AS (SELECT MAX(t) - 7201 AS w1 FROM ontime),
        |keep_late AS (SELECT late.* FROM late, wm
        |  WHERE (t // 3600) * 3600 + 3600 > w1),
        |kept AS (SELECT * FROM ontime UNION ALL SELECT * FROM keep_late)
        |SELECT (t // 3600) * 3600 AS wstart, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM kept GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "st5_stream_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts)//1000 AS c_t
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts)//1000 AS p_t
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, c.user_id, c_t, p_t
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c_t >= p_t AND c_t < p_t + 600
        |ORDER BY click_id, purchase_id""".stripMargin,

    "st5b_file_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts)//1000 AS c_t
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts)//1000 AS p_t
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, c.user_id, c_t, p_t
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c_t >= p_t AND c_t < p_t + 600
        |ORDER BY click_id, purchase_id""".stripMargin,

    "st13_file_source_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)//1000 AS sec FROM events
        |  WHERE event_type = 'click'),
        |x AS (SELECT user_id, sec,
        |  CASE WHEN lag(sec) OVER w IS NULL OR sec > lag(sec) OVER w + 1800
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
        |g AS (SELECT user_id, sec, SUM(brk) OVER (PARTITION BY user_id
        |  ORDER BY sec ROWS UNBOUNDED PRECEDING) AS grp FROM x)
        |SELECT user_id, MIN(sec) AS session_start, MAX(sec) AS session_end,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,

    "st3_stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)//1000 AS sec FROM events
        |  WHERE event_type = 'click'),
        |x AS (SELECT user_id, sec,
        |  CASE WHEN lag(sec) OVER w IS NULL OR sec > lag(sec) OVER w + 1800
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
        |g AS (SELECT user_id, sec, SUM(brk) OVER (PARTITION BY user_id
        |  ORDER BY sec ROWS UNBOUNDED PRECEDING) AS grp FROM x)
        |SELECT user_id, MIN(sec) AS session_start, MAX(sec) AS session_end,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,

    "j13_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts)//1000 AS t,
        |    event_type, value FROM events),
        |tg AS (
        |  SELECT user_id, t, 0 AS k, event_id, value FROM e
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, t, 1, event_id, NULL FROM e
        |  WHERE event_type = 'click'),
        |x AS (SELECT user_id, t, k, event_id,
        |  last_value(CASE WHEN k = 0 THEN t END IGNORE NULLS) OVER wnd AS pt,
        |  last_value(CASE WHEN k = 0 THEN event_id END IGNORE NULLS) OVER wnd AS pid,
        |  last_value(CASE WHEN k = 0 THEN value END IGNORE NULLS) OVER wnd AS pv
        |  FROM tg WINDOW wnd AS (PARTITION BY user_id ORDER BY t, k, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_id AS click_id, user_id, t AS click_t, pid AS purchase_id,
        |  pt AS purchase_t, t - pt AS lag_sec, pv AS purchase_value
        |FROM x WHERE k = 1 ORDER BY click_id""".stripMargin,

    "st2_sliding_window" ->
      """WITH e AS (SELECT epoch_ms(ts)//1000 AS t, event_type, value FROM events),
        |x AS (SELECT (t//3600 - o)*3600 AS wstart, event_type, value
        |  FROM e CROSS JOIN range(2) r(o))
        |SELECT wstart, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "p5_filter_mask" ->
      s"""WITH w AS ($wndSql),
        |m AS (SELECT user_id, MIN(epoch_ms(ts)//1000) + 2*86400 AS ms,
        |  MIN(epoch_ms(ts)//1000) + 8*86400 AS me FROM events GROUP BY user_id)
        |SELECT w.user_id, wnd_id, GREATEST(ws, ms) AS cs, LEAST(we, me) AS ce
        |FROM w JOIN m ON w.user_id = m.user_id
        |WHERE ws < me AND ms < we
        |ORDER BY w.user_id, wnd_id""".stripMargin,

    "p7_filter_targets" ->
      s"""WITH w AS ($wndSql),
        |a AS ($blocksSql)
        |SELECT dest_id, COUNT(*) AS n_blocks, MIN(src_start) AS min_start,
        |  MAX(src_end) AS max_end
        |FROM a WHERE dest_id IN ('d1', 'd3', 'd5', 'd7')
        |GROUP BY dest_id ORDER BY dest_id""".stripMargin,

    "j12_interval_algebra" ->
      s"""WITH w AS ($wndSql),
        |p AS (SELECT user_id, wnd_id, ws, we,
        |  LEAD(ws) OVER (PARTITION BY user_id ORDER BY ws, wnd_id) AS nws,
        |  LEAD(we) OVER (PARTITION BY user_id ORDER BY ws, wnd_id) AS nwe
        |  FROM w)
        |SELECT user_id, wnd_id,
        |  GREATEST(LEAST(we, nwe) - GREATEST(ws, nws), 0) AS isect,
        |  GREATEST(we, nwe) - LEAST(ws, nws) AS span,
        |  nws - we AS gap,
        |  (ws < nwe AND nws < we) AS does_overlap
        |FROM p WHERE nws IS NOT NULL
        |ORDER BY user_id, wnd_id""".stripMargin
  )
}
