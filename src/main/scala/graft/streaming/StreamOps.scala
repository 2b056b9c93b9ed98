package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.tools.Scratch

/** Structured-streaming surface (SURVEY.md §2.8 — NEW surface, not a
  * port: the reference is strictly batch build → read-only query).
  * The alignment/event ingest path becomes append-only streams with
  * event-time windows and stateful sessionization.
  */
object StreamOps {

  /** A fresh checkpoint directory on the FASTEST writable volume —
    * tmpfs (`/dev/shm`) when present, else the JVM temp dir. Streaming
    * state commits fsync one delta file per state partition per
    * micro-batch; on a contended spinning/shared disk those fsyncs ARE
    * the cost of a stateful query (the r7 driver run measured
    * `st8_stream_neardup` at 50.1 s engine vs 8.1 s on an idle host —
    * identical code, the delta was state-commit I/O). Replay harnesses
    * and benches have no durability requirement across process death,
    * so memory-backed checkpoints are strictly correct AND immune to
    * disk contention. Production deployments with real recovery needs
    * should pass their own durable `checkpointLocation` instead.
    * Directories are removed recursively at JVM exit.
    */
  def scratchCheckpoint(prefix: String): String = scratchDir(s"ckpt_$prefix")

  /** K half-open [lo, hi) time slices covering `times`, equal spans on
    * the event-time axis (the last slice closes at max+1 so it keeps
    * its endpoint). Replay harnesses feed stream waves through these
    * so the arrival order is the PRODUCTION order — monotone event
    * time, watermark advancing between waves, state evicting on
    * schedule. Feeding everything as one batch instead never advances
    * the watermark mid-batch: nothing evicts, every stream-stream
    * probe scans the key's whole history, and a linear join measures
    * superlinear (engine-time exponent 1.58 on st5 before this,
    * DRIFT_r13 §4). Deterministic: cuts derive from data min/max only.
    */
  def timeCuts(times: Seq[Long], k: Int): Seq[(Long, Long)] = {
    timeCutsOf(if (times.isEmpty) (0L, 0L) else (times.min, times.max), k)
  }

  /** `timeCuts` from a precomputed (min, max) — for callers that get
    * the bounds from an aggregate instead of a collected array. */
  def timeCutsOf(bounds: (Long, Long), k: Int): Seq[(Long, Long)] = {
    require(k >= 1, s"need at least one slice, got $k")
    val lo = bounds._1
    val hi = bounds._2 + 1L
    val span = hi - lo
    (0 until k).map { i =>
      val a = lo + span * i / k
      val b = if (i == k - 1) hi else lo + span * (i + 1) / k
      (a, b)
    }.filter { case (a, b) => b > a }
  }

  /** Wave count for a replay of `n` rows: enough waves that the
    * watermark actually advances and evicts at scale (8 from ~200 k
    * rows up), few enough that the per-micro-batch fixed cost doesn't
    * dominate a small gate run (2 at the sf0.1 gate). Deterministic
    * in the row count only. */
  def waveCount(n: Long): Int = math.max(2L, math.min(8L, n / 25000L)).toInt

  /** State partition count for a replay of `n` rows — `waveCount`,
    * read as a store count, and the same right-size-the-loop contract
    * as `EdgeGraph.sizedPartitions`. A stateful operator instantiates
    * (and commits, EVERY micro-batch) one state store per shuffle
    * partition per internal store type — a stream-stream join holds
    * four per partition — and with the r18 checksum fix the per-store
    * commit is the dominant fixed cost of a small replay (REPEAT=3
    * min-pass A/B at sf0.1: st5 task-CPU 3.6 → 1.1 s, st10 6.4 →
    * 2.5 s going 8 → 2 partitions; engine wall follows on a quiet
    * host). Deterministic in the row count only; saturates at the
    * measured single-host cap of 8 (store count beyond that is a
    * CLUSTER lever — stores spread across executors — not a
    * single-JVM one; see st10's sf10 measurement). */
  def stateParts(n: Long): Int = waveCount(n)

  /** A fresh scratch directory under `Scratch.fastLocalBase`,
    * REGISTERED FOR CLEANUP at JVM exit (`Scratch.removeAtExit`) —
    * the one way harness-side temp dirs (file-source drop zones,
    * checkpoint roots) get created, so repeated bench/verify runs
    * never accumulate temp litter. */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Scratch.fastLocalBase), s"graft_$prefix").toString
    Scratch.removeAtExit(dir)
    dir
  }

  /** Run `body` (a bounded streaming replay: build, start, feed,
    * drain, stop) with `spark.sql.shuffle.partitions` sized to the
    * replay, restoring the previous value after. A stateful streaming
    * query instantiates ONE state store per shuffle partition per
    * operator and commits every one of them EVERY micro-batch — at
    * the batch default of 32 partitions, a 5 000-row replay pays
    * 32 store commits × batches for state that fits in one hand
    * (measured at sf0.1: st5's 13 s wall carried 326 s of task-run
    * time against 3 s of CPU — pure per-partition scheduling and
    * state-commit overhead). Sizing state partitioning to throughput
    * is the standard production knob (you RAISE it for a real
    * firehose); the conf is read at query start and pinned into the
    * checkpoint, so setting it around the replay is exact and
    * race-free for the query it wraps.
    */
  def replaySized[T](s: org.apache.spark.sql.SparkSession, n: Int,
      provider: String = "")(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val skey = "spark.sql.streaming.stateStore.providerClass"
    // Spark 4.1 ships checkpoint-file checksums ON by default: every
    // state-store delta/snapshot close() blocks on a sidecar-checksum
    // future (ChecksumCancellableFSDataOutputStream.close awaits it),
    // so EVERY store commit pays a fixed await even when the delta is
    // empty — thread dumps of a minimal 8-store keyed count showed all
    // task threads parked in that await, and an A/B on the same query
    // measured 10.7 s → 3.2 s wall for 5 micro-batches with checksums
    // off (OPTIMIZATION_r18.md §1). The replay harness
    // checkpoints to scratch tmpfs with NO recovery contract (see
    // scratchCheckpoint), so integrity sidecars protect nothing here.
    // Durable production checkpoints should keep the default and size
    // ...fileChecksum.numThreads to their store count instead.
    val ckey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    // Changelog checkpointing uploads per-batch CHANGE files instead
    // of zipped SST snapshots — the documented low-commit-latency mode
    // for RocksDB state stores (snapshots move to the background
    // maintenance thread). Same A/B harness: first-batch commit sums
    // dropped ~3x on the probe; end-state identical (scratch
    // checkpoints are never restarted from).
    val lkey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = s.conf.get(key)
    val sprev = s.conf.get(skey)
    val cprev = s.conf.getOption(ckey)
    val lprev = s.conf.getOption(lkey)
    // SPARK_GRAFT_REPLAY_PARTS: A/B override for the replay's state
    // partition count (store count = partitions × stores-per-operator;
    // commit cost scales with it). Measurement hook only.
    val n1 = sys.env.get("SPARK_GRAFT_REPLAY_PARTS")
      .flatMap(_.toIntOption).getOrElse(n)
    s.conf.set(key, n1.toString)
    s.conf.set(skey, if (provider.isEmpty) stateStoreProvider else provider)
    s.conf.set(ckey, "false")
    s.conf.set(lkey, "true")
    def restore(k: String, v: Option[String]): Unit =
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    try body finally {
      s.conf.set(key, prev); s.conf.set(skey, sprev)
      restore(ckey, cprev); restore(lkey, lprev)
    }
  }

  /** Provider for CHURN-DOMINATED, small-live-state operators — the
    * stream-stream interval join's profile: live rows are bounded by
    * the watermark horizon (tens of rows here) but every input row is
    * a put followed shortly by an eviction. RocksDB pays that churn
    * in SST/tombstone garbage whose access cost grows over the run:
    * st5 at v2sf5 measured 378 s engine / 628 task-CPU s on RocksDB
    * (local sf1→sf5 exponent ~1.5; compactOnCommit recovered only 4%)
    * vs 59 s / 83 s on the in-heap HDFS-backed provider with fitted
    * exponent 0.69 (DRIFT_r13 §4) — 6.4× and sublinear. The in-heap
    * map is exactly right when live state is tiny; RocksDB remains
    * the default (`stateStoreProvider`) for LARGE keyed state, where
    * on-heap maps bloat and GC. `SPARK_GRAFT_STATE_STORE` still
    * overrides both for A/B runs.
    */
  def smallStateProvider: String =
    if (sys.env.contains("SPARK_GRAFT_STATE_STORE")) stateStoreProvider
    else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** State-store provider for the stateful streaming family. RocksDB
    * by default — the DEPLOYMENT answer, not a sandbox workaround:
    * state lives off-heap in a local RocksDB instance (so a large
    * keyed state neither bloats executor heap nor GCs), and each
    * micro-batch commit ships only changed SST files to the
    * checkpoint. The HDFS-backed default keeps every store's full map
    * on-heap and rewrites a delta file per partition per batch —
    * exactly the fsync storm the r7/r8 contended-disk incidents
    * measured. `SPARK_GRAFT_STATE_STORE=hdfs` flips back for A/B
    * measurement (BENCH.md records both); any other value is taken as
    * a provider FQCN. Conf is read at query start, so setting it
    * around each replay is exact and race-free for the wrapped query.
    */
  def stateStoreProvider: String =
    sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "rocksdb") match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case fqcn => fqcn
    }

  /** Tumbling event-time window aggregation. Works identically on a
    * batch DataFrame and a streaming one (pass a watermark for
    * streams so state can be evicted).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowSec: Long, watermark: Option[String] = None): DataFrame = {
    val src = watermark.map(w => events.withWatermark(tsCol, w)).getOrElse(events)
    src.groupBy(window(col(tsCol), s"$windowSec seconds"), col(keyCol))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("wstart"), col(keyCol),
        col("n"), col("sum_value"))
  }

  /** Sliding event-time windows (window length + slide). Batch and
    * streaming alike; each event contributes to length/slide windows.
    */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowSec: Long, slideSec: Long,
                    watermark: Option[String] = None): DataFrame = {
    val src = watermark.map(w => events.withWatermark(tsCol, w)).getOrElse(events)
    src.groupBy(window(col(tsCol), s"$windowSec seconds", s"$slideSec seconds"),
        col(keyCol))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("wstart"), col(keyCol),
        col("n"), col("sum_value"))
  }

  case class Ev(user_id: Long, sec: Long)
  case class Session(user_id: Long, session_start: Long, session_end: Long, n_events: Long)
  case class SessState(start: Long, end: Long, n: Long)

  /** Stream-STREAM interval join: left rows matched to right rows of
    * the same key with the left event time in [right time, right time
    * + windowSec) — the streaming as-of/attribution join (every click
    * within 10 minutes of a purchase by the same user). Both sides
    * are watermarked and the join condition ranges over the two
    * event-time columns, so Spark derives a state-eviction bound for
    * BOTH buffers: state is horizon x arrival rate, not stream
    * length — the property that lets this run forever. Column names
    * must be disjoint apart from `key`.
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
                          leftTs: String, rightTs: String,
                          horizon: String, windowSec: Long): DataFrame = {
    val l = left.withWatermark(leftTs, horizon)
    val r = right.withWatermark(rightTs, horizon)
    l.join(r, l(key) === r(key) &&
        col(leftTs) >= col(rightTs) &&
        col(leftTs) < col(rightTs) + expr(s"INTERVAL $windowSec SECONDS"))
      .drop(r(key))
  }

  /** Stream-static interval join: a stream of (key, point) events
    * joined against a static interval table (key, start, end) — the
    * streaming form of the NCList point lookup (J1). Broadcast-joins
    * the static side per micro-batch; no stream state needed.
    */
  def pointInIntervalStream(points: DataFrame, intervals: DataFrame,
                            key: String, p: String,
                            start: String, end: String): DataFrame =
    points.join(org.apache.spark.sql.functions.broadcast(intervals), Seq(key))
      .where(col(p) >= col(start) && col(p) < col(end))

  /** Streaming exact dedup — the streaming form of `d1_exact_dedup`
    * for an ingest pipeline: drop any document whose content hash was
    * already seen within the watermark horizon. State holds one row
    * per distinct hash and is EVICTED once the watermark passes (the
    * property that lets this run forever on an unbounded corpus; an
    * unwatermarked dropDuplicates would grow state without bound).
    */
  def dedupeByContent(docs: DataFrame, tsCol: String, contentCol: String,
                      watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("__h", md5(col(contentCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Streaming NEAR-dup suppression: dedupe on the shingle-minhash
    * content fingerprint (`TextFunctions.fingerprint`) instead of the
    * exact hash, so trivially-edited re-posts of a document collapse
    * to the first arrival. Same watermarked state eviction as
    * `dedupeByContent` — state size is bounded by the watermark
    * horizon, not the stream length.
    */
  def dedupeByFingerprint(docs: DataFrame, tsCol: String, textCol: String,
                          shingleN: Int = 3,
                          watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("__fp",
        graft.text.TextFunctions.fingerprint(
          graft.text.TextFunctions.tokens(col(textCol)), shingleN))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  case class BandRow(band: Int, bucket: Long, doc_id: Long, ts: java.sql.Timestamp)
  case class NearDupHit(band: Int, bucket: Long, first_doc: Long, dup_doc: Long)
  case class RepState(rep: Long, lastMs: Long)

  /** Streaming near-dup CANDIDATE detection — the streaming form of
    * `d2_minhash_lsh`'s banded MinHash: each arriving doc is
    * min-hashed per row (`MinHashLSH.signatureExprsU`, pure array
    * expressions in the same universal-hash family as the batch prod
    * path — one md5 per shingle + k affine transforms, NOT 8 md5s; a
    * groupBy signature would be a second stateful op), exploded into
    * band buckets, and matched against the bucket's retained
    * representative (first arrival within the horizon).
    *
    * Output: one hit per (band, bucket) collision — a doc colliding
    * with the representative in several bands yields several hits;
    * run exact verification (`MinHashLSH.jaccardBp`) or a distinct
    * downstream. Docs with no shingles are skipped (null signature).
    *
    * State is ONE representative per live bucket, evicted by
    * event-time timeout when the watermark passes lastSeen +
    * `horizonMs` — so state size is bounded by distinct buckets
    * inside the horizon, never by stream length. That bound is what
    * makes this runnable forever on an unbounded ingest firehose.
    */
  def neardupCandidatesStream(docs: DataFrame, tsCol: String, idCol: String,
                              textCol: String, k: Int = 8, bands: Int = 4,
                              shingleN: Int = 2,
                              watermark: String = "10 minutes",
                              horizonMs: Long = 600000L): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import graft.dedup.MinHashLSH
    val toked = docs.select(col(idCol).cast("long").as("doc_id"),
      col(tsCol).as("__ts"),
      graft.text.TextFunctions.tokens(col(textCol)).as("__toks"))
    val sigs = MinHashLSH.signatureExprsU(toked, "__toks", k, shingleN)
      .where(col("sig0").isNotNull)
    val bb = MinHashLSH.bandBucketsU(sigs, "doc_id", k, bands, carry = Seq("__ts"))
      .withWatermark("__ts", watermark)
      .select(col("band"), col("bucket"), col("doc_id"), col("__ts").as("ts"))
      .as[BandRow]
    bb.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[RepState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow], state: GroupState[RepState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic within a micro-batch: (event time, id) order
            val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id))
            var rep = state.getOption.map(_.rep)
            var lastMs = state.getOption.map(_.lastMs).getOrElse(0L)
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            sorted.foreach { r =>
              lastMs = math.max(lastMs, r.ts.getTime)
              rep match {
                case None => rep = Some(r.doc_id)
                case Some(f) if f != r.doc_id =>
                  out += NearDupHit(key._1, key._2, f, r.doc_id)
                case _ => ()
              }
            }
            state.update(RepState(rep.get, lastMs))
            state.setTimeoutTimestamp(lastMs + horizonMs)
            out.iterator
          }
      }
  }

  /** A flush sentinel: an event at or beyond this second closes any
    * open session for its user without starting a new one.
    */
  val FlushAt: Long = Long.MaxValue / 2

  /** Streaming CDC-apply: an incremental-merge SINK. Each micro-batch
    * is aggregated to (key, n, total) and MERGED into a keyed state
    * table (counts add, DECIMAL totals add — never doubles, so
    * incremental == from-scratch exactly). State versions are written
    * to `$statePath/v<batchId>` and the latest version wins: the
    * write is idempotent per batchId (a replayed batch overwrites its
    * own version, it never double-applies), which is the property
    * that makes a streaming warehouse sink exactly-once on top of
    * at-least-once delivery. Returns the path of the latest version.
    *
    * Scale: per batch one keyed aggregate (map-side combinable) + one
    * keyed merge join against state — both shuffles on the key; state
    * size is |keys|, not |events|. A production sink would range-
    * bucket the state table by key and compact versions; the merge
    * math is unchanged.
    */
  def upsertAggregate(batch: DataFrame, batchId: Long, keyCol: String,
                      amountCol: String, statePath: String): String = {
    val spark = batch.sparkSession
    // the running total lives in decimal(38,2) in EVERY state version:
    // amounts quantize to (18,2) on entry, but totals must not narrow
    // back — under ANSI mode an overflowing (18,2) cast would throw
    // mid-stream, and a (28,2) v0 next to (18,2) v1+ would make the
    // state schema version-dependent
    val agg = batch.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(amountCol).cast("decimal(18,2)"))
          .cast("decimal(38,2)").as("total_d"))
    val prev = latestStateVersion(spark, statePath, batchId)
    val merged = prev match {
      case Some(p) =>
        spark.read.parquet(p).unionByName(agg)
          .groupBy(col(keyCol))
          .agg(sum("n").as("n"),
            sum("total_d").cast("decimal(38,2)").as("total_d"))
      case None => agg
    }
    val out = s"$statePath/v$batchId"
    merged.write.mode("overwrite").parquet(out)
    out
  }

  /** Latest state version strictly below `batchId` (so a replayed
    * batch merges against its ORIGINAL predecessor, not itself).
    * Hadoop FS API — works on local paths and shared filesystems
    * alike.
    */
  def latestStateVersion(spark: org.apache.spark.sql.SparkSession,
                         statePath: String, batchId: Long): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption.map(_ -> s.getPath))
      .filter(_._1 < batchId)
      .sortBy(_._1).lastOption.map(_._2.toString)
  }

  /** Stateful gap-rule sessionizer over a stream of per-user events —
    * the streaming form of `Sessionize.merge` (pygr A2 semantics).
    * Emits a session when a newer event exceeds `gapSec` from the
    * session end; with `timeoutMs > 0` idle groups also flush via
    * processing-time timeout. An `Ev(user, >= FlushAt)` sentinel
    * forces a deterministic flush (useful in tests/backfills).
    */
  def sessionize(ds: Dataset[Ev], gapSec: Long,
                 timeoutMs: Long = 1000L): Dataset[Session] = {
    import ds.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, timeoutConf) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => Session(uid, s.start, s.end, s.n)).toSeq
            state.remove()
            out.iterator
          } else {
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            evs.toSeq.sortBy(e => e.sec).foreach { e =>
              (cur, e.sec >= FlushAt) match {
                case (Some(s), true) =>
                  closed += Session(uid, s.start, s.end, s.n); cur = None
                case (None, true) => ()
                case (Some(s), false) if e.sec <= s.end + gapSec =>
                  cur = Some(SessState(s.start, math.max(s.end, e.sec), s.n + 1))
                case (Some(s), false) =>
                  closed += Session(uid, s.start, s.end, s.n)
                  cur = Some(SessState(e.sec, e.sec, 1))
                case (None, false) =>
                  cur = Some(SessState(e.sec, e.sec, 1))
              }
            }
            cur match {
              case Some(s) => state.update(s)
              case None => if (state.exists) state.remove()
            }
            if (timeoutMs > 0 && cur.isDefined) state.setTimeoutDuration(timeoutMs)
            closed.iterator
          }
      }
  }
}
