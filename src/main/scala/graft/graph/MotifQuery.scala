package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pin

/** One query-graph edge: bind `from` → `to` by rows of `edges`
  * (a DataFrame whose FIRST two columns are source and target node
  * id). Different edges may draw from different DataFrames — the
  * analog of the reference's pluggable edge-source GQIs
  * (`graphquery.py:592-682`: container / attribute / callable /
  * subquery sources). `filter` is the per-step user predicate
  * (`graphquery.py:500-503`), applied over the bound node columns.
  */
case class MotifEdge(from: String, to: String, edges: DataFrame,
                     filter: Option[Column] = None)

/** Subgraph-isomorphism matcher (pygr `GraphQuery`,
  * `graphquery.py:425-806`; SURVEY.md J5): the reference's
  * backtracking DFS becomes a chain of equi-joins, one per query
  * edge in bind order; an edge whose endpoints are both already
  * bound becomes an existence (left-semi) filter — exactly the
  * closure-edge re-check of `graphquery.py:465-472`; injectivity
  * (`dataMatch` marking, `graphquery.py:577-587`) becomes pairwise
  * inequality filters. Catalyst then reorders/broadcasts the joins
  * and codegens the whole pipeline — the moral equivalent of the
  * reference's Pyrex query compiler (`graphquery.py:239-422`),
  * for free.
  *
  * Cyclic query graphs work (closure edges are filters, not joins),
  * matching `tests/graph_test.py:114-130`.
  */
object MotifQuery {

  /** `maxHits` caps the solution count like the reference's `maxhit`
    * batching (`graphquery.py:354-365`; SURVEY.md W5) — applied as a
    * plan-level limit so Catalyst can short-circuit the joins.
    */
  def find(motif: Seq[MotifEdge], injective: Boolean = true,
           maxHits: Option[Int] = None): DataFrame = {
    val df = findAll(motif, injective)
    maxHits.map(df.limit).getOrElse(df)
  }

  /** The shared-neighbor motif `(s1)->(h)<-(s2)` with a degree-aware
    * skew defense — the scale-safe specialization of `find` for its
    * most common (and most explosive) shape. Returns (s1, s2,
    * n_shared) for unordered pairs `s1 < s2` with `n_shared` =
    * number of distinct shared hubs.
    *
    * The equi-self-join is the right plan for uniform degrees — pair
    * generation is whole-stage-codegen with no array building — but
    * one hot hub of degree d yields d² join rows GENERATED inside
    * the single task that owns that hub key. So the plan splits on
    * hub degree (one O(E) count aggregate, its exchange reused by
    * the other branches):
    *   - cold hubs (degree <= hotDegree, default chunkSize): plain
    *     self-join pair generation — bounded at hotDegree² rows per
    *     hub task BY CONSTRUCTION;
    *   - hot hubs: neighbors are salt-chunked by `hash(src) mod
    *     ceil(degree/chunkSize)`, so no aggregation buffer ever
    *     exceeds ~chunkSize elements (a 10⁷-degree hub never builds
    *     a 10⁷-element array); the chunk LIST self-joins ((d/C)²
    *     small rows carrying 2C ids — a ~C/2-fold shuffle reduction
    *     over pair rows) and chunk pairs repartition before the
    *     explode so the hot hub's work spreads across the cluster.
    * Both branches emit canonical s1 < s2 pairs into ONE count
    * aggregation — the Σd² shuffle that remains is the output
    * itself, which is irreducible.
    *
    * `minShared`: a consumer that keeps only `n_shared >= k` pairs
    * can pass k down, because `n_shared(s1,s2) <= min(outdeg(s1),
    * outdeg(s2))` — a source bound to fewer than k hubs cannot appear
    * in any qualifying pair, so its edges are dropped BEFORE pair
    * generation (the pair stream is where the Σd² cost lives; the
    * prune is one O(E) windowed count over the exchange the plan
    * already owes). Dropping a source never changes a surviving
    * pair's count — n_shared is a property of the two sources' own
    * hub sets — so `sharedNeighbors(e, minShared = k).where(n_shared
    * >= k)` ≡ `sharedNeighbors(e).where(n_shared >= k)` exactly.
    * Callers must still apply their `where`: pairs of high-degree
    * sources sharing < k hubs survive the prune. Default 1 = off.
    *
    * COST: the prune is one extra full-edge exchange + sort (the
    * windowed count). Pass it only when the source-degree
    * distribution has a real tail below k — on an edge set where
    * every source clears the bar it prunes nothing and measured ~29%
    * extra task-CPU at v2sf1 (DRIFT_r14 §2: the TPC-H-shaped
    * supplier→part set has min outdeg ≥ 8, so the gated j5/u2 leave
    * it off; the seeded random fixture in SharedNeighborsSpec has the
    * tail and shows the pair-stream reduction).
    *
    * `rowsHint` (optional, 0 = off): an UPPER BOUND on the edge count,
    * used to size the pinned edge set's partition count as
    * min(session shuffle partitions, rows/65536 + 1) — the
    * `EdgeGraph.sizedPartitions` contract. Without it the pin runs at the
    * session width even when the edge set is tiny, and every
    * downstream stage pays (width × first-pass-JIT) task-CPU for work
    * that fits in a handful of partitions (suite-context j5 at sf0.1:
    * ~34 task-CPU s at width 32 for ~2 s of steady-state compute). On
    * a big edge set the min() leaves the session value in charge — the
    * at-scale behavior is unchanged. Callers with a cheap bound (e.g.
    * a parquet-metadata row count of the pre-distinct edge source)
    * should pass it.
    */
  def sharedNeighbors(edges: DataFrame, chunkSize: Int = 1024,
                      hotDegree: Long = 0L, minShared: Long = 1L,
                      rowsHint: Long = 0L): DataFrame = {
    require(chunkSize > 0)
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    val thr = if (hotDegree > 0L) hotDegree else chunkSize.toLong
    val Array(s, d) = edges.columns.take(2)
    val e0 = edges.select(col(s).as("__src"), col(d).as("__dst")).distinct()
    // windowed count, NOT a self-join against a groupBy of e0: joining
    // a frame to an aggregate of itself re-evaluates the scan+distinct
    // subtree (ReuseExchange does not collapse it — the r9 lesson);
    // the window is one exchange on __src over rows the plan already
    // streams
    val e1 =
      if (minShared <= 1L) e0
      else e0.withColumn("__sdeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__src")))
        .where(col("__sdeg") >= minShared)
        .drop("__sdeg")
    // Pin the edge set ONCE: every branch below (degree agg, hot
    // anti-join probe AND build, chunk agg) consumes `e`, and Spark
    // has no cross-branch CSE for DataFrame lineage — the broadcast
    // build sides in particular cannot reuse the distinct's shuffle
    // exchange, so the executed plan re-ran scan→distinct up to 5×
    // per call (u2's formatted plan showed two full copies for the
    // cold self-join alone; steady-state stage attribution at sf0.1
    // put ~40% of task-CPU in the duplicated subtrees). One
    // materialization of the distinct edge rows is strictly smaller
    // than ONE of the re-evaluations it removes (each re-run pays the
    // scan plus the distinct's exchange).
    // The explicit hub-keyed repartition matters: a bare checkpoint
    // freezes whatever layout AQE coalesced the distinct down to
    // (4 byte-sized partitions at sf0.1), and the pair-expansion
    // compute below would inherit that near-serial width (measured:
    // u2 wall 2.9 s → 8.3 s from exactly this). AQE honors
    // user-numbered repartitions, and the exchange is not an extra
    // cost at any scale — every REMOVED re-evaluation carried its own
    // full exchange of the same rows inside the duplicated distinct.
    val spark = edges.sparkSession
    val parts = if (rowsHint > 0L) EdgeGraph.sizedPartitions(spark, rowsHint)
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = Pin(e1.repartition(parts, col("__dst")), "sharedNeighbors.edges")
    val deg = e.groupBy("__dst").agg(count(lit(1)).as("__deg"))
    val hot = deg.where(col("__deg") > thr)

    val eCold = e.join(hot.select("__dst"), Seq("__dst"), "left_anti")
    val coldPairs = eCold
      .join(eCold.select(col("__src").as("__src2"), col("__dst")), Seq("__dst"))
      .where(col("__src") < col("__src2"))
      .select(col("__src").as("s1"), col("__src2").as("s2"))

    val nc = ceil(col("__deg") / lit(chunkSize.toDouble)).cast("int")
    val chunks = e.join(hot, Seq("__dst"))
      .groupBy(col("__dst"), pmod(hash(col("__src")), nc).as("__ci"))
      .agg(collect_set("__src").as("__chunk"))
    val a = chunks.select(col("__dst"), col("__ci").as("__ca_i"), col("__chunk").as("__ca"))
    val b = chunks.select(col("__dst"), col("__ci").as("__cb_i"), col("__chunk").as("__cb"))
    // Double-explode + codegen'd WHERE, NOT explode(filter(cb, x >
    // s1)): the HOF lambda runs interpreted per array ELEMENT
    // (DRIFT_r12 §8's ~10× + JIT-lottery class — this was the last
    // unlisted HOF on a hot path, invisible to the sf0.001 plan audit
    // because AQE's empty-side propagation erases the hot branch
    // there). The where emits the same pair set — cross-chunk cells
    // whole, same-chunk cells upper-triangle — and the surplus
    // same-chunk rows die map-side in the same codegen stage, before
    // the pair exchange.
    val hotPairs = a.join(b, Seq("__dst")).where(col("__ca_i") <= col("__cb_i"))
      .repartition(col("__dst"), col("__ca_i"), col("__cb_i"))
      .select(col("__ca_i"), col("__cb_i"), col("__cb"), explode(col("__ca")).as("s1"))
      .select(col("__ca_i"), col("__cb_i"), col("s1"), explode(col("__cb")).as("s2"))
      .where(col("__ca_i") < col("__cb_i") || col("s2") > col("s1"))
      // salt chunks are not value-ordered: canonicalize cross-chunk
      // pairs (each unordered pair is still emitted exactly once per
      // shared hub — cross-chunk pairs only in their one (ci,cj)
      // cell, same-chunk pairs via the > filter)
      .select(least(col("s1"), col("s2")).as("s1"),
              greatest(col("s1"), col("s2")).as("s2"))

    // Hash-exchange RAW pairs before the count: the pair stream is
    // generated clustered by HUB (__dst), so each map task sees a
    // near-complete cross-section of the global (s1,s2) pair space —
    // the partial-agg hash map needs ~|distinct pairs| entries PER
    // TASK, overflows to sort+spill once that outgrows task memory,
    // and CPU bends superlinear (measured at sf1: 6.7 GB spill,
    // 19.6× CPU for 10× data; this shape: 0 spill, ~linear). After
    // the exchange the aggregation's distribution is satisfied, so
    // its per-task group count is bounded by the partition, and the
    // map-side combine that couldn't combine anything is gone. The
    // exchange streams Σd² compact rows — strictly cheaper than
    // sort-spilling the same rows through a useless partial agg.
    coldPairs.unionByName(hotPairs)
      .repartition(col("s1"), col("s2"))
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Sketch-based APPROXIMATE shared-neighbor counts — the O(E)
    * alternative when even the chunked exact plan's Σd² pair output
    * is too much (the r1 verdict's "sketch variant"): minhash each
    * node's neighbor set (k seeded md5 mins — deterministic, so the
    * estimate itself is oracle-reproducible), band-bucket to find
    * candidate pairs, estimate Jaccard from matching signature
    * components, and convert to an intersection-size estimate via
    * |A∩B| = J/(1+J)·(|A|+|B|). Nothing in the plan is quadratic in
    * degree: signatures are one pass over E with map-side min
    * combine, and the only join is the band-bucket equi-join.
    *
    * Output: (s1, s2, est_jac_bp, n_shared_est) for candidate pairs
    * (recall bounded by the banding, like any LSH).
    *
    * `hasher` picks the minhash family: `"xx"` (default — xxhash64,
    * codegen'd longs end to end, the production path) or `"md5"`
    * (hex strings, engine-portable — what the DuckDB-gated j5b query
    * pins; same LSH s-curve, different buckets). The estimate formula
    * is hash-agnostic; SketchHashParitySpec bounds the xx estimates
    * against exact Jaccard on a fixture.
    */
  def sharedNeighborsSketch(edges: DataFrame, k: Int = 16,
                            bands: Int = 4, hasher: String = "xx"): DataFrame = {
    require(hasher == "xx" || hasher == "md5", s"unknown hasher: $hasher")
    require(k % bands == 0)
    val Array(s, d) = edges.columns.take(2)
    // ONE aggregation computes the k minhashes AND the set size
    // (identical values to MinHashLSH.signatures at shingleN=1: the
    // distinct edge set's 1-shingles are itself), and the band-bucket
    // rows CARRY sigs + size to the candidate join. Two lessons are
    // baked into this shape: (a) the previous composition re-joined
    // candidates back to the signature and size tables — FIVE
    // evaluations of the whole scan→minhash subtree in the executed
    // plan (r9 sf5 audit: ~3× the intrinsic one-pass CPU, exp 1.41);
    // (b) an earlier form built per-node neighbor ARRAYS
    // (collect_set) only to explode them straight back into rows —
    // pure waste that turns hazardous under heavy-tailed degrees,
    // where a hot node's array (774 k elements on the r10 v2sf10
    // fixture) must be materialized in every partial-agg buffer that
    // sees the key. `distinct()` on the edge rows gives the same
    // multiset with bounded buffers.
    // null dst must be dropped BEFORE distinct: the collect_set form this
    // replaced silently dropped nulls, and keeping (src, null) rows would
    // add a minhash element (xxhash64 of null = seed) and inflate __sz.
    val sh = edges
      .select(col(s).as("__src"), col(d).cast("string").as("sh"))
      .where(col("sh").isNotNull)
      .distinct()
    // the md5 minima come from one native aggregate (hashes the row k
    // times, compares raw digests, hex-encodes only the k winners)
    val sigAggs =
      if (hasher == "xx") (0 until k).map(i => min(xxhash64(lit(i), col("sh"))).as(s"sig$i"))
      else Seq(graft.functions.MinHashMd5(col("sh"), k).as("__md5"))
    // sigs stays as LINEAGE (r19 null result, four configs measured
    // solo cold-JVM at sf0.1 — task-CPU, the stable currency across
    // these draws: un-pinned 12.0 s; localCheckpoint pin 13.1;
    // pin behind repartition(10, __src) 17.5; pin at session width 32
    // 25-27. Wall differences were inside the draw noise, suite
    // context showed the pin wall-flat with +3 CPU. The band-bucket
    // self-join does evaluate this subtree twice when one side
    // broadcasts, but evaluating twice-narrow-COMPILED beats
    // once-wide-interpreted in the cold-JVM single-pass methodology,
    // and at cluster scale both sides shuffle and ReuseExchange
    // covers the double evaluation anyway.)
    val sigAgg = sh.groupBy("__src").agg(count(lit(1)).cast("long").as("__sz"), sigAggs: _*)
    val sigs =
      if (hasher == "xx") sigAgg
      else sigAgg.select(col("__src") +: col("__sz") +:
        (0 until k).map(i => col("__md5").getItem(i).as(s"sig$i")): _*)
    // bucket expressions bit-identical to MinHashLSH.bandBuckets{,Xx}
    // (the DuckDB oracle reproduces the md5 form's buckets)
    val r = k / bands
    val bucketRows = (0 until bands).map { b =>
      val seg = (b * r until (b + 1) * r).map(i => col(s"sig$i"))
      struct(lit(b).as("band"),
        (if (hasher == "xx") xxhash64(seg: _*).cast("string") else md5(concat(seg: _*)))
          .as("bucket"))
    }
    val carried = col("__src") +: col("__sz") +:
      (0 until k).map(i => col(s"sig$i"))
    // bb stays as LINEAGE (the r18 probe measured pinning it
    // wall-flat): with sigs pinned above, re-evaluating bb on both
    // join sides only re-runs the bucket explode over node-sized
    // pinned rows — cheap — while pinning bb would freeze the larger
    // post-explode frame for no measured gain.
    val bb = sigs.select(carried :+ explode(array(bucketRows: _*)).as("bb"): _*)
      .select(carried ++ Seq(col("bb.band").as("band"), col("bb.bucket").as("bucket")): _*)
    val a = bb.select(col("__src").as("i") +: col("band") +: col("bucket") +:
      col("__sz").as("__szi") +: (0 until k).map(x => col(s"sig$x").as(s"__a$x")): _*)
    val b = bb.select(col("__src").as("j") +: col("band") +: col("bucket") +:
      col("__sz").as("__szj") +: (0 until k).map(x => col(s"sig$x").as(s"__b$x")): _*)
    val m = (0 until k).map(x =>
      when(col(s"__a$x") === col(s"__b$x"), 1L).otherwise(0L)).reduce(_ + _)
    a.join(b, Seq("band", "bucket"))
      .where(col("i") < col("j"))
      .select(col("i"), col("j"), m.as("__m"),
        col("__szi"), col("__szj"))
      // a pair can collide in several bands; the carried values are
      // per-node constants, so max == the old distinct-then-rejoin
      .groupBy("i", "j")
      .agg(max("__m").as("__m"), max("__szi").as("__szi"),
        max("__szj").as("__szj"))
      .withColumn("est_jac_bp", floor(lit(10000L) * col("__m") / k).cast("long"))
      .withColumn("n_shared_est",
        floor(col("est_jac_bp") * (col("__szi") + col("__szj")) /
          (lit(10000L) + col("est_jac_bp"))).cast("long"))
      .select(col("i").as("s1"), col("j").as("s2"),
        col("est_jac_bp"), col("n_shared_est"))
  }

  private def findAll(motif: Seq[MotifEdge], injective: Boolean): DataFrame = {
    require(motif.nonEmpty)
    var bound = List.empty[String]
    var result: DataFrame = null

    motif.zipWithIndex.foreach { case (me, i) =>
      val Array(s, d) = me.edges.columns.take(2)
      val step = me.edges.select(col(s).as(s"__s$i"), col(d).as(s"__d$i"))
      (bound.contains(me.from), bound.contains(me.to)) match {
        case (false, false) =>
          require(result == null,
            s"motif edge ${me.from}->${me.to} is disconnected from earlier edges")
          result = step.select(col(s"__s$i").as(me.from), col(s"__d$i").as(me.to))
          bound = me.to :: me.from :: bound
        case (true, false) =>
          result = result.join(step, result(me.from) === step(s"__s$i"))
            .withColumnRenamed(s"__d$i", me.to).drop(s"__s$i")
          bound = me.to :: bound
        case (false, true) =>
          result = result.join(step, result(me.to) === step(s"__d$i"))
            .withColumnRenamed(s"__s$i", me.from).drop(s"__d$i")
          bound = me.from :: bound
        case (true, true) => // closure edge → existence filter
          result = result.join(step,
            result(me.from) === step(s"__s$i") && result(me.to) === step(s"__d$i"),
            "left_semi")
      }
      me.filter.foreach(f => result = result.where(f))
    }

    if (injective) {
      val vars = bound.reverse
      for {
        (a, i) <- vars.zipWithIndex
        b <- vars.drop(i + 1)
      } result = result.where(col(a) =!= col(b))
    }
    result
  }
}
