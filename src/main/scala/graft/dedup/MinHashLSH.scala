package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** MinHash + banded LSH near-duplicate detection — the scale path for
  * corpus dedup (shingle → minhash signature → band bucket →
  * bucket-join), plus exact n-gram Jaccard verification of candidate
  * pairs. The idiomatic replacement for the reference's external
  * similarity join (BLAST, pygr `blast.py:86-413`; SURVEY.md J8):
  * candidates are found by equi-joins on band buckets (shuffle
  * bounded by bucket population), never by an all-pairs comparison.
  *
  * Hashes are md5-hex strings: deterministic, engine-portable, and
  * lexicographic min == numeric min on fixed-length hex.
  */
object MinHashLSH {

  /** The banded-LSH operating point for a band count: a pair at
    * Jaccard similarity s becomes a candidate with probability
    * P(s) = 1 − (1 − s^r)^b, r = k/b — an s-curve whose steep
    * midpoint sits near (1/b)^(1/r) (the standard banding analysis).
    * This returns that midpoint: pairs above it are caught with high
    * probability, pairs below mostly skipped.
    */
  def bandThreshold(k: Int, bands: Int): Double = {
    require(bands >= 1 && k % bands == 0, s"bands $bands must divide k=$k")
    math.pow(1.0 / bands, bands.toDouble / k)
  }

  /** Band count for a TARGET Jaccard threshold (the r16 principled-
    * knob companion to `Salt.recommendBuckets`): among the divisors
    * of the signature length k, the one whose [[bandThreshold]] lands
    * closest to the target in log space (thresholds spread
    * multiplicatively over (0,1)). More bands = lower threshold =
    * more candidates; ties resolve toward the SMALLER band count
    * (fewer buckets per doc = cheaper bucket join, and the curve's
    * miss side is the cheaper error: a missed near-dup survives, a
    * spurious candidate costs a verification pass anyway). Callers
    * needing `bandBucketsU`'s injective pairing keep r = 2 (b = k/2)
    * explicitly; this helper serves the xxhash/md5 band paths that
    * accept any r.
    */
  def recommendBands(k: Int, targetJaccard: Double): Int = {
    require(k >= 1, s"k $k < 1")
    require(targetJaccard > 0.0 && targetJaccard < 1.0,
      s"targetJaccard $targetJaccard not in (0,1)")
    (1 to k).filter(k % _ == 0)
      .minBy(b => math.abs(math.log(bandThreshold(k, b)) - math.log(targetJaccard)))
  }

  /** The default near-dup operating point for `bands = 0`: catch
    * pairs above ~50% Jaccard, mostly skip pairs below — the standard
    * corpus-dedup threshold (true near-dups sit far above it, topical
    * overlap far below).
    */
  val DefaultTargetJaccard: Double = 0.5

  /** Band count for `bands = 0` on the md5/xxhash band paths
    * (VERDICT r16 #1 — the knob becomes a measured default, like
    * `Salt.autoBuckets`): [[recommendBands]] at
    * [[DefaultTargetJaccard]]. Pure arithmetic on k — no job. */
  private def autoBands(k: Int): Int = recommendBands(k, DefaultTargetJaccard)

  /** Per-doc minhash signature columns sig0..sig{k-1} over word
    * n-gram shingles of `toksCol`.
    */
  def signatures(docs: DataFrame, idCol: String, toksCol: String,
                 k: Int = 8, shingleN: Int = 2): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(TextFunctions.shingles(col(toksCol), shingleN)).as("sh"))
    // one native aggregate over one shingle pass: the k seed hashes are
    // computed map-side and partially min-combined before the single
    // shuffle on the doc id (no seed-explode row multiplication)
    sh.groupBy(col(idCol)).agg(graft.functions.MinHashMd5(col("sh"), k).as("__md5"))
      .select(col(idCol) +: (0 until k).map(i => col("__md5").getItem(i).as(s"sig$i")): _*)
  }

  /** Production-hash variant of `signatures`: xxhash64 (codegen'd
    * 64-bit hashing, longs end to end — no hex strings) with the same
    * minhash/band semantics. Buckets differ from the md5 path
    * (different hash family) but exact-duplicate shingle sets still
    * collide by construction, and near-dup recall is the same LSH
    * s-curve. Measured honestly at sf1: wall-clock PARITY with the
    * md5 path (2.7 s both) — the signature pass is bound by the
    * shingle explode + doc-keyed shuffle, not the hash — so the md5
    * path costs nothing where the DuckDB oracle pins it; this
    * variant's value is the 8x smaller signature/bucket payload
    * (8 longs vs 8 hex strings) entering that shuffle and the
    * downstream band join.
    */
  def signaturesXx(docs: DataFrame, idCol: String, toksCol: String,
                   k: Int = 8, shingleN: Int = 2): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(TextFunctions.shingles(col(toksCol), shingleN)).as("sh"))
    val aggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"sig$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Modulus of the universal-hash minhash family (`signaturesU`):
    * a ~2^30 prime, so every affine product a·h (a, h < P) stays
    * under 2^60 — no 64-bit overflow in EITHER engine (Spark wraps
    * silently, DuckDB raises; staying exact in both is what keeps the
    * oracle gate on this path).
    */
  val P: Long = 1000000007L

  /** Deterministic affine seeds (a_i, b_i) for `signaturesU` — fixed
    * public mixing constants (Knuth's 2654435761, xxhash's
    * 2246822519), reduced mod P. Exposed so the DuckDB oracle SQL can
    * inline the IDENTICAL constants.
    */
  def seedsU(k: Int): Seq[(Long, Long)] = (0 until k).map { i =>
    val a = ((i + 1) * 2654435761L) % P
    val b = ((i + 1) * 2246822519L) % P
    (if (a == 0L) 1L else a, b)
  }

  /** PRODUCTION-path minhash signatures, fully oracle-portable: ONE
    * md5 per shingle (the only deterministic hash both Spark and
    * DuckDB expose) reduced to a 60-bit integer, then k affine
    * transforms (a_i·h + b_i) mod P — Broder's universal-hash minhash.
    * vs `signatures`: 1 hash instead of k per shingle (the md5 path
    * pays 8 full digests per shingle) and LONG signatures instead of
    * 32-char hex strings (8× smaller payload into the doc-keyed
    * shuffle and the band join), with the same LSH s-curve. vs
    * `signaturesXx`: comparable cost profile, but every value is
    * reproducible in DuckDB SQL — so the d2/d10/c10 prod queries keep
    * the full rows+schema+hash oracle gate that a non-portable hash
    * family would forfeit.
    */
  def signaturesU(docs: DataFrame, idCol: String, toksCol: String,
                  k: Int = 8, shingleN: Int = 2): DataFrame = {
    // Native generator: one compiled pass builds, hashes, and dedups
    // the n-grams (exactly conv(substr(md5(sh),1,15),16,10) % P over
    // the distinct shingles, so every oracle stays valid). The
    // declarative explode(shingles)+md5 chain paid interpreted HOF
    // lambdas per element plus the InferFiltersFromGenerate guard
    // re-evaluation — the suite's single largest repeated cost, and a
    // per-run JIT-stability hazard (DRIFT_r12.md §6–§8).
    val sh = docs.select(col(idCol),
      graft.functions.ShingleHashExplode
        .shingle_hash_explode(col(toksCol), shingleN, P).as("hm"))
    val aggs = seedsU(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hm") + lit(b)) % P).as(s"sig$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row (STREAMING-safe) twin of `signaturesU`: the same one-md5
    * + k-affine-transforms family as pure array expressions, no
    * aggregation — value-identical to `signaturesU` (array_min over
    * the per-shingle transforms = the min-aggregate). Docs with no
    * shingles get null signatures; filter `sig0 IS NOT NULL` before
    * bucketing, exactly like `signatureExprs`.
    */
  def signatureExprsU(docs: DataFrame, toksCol: String,
                      k: Int = 8, shingleN: Int = 2): DataFrame = {
    // ONE fused native pass (ngram build + md5 + k affine mins) — the
    // declarative HOF form ran (k+1) interpreted lambda sweeps per row
    // and dominated st8's engine CPU (r9: 44 s engine at sf1, ~90% in
    // lambda interpretation). Values bit-identical (min over the
    // shingle multiset == min over the distinct set).
    val sigArr = graft.functions.MinHashU.minhash_u(
      col(toksCol), shingleN, seedsU(k))
    val withSig = docs.withColumn("__sigs", sigArr)
    (0 until k).foldLeft(withSig) { case (d, i) =>
      d.withColumn(s"sig$i", element_at(col("__sigs"), i + 1))
    }.drop("__sigs")
  }

  /** Band buckets over `signaturesU`/`signatureExprsU` output. With
    * r = k/bands = 2 the bucket is the INJECTIVE pairing
    * sig_a · P + sig_b (both < P, so the product stays under 2^60):
    * bucket equality is exactly band-signature equality — zero bucket
    * collisions, which even the md5-concat form cannot claim past
    * truncation. Larger r would need modular folding
    * (collision-bounded, not injective), so it is rejected rather
    * than silently weakened. `carry` columns (e.g. an event-time
    * timestamp for streaming state eviction) pass through untouched.
    *
    * `bands = 0` (auto) resolves to k/2 — with r pinned at 2 the band
    * count is DETERMINED by k, so on this path the threshold knob is
    * the signature length itself: threshold ≈ (2/k)^(1/2), i.e.
    * k ≈ 2/target² (k = 8 ⇒ 0.5, the default near-dup operating
    * point — and exactly what [[recommendBands]](8, 0.5) picks).
    */
  def bandBucketsU(sigs: DataFrame, idCol: String, k: Int,
                   bands: Int = 0, carry: Seq[String] = Nil): DataFrame = {
    val bands1 = if (bands > 0) bands else k / 2
    require(k % bands1 == 0 && k / bands1 == 2,
      s"bandBucketsU: injective pairing needs r = 2 (got k=$k bands=$bands1); " +
        "use bandBuckets/bandBucketsXx for other shapes")
    val rows = (0 until bands1).map { b =>
      struct(lit(b).as("band"),
        (col(s"sig${2 * b}") * P + col(s"sig${2 * b + 1}")).as("bucket"))
    }
    val keep = col(idCol) +: carry.map(col)
    sigs.select(keep :+ explode(array(rows: _*)).as("bb"): _*)
      .select(keep ++ Seq(col("bb.band").as("band"), col("bb.bucket").as("bucket")): _*)
  }

  /** Band buckets over `signaturesXx` output: bucket = xxhash64 of
    * the band's signature columns (stays a long end to end).
    * `bands = 0` (auto) = [[recommendBands]] at the default 0.5
    * Jaccard target — no job, pure arithmetic on k.
    */
  def bandBucketsXx(sigs: DataFrame, idCol: String, k: Int,
                    bands: Int = 0): DataFrame = {
    val bands1 = if (bands > 0) bands else autoBands(k)
    require(k % bands1 == 0)
    val r = k / bands1
    val rows = (0 until bands1).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * r until (b + 1) * r).map(i => col(s"sig$i")): _*).as("bucket"))
    }
    sigs.select(col(idCol), explode(array(rows: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Signature columns sig0..sig{k-1} as PURE PER-ROW array
    * expressions — no aggregation, so this works on a STREAMING
    * DataFrame (where `signatures`' groupBy would be a stateful op)
    * and inside any per-row pipeline. Values are identical to
    * `signatures`: same seeded md5 per shingle, and `array_min` on
    * fixed-length hex strings is the same lexicographic min as the
    * min-aggregate. Docs with no shingles get null signatures
    * (`signatures` drops them at the explode) — filter nulls out
    * before bucketing.
    */
  def signatureExprs(docs: DataFrame, toksCol: String,
                     k: Int = 8, shingleN: Int = 2): DataFrame = {
    val sh = TextFunctions.shingles(col(toksCol), shingleN)
    (0 until k).foldLeft(docs) { (d, i) =>
      d.withColumn(s"sig$i",
        array_min(transform(sh, s => md5(concat(lit(s"$i:"), s)))))
    }
  }

  /** (id, band, bucket) rows: bucket = md5 of the band's signature
    * concat; `bands` must divide k evenly. `carry` columns (e.g. an
    * event-time timestamp for streaming state eviction) pass through
    * untouched. `bands = 0` (auto) = [[recommendBands]] at the
    * default 0.5 Jaccard target — no job, pure arithmetic on k.
    */
  def bandBuckets(sigs: DataFrame, idCol: String, k: Int, bands: Int = 0,
                  carry: Seq[String] = Nil): DataFrame = {
    val bands1 = if (bands > 0) bands else autoBands(k)
    require(k % bands1 == 0)
    val r = k / bands1
    val rows = (0 until bands1).map { b =>
      struct(lit(b).as("band"),
        md5(concat((b * r until (b + 1) * r).map(i => col(s"sig$i")): _*)).as("bucket"))
    }
    val keep = col(idCol) +: carry.map(col)
    sigs.select(keep :+ explode(array(rows: _*)).as("bb"): _*)
      .select(keep ++ Seq(col("bb.band").as("band"), col("bb.bucket").as("bucket")): _*)
  }

  /** Distinct candidate pairs (i < j) sharing any band bucket.
    *
    * `maxBucket` (0 = unlimited) caps bucket population: a degenerate
    * bucket — boilerplate corpus, empty docs — would otherwise make
    * the self-join quadratic in ITS size with all rows in one task.
    * Capped buckets are dropped from candidate generation (standard
    * LSH practice: a bucket that large is a non-discriminative hash,
    * not a dup cluster); audit what was dropped with
    * `oversizedBuckets` before relying on a cap.
    */
  def candidatePairs(buckets: DataFrame, idCol: String,
                     maxBucket: Int = 0): DataFrame = {
    // (r18 opt note: pinning `buckets` with a repartition + a
    // `graft.core.Pin`, as sharedNeighbors pins its edges, was tried and
    // REVERTED: at sf0.1 the duplicated signature subtrees are cheap
    // next to the pin's two job barriers (d2 0.92→1.38 s, d10
    // 1.11→1.95 s) and the frozen 32-wide layout leaks into iterative
    // consumers (c10's CC, then GraphX: 1.7→6.6 s, iterations ×
    // near-empty tasks; CC now sizes its own blocks). At corpus scale
    // the duplication self-resolves without a pin: both self-join
    // sides shuffle the IDENTICAL subtree on (band, bucket), so
    // ReuseExchange evaluates it once — the duplication is a
    // small-input broadcast artifact only.)
    val kept =
      if (maxBucket <= 0) buckets
      else {
        val ok = buckets.groupBy("band", "bucket")
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") <= maxBucket)
          .select("band", "bucket")
        buckets.join(ok, Seq("band", "bucket"), "left_semi")
      }
    val a = kept.select(col(idCol).as("i"), col("band"), col("bucket"))
    val b = kept.select(col(idCol).as("j"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("i") < col("j"))
      .select("i", "j").distinct()
  }

  /** INCREMENTAL LSH probe: candidate pairs touching a DELTA batch,
    * against a pre-built (typically persisted-parquet) base band-bucket
    * index — the ingest pattern that makes corpus dedup sustainable at
    * 100 TB: when a new crawl snapshot arrives, shingling/minhashing
    * runs over the DELTA ONLY, the base corpus is touched through its
    * 3-column bucket index (a columnar scan, never a re-shingle), and
    * base×base pairs — the quadratic bulk of a full recompute — are
    * never formed. Output work is bounded by the delta's bucket
    * populations.
    *
    * The `maxBucket` cap counts base + delta population together, so
    * the kept-bucket set — and therefore the candidate set — is
    * IDENTICAL to what a full `candidatePairs` over base ∪ delta would
    * produce, restricted to pairs with at least one delta member. That
    * equivalence (incremental probe ≡ full recompute ∩ delta-touching)
    * is the operator's correctness contract: IncrementalNeardupSpec
    * asserts it on fixtures including cap-boundary buckets that the
    * delta itself pushes over the limit, and the d12 query pins it
    * against the DuckDB oracle's full-recompute-then-filter form.
    *
    * At deployment scale the per-bucket counts live WITH the persisted
    * index (they are one aggregate of it, maintained additively per
    * ingested batch), so the cap check reads counters instead of
    * re-counting rows; here the count is recomputed from the index
    * scan — same plan shape, one extra aggregate over 3 columns.
    *
    * Both inputs need (`idCol`, band, bucket) columns, i.e. the output
    * shape of any of the `bandBuckets*` builders; ids must be globally
    * unique across base and delta (re-ingesting an id present in the
    * base is an upsert, not a probe — drop it from the delta first).
    */
  def incrementalCandidatePairs(baseBuckets: DataFrame,
                                deltaBuckets: DataFrame, idCol: String,
                                maxBucket: Int = 0): DataFrame = {
    val cols = Seq(col(idCol), col("band"), col("bucket"))
    val delta = deltaBuckets.select(cols: _*)
    val all = baseBuckets.select(cols: _*).unionByName(delta)
    val (deltaKept, allKept) =
      if (maxBucket <= 0) (delta, all)
      else {
        val ok = all.groupBy("band", "bucket")
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") <= maxBucket)
          .select("band", "bucket")
        (delta.join(ok, Seq("band", "bucket"), "left_semi"),
         all.join(ok, Seq("band", "bucket"), "left_semi"))
      }
    val a = deltaKept.select(col(idCol).as("i"), col("band"), col("bucket"))
    val b = allKept.select(col(idCol).as("j"), col("band"), col("bucket"))
    // delta×delta pairs arrive twice (once from each side's probe row);
    // canonicalizing to (min, max) before the distinct dedupes them and
    // matches candidatePairs' i < j convention
    a.join(b, Seq("band", "bucket"))
      .where(col("i") =!= col("j"))
      .select(least(col("i"), col("j")).as("i"),
              greatest(col("i"), col("j")).as("j"))
      .distinct()
  }

  /** The (band, bucket, n) groups a `maxBucket` cap would drop — the
    * audit/log companion of `candidatePairs`. */
  def oversizedBuckets(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)

  /** Shingle-set overlap per candidate pair: (i, j, inter, szi, szj).
    * Shared engine of the exact-verify metrics (Jaccard, containment).
    *
    * Plan: fetch each side's shingle ARRAY by a doc-id-keyed join and
    * intersect in-row — cost is linear in candidate pairs (two keyed
    * shuffles), with per-row work bounded by shingle-array length.
    * The tempting alternative — a shingle-keyed equi-join counting
    * co-occurrences — is quadratic in per-shingle doc frequency and
    * degenerates on boilerplate-heavy corpora where every shingle is
    * hot (measured: an unbounded sf1 run vs seconds here); with
    * capped candidate generation the pair count is the small side by
    * construction, so the in-row intersect wins at any scale.
    */
  private def pairOverlap(pairs: DataFrame, docs: DataFrame, idCol: String,
                          toksCol: String, shingleN: Int,
                          restrict: Boolean): DataFrame = {
    // `restrict = true`: shingle ONLY docs that appear in a candidate
    // pair — a semi-join on candidate ids that
    // `PushDownLeftSemiAntiJoin` pushes below the tokenize/shingle
    // projection to the scan. The right shape when candidates ≪
    // corpus AND `pairs` is materialized (parquet/cached, as in
    // d12's index probe): deriving the id set re-evaluates the pairs
    // subtree, which is free on storage but re-runs the whole LSH
    // pipeline when pairs is an in-plan subtree (measured 1.8–2.4×
    // on d10/c10 — AQE does not reuse the stages across the three
    // consumers once column pruning diverges their scans). Hence
    // opt-in, not default. The restriction provably can't change the
    // (inner-join) output.
    val base =
      if (!restrict) docs
      else docs.join(
        pairs.select(col("i").as(idCol))
          .unionByName(pairs.select(col("j").as(idCol))).distinct(),
        Seq(idCol), "left_semi")
    // HASHED shingle sets (sorted distinct 60-bit md5 hashes, the
    // native ShingleHashes kernel — same arithmetic the oracles'
    // hs/hsv CTEs restate, so the compare is collision-exact) and the
    // fused sorted-merge intersect: `array_intersect` built a per-pair
    // hash set of STRINGS and then discarded it for its size — the
    // dominant cost of every verify at corpus scale (d2 at v2sf5
    // spent ~2/3 of its task-CPU here). Docs with no shingles emit
    // empty sets and can never appear in candidates (no signature);
    // the size guard just keeps them out of the keyed joins.
    val sha = base.select(col(idCol),
      graft.functions.ShingleHashes
        .shingle_hashes(col(toksCol), shingleN, P).as("shs"))
      .where(size(col("shs")) > 0)
    pairs
      .join(sha.select(col(idCol).as("i"), col("shs").as("shi")), "i")
      .join(sha.select(col(idCol).as("j"), col("shs").as("shj")), "j")
      .select(col("i"), col("j"),
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("shi"), col("shj")).as("inter"),
        size(col("shi")).cast("long").as("szi"),
        size(col("shj")).cast("long").as("szj"))
  }

  /** Exact Jaccard (basis points) between shingle sets of id pairs.
    * `pairs` has (i, j); `docs` has (idCol, toksCol).
    */
  def jaccardBp(pairs: DataFrame, docs: DataFrame, idCol: String,
                toksCol: String, shingleN: Int = 2,
                restrict: Boolean = false): DataFrame =
    pairOverlap(pairs, docs, idCol, toksCol, shingleN, restrict)
      .select(col("i"), col("j"),
        TextFunctions.bp(col("inter"), col("szi") + col("szj") - col("inter"))
          .as("jac_bp"))

  /** Asymmetric shingle CONTAINMENT (basis points) per candidate pair:
    * |A∩B|/|A| and |A∩B|/|B| — the "document swallowed by a larger
    * one" test that symmetric Jaccard underweights when sizes differ
    * (a quote-page containing a full article scores low Jaccard but
    * ~10000 containment on the article side). Same restricted-join
    * plan as jaccardBp.
    */
  def containmentBp(pairs: DataFrame, docs: DataFrame, idCol: String,
                    toksCol: String, shingleN: Int = 2,
                    restrict: Boolean = false): DataFrame =
    pairOverlap(pairs, docs, idCol, toksCol, shingleN, restrict)
      .select(col("i"), col("j"),
        TextFunctions.bp(col("inter"), col("szi")).as("cont_i_bp"),
        TextFunctions.bp(col("inter"), col("szj")).as("cont_j_bp"))
}
