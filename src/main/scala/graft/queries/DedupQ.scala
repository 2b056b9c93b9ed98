package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Graft, Pin}
import graft.core.Graft.table
import graft.dedup.{MinHashLSH, SimHash}
import graft.graph.EdgeGraph
import graft.similarity.CosineSim
import graft.text.TextFunctions.tokens

/** Near-duplicate detection and similarity search — the LLM-pipeline
  * operator family (SURVEY.md §7.7): MinHash+LSH banded dedup with
  * exact Jaccard verification, SimHash fingerprints, embedding
  * near-dup pairs (bucketed), and brute-force cosine top-k ANN
  * baseline. All hashing md5-based so the DuckDB oracle reproduces
  * results bit-for-bit; Jaccard in integer basis points.
  */
object DedupQ {

  private def docToks(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))

  /** Embedding near-dup pairs blocked by label × sign-LSH bucket —
    * the bounded-block shape (SemDeDup-style cluster-then-dedup):
    * blocking on the fixed-cardinality label alone makes block size
    * grow linearly with the corpus and the pair join quadratic
    * (measured 84x at the 10x sf1 audit). Through round 6 the block
    * key was the √n-stride IVF cell, but its nearest-centroid
    * assignment is an n×√n broadcast join — n^1.5, and the sf1 full
    * audit measured d4/d6 at 16x for 10x data. Hyperplane sign
    * buckets assign in ONE corpus pass (n · nPlanes dot products, no
    * join), and `autoPlanes` grows the plane count with the corpus so
    * occupancy stays ≈64 — candidate generation AND within-bucket
    * verification both linear. Same-label pairs in different buckets
    * are out of scope BY DEFINITION of the operator (blocked near-dup,
    * not exact all-pairs).
    */
  private def embNeardupPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.CosineLsh
    val emb = table(s, dir, "embeddings")
    val np = CosineLsh.autoPlanes(emb.count(), targetBucketSize = 64)
    val bucketed = CosineLsh.signBuckets(emb, "embedding", dims = 64, nPlanes = np)
      .select(concat(col("label").cast("string"), lit("_"),
        col("bucket").cast("string")).as("bk"),
        col("vec_id"), col("embedding"))
    CosineSim.neardupPairs(bucketed, "vec_id", "embedding", "bk", 0.3)
  }

  val defs: Map[String, Q] = Map(
    // d2: shingle → minhash (k=8) → 4 bands → bucket join → verify —
    // on the PRODUCTION hash path (signaturesU: one md5 per shingle +
    // k affine transforms, long signatures end to end, injective band
    // buckets) per the r7 verdict's "stop paying 8 md5s/doc in the
    // benched path". Still fully oracle-gated: the affine family is
    // reproduced constant-for-constant in DuckDB. The original
    // 8-md5 hex path stays registered (and oracle-gated) as
    // d2b_minhash_md5.
    "d2_minhash_lsh" -> { (s, dir) =>
      val docs = docToks(s, dir)
      val sigs = MinHashLSH.signaturesU(docs, "doc_id", "toks", k = 8, shingleN = 2)
      // maxBucket = 16: this corpus's tiny vocabulary (~40 words ⇒
      // ~1600 possible 2-shingles) degenerates LSH buckets as the
      // corpus grows — the sf1 audit measured candidate pairs growing
      // 100x for 10x docs uncapped. The cap is the standard fix (an
      // oversized bucket is a non-discriminative hash, not a dup
      // cluster); audit drops with MinHashLSH.oversizedBuckets.
      // bands = auto (r17): k/2 = 4 on the injective U path — same
      // bands, buckets, and oracle as the r16 hand-picked value
      val cand = MinHashLSH.candidatePairs(
        MinHashLSH.bandBucketsU(sigs, "doc_id", k = 8), "doc_id",
        maxBucket = 16)
      MinHashLSH.jaccardBp(cand, docs, "doc_id", "toks", shingleN = 2)
        .orderBy("i", "j")
    },

    // d2b: the original md5-hex minhash family, kept registered and
    // oracle-gated (its hashes are the r1-r7 baseline; d2/d10/c10 now
    // run the cheaper universal-hash family as their prod default).
    "d2b_minhash_md5" -> { (s, dir) =>
      val docs = docToks(s, dir)
      val sigs = MinHashLSH.signatures(docs, "doc_id", "toks", k = 8, shingleN = 2)
      // bands = auto (r17): recommendBands(8, 0.5) = 4 — the r16
      // hand-picked value, now derived from the target threshold
      val cand = MinHashLSH.candidatePairs(
        MinHashLSH.bandBuckets(sigs, "doc_id", k = 8), "doc_id",
        maxBucket = 16)
      MinHashLSH.jaccardBp(cand, docs, "doc_id", "toks", shingleN = 2)
        .orderBy("i", "j")
    },

    // d10: asymmetric containment on the d2 candidate pairs — the
    // RefinedWeb/CCNet "near-dup by inclusion" test: |A∩B|/|A| vs
    // |A∩B|/|B| catches a short doc swallowed by a longer one that
    // symmetric Jaccard scores low. Same LSH candidate generation and
    // candidate-restricted verify join as d2 (never all-pairs).
    "d10_containment" -> { (s, dir) =>
      val docs = docToks(s, dir)
      val sigs = MinHashLSH.signaturesU(docs, "doc_id", "toks", k = 8, shingleN = 2)
      val cand = MinHashLSH.candidatePairs(
        MinHashLSH.bandBucketsU(sigs, "doc_id", k = 8, bands = 4), "doc_id",
        maxBucket = 16)
      MinHashLSH.containmentBp(cand, docs, "doc_id", "toks", shingleN = 2)
        .where(greatest(col("cont_i_bp"), col("cont_j_bp")) >= 6000)
        .orderBy("i", "j")
    },

    // d14: LSH RECALL AUDIT — the number every production dedup run
    // needs before trusting its banded index: of the TRUE near-dup
    // partners (exact shingle-Jaccard ≥ 0.5) of a query sample, what
    // fraction does the d2 pipeline (k=8, 4 bands, bucket cap 16)
    // actually surface? Ground truth is exact but affordable because
    // ONE side is the sample AND candidate generation is
    // prefix-filtered (SetSimJoin): a raw sample⋈corpus posting-list
    // join is Θ(n²) through the stop-shingle lists (measured 21 GB
    // shuffle / 5 055 s CPU at v2sf5 — DRIFT_r12.md) while the
    // frequency-ordered prefix join generates only pairs that can
    // clear the threshold, losslessly. At this corpus's
    // dup strength (j ≥ 0.9, where r=2,b=4 theory says ≈100%) any
    // shortfall is the bucket cap's price, measured instead of
    // argued; production re-tunes bands for the j it cares about.
    // The probe panel is SIZE-BOUNDED, not fraction-bounded: doc_id %
    // k = 0 with k = max(7, n/8192), so the panel saturates at ~8 200
    // probes as the corpus grows (k = 7 at every gate SF and at
    // v2sf1). A fixed FRACTION is output-bound quadratic on this (and
    // any crawl-shaped) corpus: dup-cluster sizes are power-law with
    // the head cluster Θ(n/log n), so true pairs grow Θ(n²/log²n) and
    // a 1/7 panel's truth list grows with them (measured: the truth
    // side's candidate mass ×21 from v2sf1→v2sf5, DRIFT_r12.md §3) —
    // no exact algorithm can beat its own output size. A bounded
    // panel keeps the audit's expected truth mass linear in n while
    // still sampling clusters size-proportionally. Companion of
    // n4_ann_recall (same audit for the ANN index).
    "d14_lsh_recall" -> { (s, dir) =>
      import graft.text.TextFunctions
      val docs = docToks(s, dir)
      // parquet-footer count (no Spark job); the SAME integer math
      // runs in the oracle's ksel scalar subquery
      val k = math.max(7L, Graft.rowCount(s, dir, "documents") / 8192L)
      // truth feeds BOTH the recall semi-join and the per-probe
      // totals; it is pair-count-sized (≈ the near-dup pair list), so
      // pin it once instead of re-running candidate generation per
      // consumer.
      // Hashed element sets (sorted distinct 2-gram hashes, the native
      // ShingleHashes kernel): the string-set form spent ~70% of the
      // query's task-CPU at v2sf5 on corpus-wide string machinery —
      // exploding every shingle STRING through the df-count join, the
      // struct sort, and two set-array shuffles (stage-attributed in
      // DRIFT_r12.md §3). Long elements make every one of those
      // primitive. The ORACLE hashes identically (shh/szh CTEs), so
      // the comparison is collision-exact, the d15 precedent.
      val truth = Pin(graft.dedup.SetSimJoin.jaccardPairsBp(
          docs.select(col("doc_id"),
            graft.functions.ShingleHashes
              .shingle_hashes(col("toks"), 2, MinHashLSH.P).as("shs")),
          "doc_id", "shs", minBp = 5000, probePred = _ % k === 0)
        .select("q", "o"), "d14.truth")
      val sigs = MinHashLSH.signaturesU(docs, "doc_id", "toks", k = 8, shingleN = 2)
      val cand = MinHashLSH.candidatePairs(
        MinHashLSH.bandBucketsU(sigs, "doc_id", k = 8, bands = 4), "doc_id",
        maxBucket = 16)
      val lsh = cand.select(col("i").as("q"), col("j").as("o"))
        .unionByName(cand.select(col("j").as("q"), col("i").as("o")))
        .where(col("q") % k === 0)
      val hits = truth.join(lsh, Seq("q", "o"), "left_semi")
        .groupBy("q").agg(count(lit(1)).as("n_hit"))
      truth.groupBy("q").agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("q"), "left")
        .na.fill(0L, Seq("n_hit"))
        .select(col("q"), col("n_true"), col("n_hit"),
          TextFunctions.bp(col("n_hit"), col("n_true")).as("recall_bp"))
        .orderBy("q")
    },

    // d13: CONTENT-DEFINED chunking dedup (the LBFS/restic CDC shape):
    // a chunk boundary is declared wherever the Rabin–Karp polynomial
    // of the LOCAL 8-char window lands in the prime-modulus hit band
    // (expected chunk ≈ 32 chars; production tunes window/band).
    // Because the boundary decision depends only on window CONTENT, an
    // insertion early in a document shifts only the chunks it touches —
    // the resynchronization property fixed-size chunking (d9) lacks,
    // and the reason storage/backup dedup is CDC-based. Everything is
    // per-doc HOF projection (no shuffle until the chunk-hash groupBy);
    // the polynomial is pure integer arithmetic in BOTH engines (an
    // earlier md5-per-position version cost 4× as much wall for the
    // same boundaries-per-byte), and a rolling deployment evaluates the
    // SAME polynomial incrementally. Output per doc: chunk count,
    // chunks shared with ANY other chunk instance corpus-wide, and the
    // byte mass those shared chunks cover.
    "d13_cdc_dedup" -> { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      // fused native chunker (boundary scan + slice in one compiled
      // pass); chunk values identical to explode(Cdc.chunks(text))
      val ex = d.select(col("doc_id"),
          graft.functions.CdcChunksExplode.cdc_chunks_explode(col("text"))
            .as(Seq("idx", "chunk")))
        .select(col("doc_id"), md5(col("chunk")).as("h"),
          length(col("chunk")).cast("long").as("nb"))
      val global = ex.groupBy("h").agg(count(lit(1)).as("cnt"))
      ex.join(global, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_shared_chunks"),
          sum(when(col("cnt") > 1, col("nb")).otherwise(0L)).as("shared_bytes"))
        .orderBy("doc_id")
    },

    // d12: INCREMENTAL near-dup ingest — the delta-batch probe of a
    // persisted LSH index. Docs with doc_id % 10 = 7 play the "new
    // crawl snapshot"; the rest are the already-indexed base corpus.
    // The base's band buckets are persisted to parquet and READ BACK,
    // so the probe really runs against the on-disk index (the
    // 3-column columnar scan a 100 TB ingest would read), delta docs
    // are the only ones shingled/minhashed in the probe path, and
    // base×base pairs are never formed. Verification stays
    // candidate-restricted (keyed fetch of both sides' shingle
    // arrays). The oracle is the FULL recompute over base ∪ delta
    // filtered to delta-touching pairs — the equivalence that makes
    // incremental ingest trustworthy (also spec'd independently in
    // IncrementalNeardupSpec, including cap-boundary buckets).
    "d12_incremental_neardup" -> { (s, dir) =>
      val docs = docToks(s, dir)
      val isDelta = col("doc_id") % 10 === 7
      // the index is WRITTEN for both sides in ONE corpus pass,
      // partitioned by ingest batch — the realistic on-disk layout (an
      // ingest appends its batch's buckets as a new partition, so the
      // NEXT batch probes it), and the single pass matters because the
      // documents scan+tokenize, not the hashing, dominates signature
      // cost (measured ~2.5 s fixed per pass at sf0.1 — a 10% delta
      // pass costs almost as much as a full one). The base partition's
      // share of the write is the one-time indexing cost a deployment
      // amortizes across ingests. Probing reads parquet on both sides:
      // each document is shingled/minhashed exactly once and no
      // signature subtree re-executes across the cap count, the probe
      // join, or the delta×delta leg.
      val idx = tmpPath(s, "d12_lsh_index")
      MinHashLSH.bandBucketsU(
          MinHashLSH.signaturesU(docs, "doc_id", "toks", k = 8, shingleN = 2),
          "doc_id", k = 8, bands = 4)
        .withColumn("batch", when(isDelta, "delta").otherwise("base"))
        .write.mode("overwrite").partitionBy("batch").parquet(idx)
      val cand = MinHashLSH.incrementalCandidatePairs(
        s.read.parquet(idx).where(col("batch") === "base"),
        s.read.parquet(idx).where(col("batch") === "delta"), "doc_id",
        maxBucket = 16)
      // restrict = true: cand is parquet-backed, so deriving the
      // candidate-id set is a cheap re-read and verify shingles ONLY
      // pair members — the incremental point (delta-bounded work)
      // carried through to verification
      MinHashLSH.jaccardBp(cand, docs, "doc_id", "toks", shingleN = 2,
          restrict = true)
        .orderBy("i", "j")
    },

    // d11: SemDeDup-shape cluster-blocked semantic dedup (Abbas et
    // al. 2023, arXiv:2303.09540): assign every embedding to its
    // nearest centroid from n5's deterministic md5-sampled codebook
    // (k fixed → assignment is n·k with the codebook broadcast —
    // linear in the corpus), then compare pairs ONLY within a cell
    // and drop each vector that has a smaller-id cell-mate with
    // cosine ≥ τ (keeper = the smallest such id). Cluster blocking is
    // the 100 TB point: candidate work is Σ cell², never all-pairs —
    // and k GROWS with the corpus, k = max(16, ⌈√n⌉), the IVF
    // balance: ~√n cells of ~√n vectors keeps assignment AND
    // within-cell comparison at n^1.5 (a fixed k measured 6.3× for
    // 10× data — cell populations grow linearly and pair work
    // quadratically; √n re-measured at 3.4×). The sign-LSH blocking
    // of d4 is the recall-oriented sibling; this is the
    // throughput-oriented one the paper runs at web scale. The
    // paper's keep-policy (lowest centroid similarity) is swappable;
    // min-id is used here because the PRUNING SET is the operator and
    // min-id makes it oracle-exact.
    "d11_semdedup" -> { (s, dir) =>
      import graft.similarity.IvfFlat
      val emb = table(s, dir, "embeddings")
      val k = math.max(16L, IvfFlat.autoStride(emb.count())).toInt
      val cb = IvfFlat.codebook(emb, "vec_id", "embedding", k)
      // scan-local assignment (NearestCentroid expression): the
      // a/b self-join below re-executes its input subtree, so the
      // assignment must be a cheap map, not an n·k join
      val cells = IvfFlat.assignWith(emb, "vec_id", "embedding", cb)
        .select(col("cell"), col("vec_id"), col("embedding"),
          sqrt(CosineSim.dot(col("embedding"), col("embedding"))).as("nm"))
      val a = cells.select(col("cell"), col("vec_id").as("i"),
        col("embedding").as("vi"), col("nm").as("ni"))
      val b = cells.select(col("cell"), col("vec_id").as("j"),
        col("embedding").as("vj"), col("nm").as("nj"))
      a.join(b, Seq("cell"))
        .where(col("j") < col("i"))
        .select(col("cell"), col("i"), col("j"),
          (CosineSim.dot(col("vi"), col("vj")) / (col("ni") * col("nj")))
            .as("cos"))
        .where(col("cos") >= 0.3)
        .groupBy(col("i").as("vec_id"))
        .agg(max("cell").as("cell"), min("j").as("keeper"),
          count(lit(1)).as("n_near"))
        .orderBy("vec_id")
    },

    // c10: near-dup REMOVAL end-to-end — the action the detection
    // queries feed (the C4/CCNet step): capped-LSH candidates →
    // exact-Jaccard verify ≥ 0.8 → connected components over the
    // dup-pair graph → keep the min doc_id per cluster, emit every
    // removed doc with its keeper. Transitive closure matters: a≈b,
    // b≈c must drop BOTH b and c even when a≉c directly — pairwise
    // keep-first would keep c. CC runs on the pair graph (tiny next
    // to the corpus), not the corpus.
    "c10_neardup_removal" -> { (s, dir) =>
      val docs = docToks(s, dir)
      val sigs = MinHashLSH.signaturesU(docs, "doc_id", "toks", k = 8, shingleN = 2)
      val cand = MinHashLSH.candidatePairs(
        MinHashLSH.bandBucketsU(sigs, "doc_id", k = 8, bands = 4), "doc_id",
        maxBucket = 16)
      val dup = MinHashLSH.jaccardBp(cand, docs, "doc_id", "toks", shingleN = 2)
        .where(col("jac_bp") >= 8000)
      new EdgeGraph(dup.select(col("i").as("src"), col("j").as("dst")))
        .connectedComponents(s)
        .where(col("node") =!= col("comp"))
        .select(col("node").as("removed_doc"), col("comp").as("kept_doc"))
        .orderBy("removed_doc")
    },

    // d3: 32-bit simhash fingerprints.
    "d3_simhash" -> { (s, dir) =>
      SimHash.simhash(docToks(s, dir), "doc_id", "toks").orderBy("doc_id")
    },

    // d5: simhash near-dup pairs — GUARANTEED-complete byte-block LSH:
    // 56-bit simhash split into 7 byte blocks; by pigeonhole (r+1
    // rule, r = 6) every pair within hamming 6 shares at least one
    // block, so the banded join generates every qualifying candidate
    // and the hamming filter only discards, never misses.
    "d5_simhash_pairs" -> { (s, dir) =>
      val sh = SimHash.simhash(docToks(s, dir).where(col("doc_id") < 200),
        "doc_id", "toks", bits = 56)
      val blocks = sh.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(6))).as("b"))
        .withColumn("blk", expr("(shiftright(simhash, CAST(b*8 AS INT)) & 255)"))
      val a = blocks.select(col("doc_id").as("i"), col("simhash").as("h1"),
        col("b"), col("blk"))
      val bb = blocks.select(col("doc_id").as("j"), col("simhash").as("h2"),
        col("b"), col("blk"))
      a.join(bb, Seq("b", "blk"))
        .where(col("i") < col("j"))
        .select(col("i"), col("j"),
          bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
        .distinct()
        .where(col("hamming") <= 6)
        .orderBy("i", "j")
    },

    // d6: semantic dedup CLUSTERS — near-dup pairs unioned into
    // connected components (what a pipeline actually drops on: each
    // cluster keeps one representative, the min id = the component
    // label). EdgeGraph CC over the d4 pair graph.
    "d6_embed_clusters" -> { (s, dir) =>
      val pairs = embNeardupPairs(s, dir)
        .select(col("i").as("src"), col("j").as("dst"))
      new graft.graph.EdgeGraph(pairs).connectedComponents(s)
        .orderBy("node")
    },

    // d4: embedding near-dup pairs, blocked by label × LSH bucket.
    "d4_embed_neardup" -> { (s, dir) =>
      embNeardupPairs(s, dir).orderBy("i", "j")
    },

    // d7: benchmark decontamination — flag corpus docs sharing any
    // 3-gram with a held-out benchmark set (doc_id % 97 == 0 stands
    // in for the eval set). The real pre-training hygiene step: eval
    // n-grams are a tiny broadcast set, the corpus side is one
    // shingle pass + semi-join — linear in corpus size.
    "d7_decontam" -> { (s, dir) =>
      // native distinct shingle-hash generator (the d15 kernel, full
      // 60-bit md5 prefix — collision-exact with the oracle's
      // restated arithmetic); replaces explode(shingles())+md5, whose
      // transform lambda hashed every shingle interpreted
      val sh = docToks(s, dir)
        .select(col("doc_id"),
          graft.functions.ShingleHashExplode
            .shingle_hash_explode(col("toks"), 3, 1L << 60).as("h"))
      val bench = sh.where(col("doc_id") % 97 === 0).select("h").distinct()
      sh.where(col("doc_id") % 97 =!= 0)
        .join(bench, "h")
        .groupBy("doc_id")
        .agg(countDistinct("h").as("n_contaminated"))
        .orderBy("doc_id")
    },

    // d15: BLOOM-FILTER decontamination — d7 at the scale where even
    // the eval-set n-gram table is too big to broadcast as rows
    // (URL/doc blocklists run to billions of entries). Build: 3
    // affine probes (the U-family's seed construction, indices 8-10,
    // same P) hash every bench 3-gram into a Bloom filter PACKED into
    // m/64 long words and shipped via `sparkContext.broadcast`
    // (fetched once per executor — not a plan literal resent with
    // every task closure). m SCALES with the eval set: 16 bits per
    // distinct bench shingle (fill ≤ 1−e^(−3/16) ≈ 0.17, 3-probe fpp
    // ≤ 0.5%), floor 2^20, rounded to a word multiple in exact
    // integer math the oracle reproduces. A FIXED m saturates as the
    // eval suite grows — the isolated r12 sweep measured fill 15% →
    // 80% and fpp 0.3% → 51% from v2sf1 → v2sf10 at m=2^20, turning
    // the flagged-residue join superlinear (cpu_exp 1.35,
    // DRIFT_r12.md §6); fpp-targeted sizing is how production
    // blocklist filters are provisioned. The corpus pass is map-only
    // (3 codegen'd shift-and-mask probes per shingle via the native
    // BloomBitsetProbe, zero shuffle, zero join), and the exact
    // semi-join runs only on the Bloom-flagged residue. Output
    // reports n_flagged vs n_exact per doc, so the filter's
    // false-positive overhead is measured, not assumed. Everything
    // integer → fully oracle-gated.
    "d15_bloom_decontam" -> { (s, dir) =>
      val P = MinHashLSH.P
      val seeds = MinHashLSH.seedsU(11).drop(8)
      // Fused native shingle→hash generator: the declarative
      // explode(transform(shingles…md5…)) chain is interpreted per
      // element AND re-evaluated by the inferred explode guard —
      // measured not just ~2× slower but UNSTABLE (341 vs 1075 CPU s
      // across identical v2sf10 runs; the JIT's treatment of the
      // megamorphic interpreted eval loop is a per-run lottery, see
      // functions/ShingleHash.scala). Same hash arithmetic, so the
      // oracle SQL is untouched.
      val sh = docToks(s, dir).select(col("doc_id"),
        graft.functions.ShingleHashExplode
          .shingle_hash_explode(col("toks"), 3, P).as("h"))
      // bench is eval-set-sized (distinct 3-gram hashes of the n/97
      // held-out docs); pin it once — its count sizes the filter, its
      // probe positions fill it, and the exactness join reads it again
      val bench = Pin(sh.where(col("doc_id") % 97 === 0).select("h").distinct(), "d15.bench")
      val nb = bench.count()
      val m = math.max(1L << 20, 64L * ((16L * nb + 63L) / 64L))
      def probe(h: Column, i: Int): Column =
        (lit(seeds(i)._1) * h + lit(seeds(i)._2)) % lit(P) % lit(m)
      // DISTRIBUTED fill: each partition packs its probe positions
      // into its own word array and the partials OR-merge up a tree —
      // no position row on the driver (at the billions-of-entries
      // blocklist scale a position collect breaks long before the
      // packed broadcast does), and no distinct-shuffle either: the
      // bitset OR absorbs duplicates for free.
      val words = graft.functions.BloomBitsetProbe.packDistributed(m,
        bench.select(explode(array(
          probe(col("h"), 0), probe(col("h"), 1), probe(col("h"), 2))).as("p")))
      val bc = s.sparkContext.broadcast(words)
      // fused k-probe: ONE predicate referencing h once, so the
      // pushed-down corpus filter evaluates the md5+conv hash chain
      // once per shingle instead of once per conjunct
      val flagged = sh.where(col("doc_id") % 97 =!= 0)
        .where(graft.functions.BloomBitsetProbe.probeK(
          col("h"), seeds.take(3), P, m, bc))
      flagged
        .join(bench.select(col("h"), lit(1L).as("ex")), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(countDistinct("h").as("n_flagged"),
          countDistinct(when(col("ex").isNotNull, col("h"))).as("n_exact"))
        .orderBy("doc_id")
    },

    // n1: brute-force cosine top-3 for the first 20 vectors.
    "n1_ann_topk" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      CosineSim.topK(emb.filter(col("vec_id") < 20), emb,
          "vec_id", "vec_id", "embedding", k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q", "rank")
    },

    // n3: IVF-Flat ANN — sampled-centroid coarse quantizer, corpus
    // grouped into inverted lists, queries probe the 2 nearest cells
    // and brute-force only within them (the other scale path next to
    // n2's LSH buckets).
    "n3_ann_ivf" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val stride = graft.similarity.IvfFlat.autoStride(emb.count())
      val cells = graft.similarity.IvfFlat.assign(emb, "vec_id", "embedding", stride)
      graft.similarity.IvfFlat.searchTopK(emb.filter(col("vec_id") < 20), cells,
          "vec_id", "vec_id", "embedding", k = 3, nprobe = 2, stride)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q", "rank")
    },

    // n9: FILTERED vector search — the metadata-predicated ANN every
    // vector store has to get right. This is the PRE-filter shape:
    // the predicate (label % 3 = 1, ~30% selective) prunes the
    // probed cells' inverted lists BEFORE scoring, so top-k is taken
    // over the filtered candidate set — k survivors guaranteed, and
    // scoring work shrinks with selectivity. The tempting POST-filter
    // (search first, filter the top-k) starves k on selective
    // predicates and is strictly worse here because the filter is a
    // semi-join the optimizer pushes into the list join anyway. Index
    // unchanged (built unfiltered, as persisted indexes are); only
    // the probe narrows.
    "n9_ann_filtered" -> { (s, dir) =>
      import graft.similarity.IvfFlat
      val emb = table(s, dir, "embeddings")
      val cb = IvfFlat.codebook(emb, "vec_id", "embedding", k = 16)
      val cells = IvfFlat.assignTo(emb, "vec_id", "embedding", cb)
      val allowed = cells.join(
        emb.where(col("label") % 3 === 1).select("vec_id"),
        Seq("vec_id"), "left_semi")
      IvfFlat.searchTopKWith(emb.filter(col("vec_id") < 20), allowed, cb,
          "vec_id", "vec_id", "embedding", k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q", "rank")
    },

    // n10: MMR-DIVERSIFIED rerank — the stage after ANN retrieval in a
    // RAG / training-data-selection stack: from each query's top-20
    // cosine candidates, greedily pick 5 maximizing
    // 0.5·relevance − 0.5·max-similarity-to-already-picked (Carbonell
    // & Goldstein's maximal marginal relevance, λ = 0.5). The whole
    // greedy runs inside ONE aggregate expression over per-query
    // candidate/pair-sim arrays (bounded: 20 rows and 20·19 sims per
    // query BY CONSTRUCTION, regardless of corpus size); the corpus is
    // scanned exactly once by the pinned top-20 stage. Scores are
    // IEEE doubles computed by the identical expression tree in both
    // engines, so the gate is hash-exact through all five recursive
    // selection steps.
    "n10_mmr_rerank" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      // pinned: both the candidate grouping and the pair-sim branch
      // consume cand — unpinned, the corpus-wide top-20 stage (the
      // dominant cost) would execute twice
      val cand = Pin(CosineSim.topK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "vec_id", "embedding", k = 20)
        .select(col("q"), col("neighbor").as("n"), col("cos").as("rel")), "n10.cand")
      val cvec = emb.select(col("vec_id").as("n"), col("embedding").as("v"),
        sqrt(CosineSim.dot(col("embedding"), col("embedding"))).as("nn"))
      val withV = cand.join(cvec, "n")
      val lhs = withV.select(col("q"), col("n").as("a"),
        col("v").as("va"), col("nn").as("na"))
      val rhs = withV.select(col("q"), col("n").as("b"),
        col("v").as("vb"), col("nn").as("nb"))
      val pairs = lhs.join(rhs, Seq("q")).where(col("a") =!= col("b"))
        .select(col("q"), col("a"), col("b"),
          (CosineSim.dot(col("va"), col("vb")) / (col("na") * col("nb")))
            .as("sim"))
      // the greedy runs as ONE per-query projection over grouped
      // candidate/pair-sim arrays (bounded: 20 candidates, 380 sims
      // per query BY CONSTRUCTION) — an earlier relationally-unrolled
      // version planned 5 join+window iterations and spent its wall on
      // plan optimization and tiny-stage scheduling (measured 15 s for
      // 25 output rows; HOF form ≈ the top-20 stage alone). The argmax
      // scan is ORDER-INDEPENDENT (strict (score, n) total order), so
      // collect_list's nondeterministic order cannot change the picks.
      val cands = cand.groupBy("q")
        .agg(collect_list(struct(col("n"), col("rel"))).as("cs"))
      val sims = pairs.groupBy("q")
        .agg(collect_list(struct(
          concat_ws("_", col("a"), col("b")).as("k"), col("sim").as("v"))).as("es"))
        .select(col("q"), map_from_entries(col("es")).as("sm"))
      val init = struct(
        array().cast("array<bigint>").as("sel"),
        array().cast("array<struct<rank:bigint,n:bigint,score:double>>").as("out"))
      val picked = cands.join(sims, "q").select(col("q"),
        aggregate(sequence(lit(1), lit(5)), init, (acc, i) => {
          val mmr = (c: org.apache.spark.sql.Column) =>
            when(size(acc("sel")) === 0, c("rel")).otherwise(
              lit(0.5) * c("rel") - lit(0.5) * array_max(
                transform(acc("sel"), sid =>
                  // try_element_at: a pair absent from the sim map must
                  // stay NULL (array_max skips it, the pre-ANSI
                  // behavior) — element_at throws under ANSI mode
                  try_element_at(col("sm"), concat_ws("_", c("n"), sid)))))
          val best = aggregate(col("cs"),
            struct(lit(Double.NegativeInfinity).as("score"), lit(-1L).as("n")),
            (b, c) => when(array_contains(acc("sel"), c("n")), b).otherwise {
              val sc = mmr(c)
              when(sc > b("score") || (sc === b("score") && c("n") < b("n")),
                struct(sc.as("score"), c("n").cast("long").as("n"))).otherwise(b)
            })
          // candidates exhausted (fewer than 5 selectable): keep acc
          // unchanged instead of appending a -1/-Inf filler row the
          // oracle's empty CTE never emits
          when(best("n") === -1L, acc).otherwise(struct(
            concat(acc("sel"), array(best("n"))).as("sel"),
            concat(acc("out"), array(struct(
              i.cast("long").as("rank"), best("n").as("n"),
              best("score").as("score")))).as("out")))
        }).getField("out").as("out"))
      picked.select(col("q"), explode(col("out")).as("p"))
        .select(col("q"), col("p.rank").as("rank"),
          col("p.n").as("neighbor"), col("p.score").as("score"))
        .orderBy("q", "rank")
    },

    // n5: trained-codebook IVF — FIXED k centroids (deterministic
    // md5-smallest hash sample), so assignment is n·k (linear in the
    // corpus) where the √n-stride sampler is n^1.5; the codebook is
    // what Lloyd `refine` starts from (refinement itself is
    // spec-gated: float means can't hash-match the oracle).
    "n5_ann_ivf_trained" -> { (s, dir) =>
      import graft.similarity.IvfFlat
      val emb = table(s, dir, "embeddings")
      val cb = IvfFlat.codebook(emb, "vec_id", "embedding", k = 16)
      val cells = IvfFlat.assignTo(emb, "vec_id", "embedding", cb)
      IvfFlat.searchTopKWith(emb.filter(col("vec_id") < 20), cells, cb,
          "vec_id", "vec_id", "embedding", k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q", "rank")
    },

    // n6: int8-QUANTIZED ANN scoring — per-vector symmetric int8
    // quantization (scale = max|v|/127, floor), integer dot-product
    // ranking. The 100 TB rationale: a quantized index is 4× smaller
    // than float32 (memory-bandwidth-bound scans) and SIMD-friendly;
    // and because scores are pure integers the whole operator — not
    // just its plumbing — is hash-exact against the oracle. Rank
    // parity with float cosine is approximate by design (that's the
    // quantization trade); pair with an n4-style recall eval before
    // swapping it in.
    "n6_ann_quantized" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      // native int8 quantize + integer dot (same arithmetic as the
      // transform/zip_with chains they replace — three interpreted
      // per-component passes per row, plus one per candidate pair)
      val q8 = emb.select(col("vec_id"),
        graft.functions.QuantizeInt8
          .quantize_int8(col("embedding").cast("array<double>")).as("q8"))
      val idot = graft.functions.DotProductLong
        .dot_product_long(col("qa"), col("qb"))
      val scored = q8.where(col("vec_id") < 20)
        .select(col("vec_id").as("q"), col("q8").as("qa"))
        .join(broadcast(q8.select(col("vec_id").as("neighbor"), col("q8").as("qb"))),
          col("q") =!= col("neighbor"))
        .select(col("q"), col("neighbor"), idot.as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy(col("score").desc, col("neighbor"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("q", "rank", "neighbor", "score")
        .orderBy("q", "rank")
    },

    // n4: ANN evaluation — per-query recall@3 of the IVF index
    // against exact brute force (the measurement loop every ANN
    // deployment runs; both sides deterministic, so even the metric
    // is oracle-checkable).
    "n4_ann_recall" -> { (s, dir) =>
      import graft.similarity.IvfFlat
      import graft.text.TextFunctions.bp
      val emb = table(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      val exact = CosineSim.topK(qs, emb, "vec_id", "vec_id", "embedding", k = 3)
        .select(col("q"), col("neighbor"))
      val stride = IvfFlat.autoStride(emb.count())
      val cells = IvfFlat.assign(emb, "vec_id", "embedding", stride)
      val approx = IvfFlat.searchTopK(qs, cells, "vec_id", "vec_id", "embedding",
          k = 3, nprobe = 2, stride)
        .select(col("q"), col("neighbor"))
      val hits = exact.join(approx, Seq("q", "neighbor"), "left_semi")
        .groupBy("q").agg(count(lit(1)).as("n_hit"))
      qs.select(col("vec_id").as("q"))
        .join(hits, Seq("q"), "left")
        .na.fill(0L, Seq("n_hit"))
        .select(col("q"), col("n_hit"), bp(col("n_hit"), lit(3L)).as("recall_bp"))
        .orderBy("q")
    },

    // n2: LSH-bucketed ANN (the scale path) — sign-hyperplane buckets,
    // best neighbor searched only within the query's bucket.
    "n2_ann_lsh" -> { (s, dir) =>
      val emb = graft.similarity.CosineLsh.signBuckets(
        table(s, dir, "embeddings"), "embedding", dims = 64, nPlanes = 4)
      val pairs = CosineSim.neardupPairs(
        emb.select(col("bucket"), col("vec_id"), col("embedding")),
        "vec_id", "embedding", "bucket", threshold = -2.0)
      // per query id (either side of the i<j pair), best same-bucket match
      val cand = pairs.select(col("i").as("q"), col("j").as("neighbor"), col("cos"))
        .union(pairs.select(col("j").as("q"), col("i").as("neighbor"), col("cos")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy(col("cos").desc, col("neighbor"))
      cand.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1 && col("q") < 50)
        .select("q", "neighbor", "cos")
        .orderBy("q")
    },

    // n2b: AUTO-SIZED LSH — the plane count grows with the corpus
    // (integer ceil-log2 of n/targetBucketSize, target 64) so bucket
    // population stays constant as data scales: 3 planes at 500
    // vectors, 5 at 2k, 9 at 20k. The within-bucket quadratic is
    // thereby bounded by design, not by luck — the general fix the
    // sf1 audit demanded for every fixed-cardinality blocking key.
    "n2b_ann_lsh_auto" -> { (s, dir) =>
      import graft.similarity.CosineLsh
      val embRaw = table(s, dir, "embeddings")
      val np = CosineLsh.autoPlanes(embRaw.count(), targetBucketSize = 64)
      val emb = CosineLsh.signBuckets(embRaw, "embedding", dims = 64, nPlanes = np)
      val pairs = CosineSim.neardupPairs(
        emb.select(col("bucket"), col("vec_id"), col("embedding")),
        "vec_id", "embedding", "bucket", threshold = -2.0)
      val cand = pairs.select(col("i").as("q"), col("j").as("neighbor"), col("cos"))
        .union(pairs.select(col("j").as("q"), col("i").as("neighbor"), col("cos")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy(col("cos").desc, col("neighbor"))
      cand.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1 && col("q") < 50)
        .select("q", "neighbor", "cos")
        .orderBy("q")
    },

    // n7: PRODUCT-QUANTIZED ANN (PQ/ADC) — the memory-side scale path:
    // 64-dim vectors become 8 codeword ids (32× smaller index than
    // float32), scoring is 8 integer LUT adds per candidate instead
    // of a 64-dim float dot product. Integer milli-unit quantization
    // + md5-order codebook draw make the WHOLE operator (encode and
    // search) hash-exact against the oracle. Rank parity with exact
    // cosine is approximate by construction — pair with n4-style
    // recall before swapping in (n6's caveat applies).
    "n7_ann_ivfpq" -> { (s, dir) =>
      import graft.similarity.ProductQuantizer
      val emb = table(s, dir, "embeddings")
      val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding",
        k = 16, nSub = 8, subDim = 8)
      val codes = ProductQuantizer.encode(emb, "vec_id", "embedding",
        cb, nSub = 8, subDim = 8)
      ProductQuantizer.adcTopK(emb.filter(col("vec_id") < 20), codes, cb,
          "vec_id", "embedding", k = 3, nSub = 8, subDim = 8)
        .orderBy("q", "rank")
    },

    // n8: two-stage retrieve→RERANK — the production ANN serving
    // shape: PQ/ADC coarse scoring (the 32×-compressed index scan of
    // n7) proposes 20 candidates per query, then an exact fixed-point
    // L2 over only those candidates picks the final top-3. The rerank
    // touches |queries|·20 full vectors instead of the corpus — at
    // 100 TB the full-precision vectors stay in cold storage and only
    // candidates are fetched by a keyed join, never a scan. Integer
    // end-to-end (milli-unit fixed point both stages), so the
    // COMPOSED operator is hash-gated like n6/n7, not just its parts.
    "n8_ann_rerank" -> { (s, dir) =>
      import graft.similarity.ProductQuantizer
      val emb = table(s, dir, "embeddings")
      val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding",
        k = 16, nSub = 8, subDim = 8)
      val codes = ProductQuantizer.encode(emb, "vec_id", "embedding",
        cb, nSub = 8, subDim = 8)
      val cand = ProductQuantizer.adcTopK(emb.filter(col("vec_id") < 20), codes, cb,
          "vec_id", "embedding", k = 20, nSub = 8, subDim = 8)
        .select(col("q"), col("neighbor"))
      val fx = emb.select(col("vec_id"),
        ProductQuantizer.qint(col("embedding")).as("fv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy(col("d2"), col("neighbor"))
      cand
        .join(fx.select(col("vec_id").as("q"), col("fv").as("qv")), "q")
        .join(fx.select(col("vec_id").as("neighbor"), col("fv").as("nv")), "neighbor")
        .select(col("q"), col("neighbor"),
          ProductQuantizer.l2(col("qv"), col("nv")).as("d2"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("q", "rank", "neighbor", "d2")
        .orderBy("q", "rank")
    }
  )

  private val tkSql =
    """SELECT doc_id,
      |  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |              t -> t <> '') AS toks
      |FROM documents""".stripMargin

  private val shSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)),
      |  i -> array_to_string(list_slice(toks, i, i + 1), ' ')))) AS sh
      |FROM tk""".stripMargin

  /** Shared LSH candidate pipeline (minhash k=8 → 4 bands → bucket
    * cap 16 → candidate pairs → per-pair shingle overlap) — ONE copy
    * so the Spark-side parameters (k, bands, maxBucket) can never
    * desynchronize from a subset of the oracles. Expects tk/sh CTEs
    * in scope; yields cand(i,j), sz(doc_id,sz), inter(i,j,ic).
    */
  private val lshCandSql =
    """seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || sh) AS h
      |  FROM sh CROSS JOIN range(8) r(seed)),
      |mh AS (SELECT doc_id, seed, MIN(h) AS m FROM seeded GROUP BY doc_id, seed),
      |sig AS (SELECT doc_id,
      |  MIN(CASE WHEN seed=0 THEN m END) s0, MIN(CASE WHEN seed=1 THEN m END) s1,
      |  MIN(CASE WHEN seed=2 THEN m END) s2, MIN(CASE WHEN seed=3 THEN m END) s3,
      |  MIN(CASE WHEN seed=4 THEN m END) s4, MIN(CASE WHEN seed=5 THEN m END) s5,
      |  MIN(CASE WHEN seed=6 THEN m END) s6, MIN(CASE WHEN seed=7 THEN m END) s7
      |  FROM mh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(s0||s1) AS bucket FROM sig UNION ALL
      |  SELECT doc_id, 1, md5(s2||s3) FROM sig UNION ALL
      |  SELECT doc_id, 2, md5(s4||s5) FROM sig UNION ALL
      |  SELECT doc_id, 3, md5(s6||s7) FROM sig),
      |bsz AS (SELECT band, bucket, COUNT(*) AS bn FROM bands GROUP BY 1, 2),
      |kept AS (SELECT b.* FROM bands b JOIN bsz USING (band, bucket) WHERE bn <= 16),
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM kept a JOIN kept b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id),
      |hsv AS (SELECT DISTINCT doc_id,
      |  ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1000000007 AS hm FROM sh),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM hsv GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS ic
      |  FROM hsv a JOIN hsv b ON a.hm = b.hm AND a.doc_id < b.doc_id
      |  JOIN cand ON cand.i = a.doc_id AND cand.j = b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** The U-family (universal-hash) twin of `lshCandSql` — mirrors
    * `MinHashLSH.signaturesU`/`bandBucketsU` constant-for-constant:
    * one md5 per shingle → 60-bit int mod P → the SAME (a_i, b_i)
    * affine seeds (interpolated from `MinHashLSH.seedsU`, so the two
    * engines can never drift) → injective pair buckets sig·P + sig.
    * Same cap/cand/sz/inter tail as the md5 family.
    */
  private val lshCandUSql: String = {
    val P = MinHashLSH.P
    val seeds = MinHashLSH.seedsU(8)
    val sigCols = seeds.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * hm + $b) % $P) s$i"
    }.mkString(",\n      |  ")
    s"""hs AS (SELECT doc_id,
      |  ('0x' || substr(md5(sh), 1, 15))::BIGINT % $P AS hm FROM sh),
      |sig AS (SELECT doc_id,
      |  $sigCols
      |  FROM hs GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, s0 * $P + s1 AS bucket FROM sig UNION ALL
      |  SELECT doc_id, 1, s2 * $P + s3 FROM sig UNION ALL
      |  SELECT doc_id, 2, s4 * $P + s5 FROM sig UNION ALL
      |  SELECT doc_id, 3, s6 * $P + s7 FROM sig),
      |bsz AS (SELECT band, bucket, COUNT(*) AS bn FROM bands GROUP BY 1, 2),
      |kept AS (SELECT b.* FROM bands b JOIN bsz USING (band, bucket) WHERE bn <= 16),
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM kept a JOIN kept b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id),
      |shh AS (SELECT DISTINCT doc_id, hm FROM hs),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS ic
      |  FROM shh a JOIN shh b ON a.hm = b.hm AND a.doc_id < b.doc_id
      |  JOIN cand ON cand.i = a.doc_id AND cand.j = b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "d7_decontam" ->
      s"""WITH tk AS ($tkSql),
        |sh3 AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS sh
        |  FROM tk)),
        |bench AS (SELECT DISTINCT h FROM sh3 WHERE doc_id % 97 = 0)
        |SELECT doc_id, CAST(COUNT(DISTINCT sh3.h) AS BIGINT) AS n_contaminated
        |FROM sh3 JOIN bench ON sh3.h = bench.h
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d2_minhash_lsh" ->
      s"""WITH tk AS ($tkSql),
        |sh AS ($shSql),
        |$lshCandUSql
        |SELECT c.i, c.j,
        |  CASE WHEN (za.sz + zb.sz - COALESCE(ic, 0)) = 0 THEN 0
        |    ELSE (10000 * COALESCE(ic, 0)) // (za.sz + zb.sz - COALESCE(ic, 0)) END AS jac_bp
        |FROM cand c
        |LEFT JOIN inter ON inter.i = c.i AND inter.j = c.j
        |JOIN sz za ON za.doc_id = c.i
        |JOIN sz zb ON zb.doc_id = c.j
        |ORDER BY c.i, c.j""".stripMargin,

    // d15 = Bloom membership restated as position-set joins: the
    // occupied-bit set is the union of the 3 probe positions over
    // bench hashes, and a hash is flagged iff all 3 of its positions
    // are occupied — identical math, no bitset needed SQL-side. The
    // filter size m is data-dependent (16 bits per distinct bench
    // hash, floor 2^20, word-aligned) in the same exact integer
    // arithmetic as the Spark side, via a scalar subquery.
    "d15_bloom_decontam" -> {
      val P = MinHashLSH.P
      val ss = MinHashLSH.seedsU(11).drop(8)
      def p(i: Int) =
        s"((${ss(i)._1} * h + ${ss(i)._2}) % $P) % (SELECT m FROM msel)"
      s"""WITH tk AS ($tkSql),
        |sh3 AS (SELECT DISTINCT doc_id,
        |  ('0x' || substr(md5(sh), 1, 15))::BIGINT % $P AS h FROM (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS sh
        |  FROM tk)),
        |bench AS (SELECT DISTINCT h FROM sh3 WHERE doc_id % 97 = 0),
        |msel AS (SELECT GREATEST(1048576, 64 * ((16 * COUNT(*) + 63) // 64)) AS m
        |  FROM bench),
        |pos AS (SELECT ${p(0)} AS p FROM bench
        |  UNION SELECT ${p(1)} FROM bench
        |  UNION SELECT ${p(2)} FROM bench),
        |flag AS (SELECT doc_id, h FROM sh3
        |  WHERE doc_id % 97 <> 0
        |    AND ${p(0)} IN (SELECT p FROM pos)
        |    AND ${p(1)} IN (SELECT p FROM pos)
        |    AND ${p(2)} IN (SELECT p FROM pos))
        |SELECT f.doc_id, CAST(COUNT(DISTINCT f.h) AS BIGINT) AS n_flagged,
        |  CAST(COUNT(DISTINCT CASE WHEN b.h IS NOT NULL THEN f.h END) AS BIGINT)
        |    AS n_exact
        |FROM flag f LEFT JOIN bench b ON f.h = b.h
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin
    },

    // d14 = exact-Jaccard ground truth on the bounded probe panel vs
    // the shared LSH candidate pipeline; recall in integer basis
    // points. The truth side works on HASHED shingle sets (the shared
    // shh/sz CTEs — distinct per-doc hm, the hs CTE's md5-mod-P
    // arithmetic) because the Spark side does (ShingleHashes) — same
    // function in both engines, so the compare is collision-exact.
    "d14_lsh_recall" ->
      s"""WITH tk AS ($tkSql),
        |sh AS ($shSql),
        |$lshCandUSql,
        |ksel AS (SELECT GREATEST(7, COUNT(*) // 8192) AS k FROM documents),
        |gi AS (SELECT qa.doc_id AS q, s.doc_id AS o, COUNT(*) AS ic
        |  FROM shh qa JOIN shh s ON qa.hm = s.hm AND qa.doc_id <> s.doc_id
        |  WHERE qa.doc_id % (SELECT k FROM ksel) = 0
        |  GROUP BY 1, 2),
        |truth AS (SELECT gi.q, gi.o FROM gi
        |  JOIN sz za ON za.doc_id = gi.q
        |  JOIN sz zb ON zb.doc_id = gi.o
        |  WHERE (10000 * ic) // (za.sz + zb.sz - ic) >= 5000),
        |lsh AS (SELECT i AS q, j AS o FROM cand WHERE i % (SELECT k FROM ksel) = 0
        |  UNION ALL SELECT j AS q, i AS o FROM cand
        |  WHERE j % (SELECT k FROM ksel) = 0)
        |SELECT t.q, CAST(COUNT(*) AS BIGINT) AS n_true,
        |  CAST(SUM(CASE WHEN l.q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST((10000 * SUM(CASE WHEN l.q IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*)
        |    AS BIGINT) AS recall_bp
        |FROM truth t LEFT JOIN lsh l ON l.q = t.q AND l.o = t.o
        |GROUP BY t.q ORDER BY t.q""".stripMargin,

    "d13_cdc_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |b AS (SELECT doc_id, text, len,
        |  list_filter(range(8, GREATEST(len, 8) + 1),
        |    i -> i <= len AND
        |      (CAST(ord(substr(text, CAST(i AS INT) - 7, 1)) AS BIGINT) * 27512614111
        |     + CAST(ord(substr(text, CAST(i AS INT) - 6, 1)) AS BIGINT) * 887503681
        |     + CAST(ord(substr(text, CAST(i AS INT) - 5, 1)) AS BIGINT) * 28629151
        |     + CAST(ord(substr(text, CAST(i AS INT) - 4, 1)) AS BIGINT) * 923521
        |     + CAST(ord(substr(text, CAST(i AS INT) - 3, 1)) AS BIGINT) * 29791
        |     + CAST(ord(substr(text, CAST(i AS INT) - 2, 1)) AS BIGINT) * 961
        |     + CAST(ord(substr(text, CAST(i AS INT) - 1, 1)) AS BIGINT) * 31
        |     + CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) % 1031 < 32) AS bs
        |  FROM d),
        |b2 AS (SELECT doc_id, text, len,
        |  list_filter(bs, x -> x < len) AS bs FROM b),
        |ck AS (SELECT doc_id, text, len,
        |  ([CAST(1 AS BIGINT)] || list_transform(bs, x -> x + 1)) AS st,
        |  (bs || [len]) AS en FROM b2),
        |ex AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(st) + 1),
        |    i -> substr(text, CAST(st[CAST(i AS INT)] AS INT),
        |                CAST(en[CAST(i AS INT)] - st[CAST(i AS INT)] + 1 AS INT)))) AS chunk
        |  FROM ck),
        |g AS (SELECT md5(chunk) AS h, COUNT(*) AS cnt FROM ex GROUP BY 1)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
        |  CAST(SUM(CASE WHEN g.cnt > 1 THEN length(e.chunk) ELSE 0 END) AS BIGINT) AS shared_bytes
        |FROM ex e JOIN g ON md5(e.chunk) = g.h
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    // d12 = d2's full U-family recompute over base ∪ delta, filtered
    // to pairs touching the delta split (doc_id % 10 = 7) — the
    // incremental-probe equivalence stated as SQL.
    "d12_incremental_neardup" ->
      s"""WITH tk AS ($tkSql),
        |sh AS ($shSql),
        |$lshCandUSql
        |SELECT c.i, c.j,
        |  CASE WHEN (za.sz + zb.sz - COALESCE(ic, 0)) = 0 THEN 0
        |    ELSE (10000 * COALESCE(ic, 0)) // (za.sz + zb.sz - COALESCE(ic, 0)) END AS jac_bp
        |FROM cand c
        |LEFT JOIN inter ON inter.i = c.i AND inter.j = c.j
        |JOIN sz za ON za.doc_id = c.i
        |JOIN sz zb ON zb.doc_id = c.j
        |WHERE c.i % 10 = 7 OR c.j % 10 = 7
        |ORDER BY c.i, c.j""".stripMargin,

    "c10_neardup_removal" ->
      s"""WITH RECURSIVE tk AS ($tkSql),
        |sh AS ($shSql),
        |$lshCandUSql,
        |dup AS (SELECT c.i AS a, c.j AS b
        |  FROM cand c
        |  LEFT JOIN inter ON inter.i = c.i AND inter.j = c.j
        |  JOIN sz za ON za.doc_id = c.i
        |  JOIN sz zb ON zb.doc_id = c.j
        |  WHERE (za.sz + zb.sz - COALESCE(ic, 0)) > 0
        |    AND (10000 * COALESCE(ic, 0)) // (za.sz + zb.sz - COALESCE(ic, 0)) >= 8000),
        |ud AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
        |nodes AS (SELECT DISTINCT a AS n FROM ud),
        |walk(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT ud.b, walk.lbl FROM walk JOIN ud ON ud.a = walk.n)
        |SELECT n AS removed_doc, MIN(lbl) AS kept_doc FROM walk
        |GROUP BY n HAVING MIN(lbl) <> n
        |ORDER BY removed_doc""".stripMargin,

    "d2b_minhash_md5" ->
      s"""WITH tk AS ($tkSql),
        |sh AS ($shSql),
        |$lshCandSql
        |SELECT c.i, c.j,
        |  CASE WHEN (za.sz + zb.sz - COALESCE(ic, 0)) = 0 THEN 0
        |    ELSE (10000 * COALESCE(ic, 0)) // (za.sz + zb.sz - COALESCE(ic, 0)) END AS jac_bp
        |FROM cand c
        |LEFT JOIN inter ON inter.i = c.i AND inter.j = c.j
        |JOIN sz za ON za.doc_id = c.i
        |JOIN sz zb ON zb.doc_id = c.j
        |ORDER BY c.i, c.j""".stripMargin,

    "d10_containment" ->
      s"""WITH tk AS ($tkSql),
        |sh AS ($shSql),
        |$lshCandUSql,
        |sc AS (SELECT c.i, c.j,
        |  CASE WHEN za.sz = 0 THEN 0
        |    ELSE (10000 * COALESCE(ic, 0)) // za.sz END AS cont_i_bp,
        |  CASE WHEN zb.sz = 0 THEN 0
        |    ELSE (10000 * COALESCE(ic, 0)) // zb.sz END AS cont_j_bp
        |  FROM cand c
        |  LEFT JOIN inter ON inter.i = c.i AND inter.j = c.j
        |  JOIN sz za ON za.doc_id = c.i
        |  JOIN sz zb ON zb.doc_id = c.j)
        |SELECT i, j, cont_i_bp, cont_j_bp FROM sc
        |WHERE GREATEST(cont_i_bp, cont_j_bp) >= 6000
        |ORDER BY i, j""".stripMargin,

    "d11_semdedup" ->
      // n5's codebook + assignment CTEs with the √n codebook size,
      // then within-cell pairwise cosine and the min-id keep rule
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |kk AS (SELECT GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS k
        |  FROM e),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM (
        |  SELECT vec_id, v, nm,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM n), kk WHERE rk <= k),
        |asg AS (SELECT n.vec_id, n.v, n.nm, cid,
        |  list_dot_product(v, cv)/(nm*cn) AS cos FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, v, nm, cid AS cell FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
        |  FROM asg) WHERE rk = 1),
        |p AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
        |  list_dot_product(a.v, b.v)/(a.nm*b.nm) AS cos
        |  FROM cell a JOIN cell b ON a.cell = b.cell AND b.vec_id < a.vec_id)
        |SELECT i AS vec_id, MAX(cell) AS cell, MIN(j) AS keeper,
        |  CAST(COUNT(*) AS BIGINT) AS n_near
        |FROM p WHERE cos >= 0.3 GROUP BY i ORDER BY vec_id""".stripMargin,

    "d3_simhash" ->
      s"""WITH tk AS ($tkSql),
        |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tk),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS s
        |  FROM h CROSS JOIN range(32) r(b) GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d5_simhash_pairs" ->
      s"""WITH tk0 AS ($tkSql),
        |tk AS (SELECT * FROM tk0 WHERE doc_id < 200),
        |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tk),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 14))::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS s
        |  FROM h CROSS JOIN range(56) r(b) GROUP BY doc_id, b),
        |sims AS (SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |bl AS (SELECT doc_id, simhash, b, (simhash >> CAST(b*8 AS INT)) & 255 AS blk
        |  FROM sims CROSS JOIN range(7) r(b)),
        |p AS (SELECT DISTINCT a.doc_id AS i, c.doc_id AS j,
        |  bit_count(xor(a.simhash, c.simhash)) AS ham
        |  FROM bl a JOIN bl c ON a.b = c.b AND a.blk = c.blk AND a.doc_id < c.doc_id)
        |SELECT i, j, CAST(ham AS BIGINT) AS hamming FROM p WHERE ham <= 6
        |ORDER BY i, j""".stripMargin,

    "d6_embed_clusters" -> {
      val np = graft.similarity.CosineLsh
        .autoPlanesSql("SELECT COUNT(*) FROM embeddings", 64L)
      val bucket = graft.similarity.CosineLsh.bucketSqlDyn("v", 64, s"($np)")
      s"""WITH RECURSIVE e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bkt AS (SELECT label || '_' || CAST($bucket AS VARCHAR) AS bk,
        |  vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |p AS (SELECT a.vec_id AS i, b.vec_id AS j
        |  FROM bkt a JOIN bkt b ON a.bk = b.bk AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.3),
        |ud AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
        |nodes AS (SELECT DISTINCT a AS n FROM ud),
        |walk(n, lbl) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT ud.b, walk.lbl FROM walk JOIN ud ON ud.a = walk.n)
        |SELECT n AS node, MIN(lbl) AS comp FROM walk
        |GROUP BY n ORDER BY node""".stripMargin
    },

    "d4_embed_neardup" -> {
      val np = graft.similarity.CosineLsh
        .autoPlanesSql("SELECT COUNT(*) FROM embeddings", 64L)
      val bucket = graft.similarity.CosineLsh.bucketSqlDyn("v", 64, s"($np)")
      s"""WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT label || '_' || CAST($bucket AS VARCHAR) AS bk,
        |  vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |p AS (SELECT a.bk, a.vec_id AS i, b2.vec_id AS j,
        |  list_dot_product(a.v, b2.v) / (a.nm * b2.nm) AS cos
        |  FROM b a JOIN b b2 ON a.bk = b2.bk AND a.vec_id < b2.vec_id)
        |SELECT bk, i, j, cos FROM p WHERE cos >= 0.3 ORDER BY i, j""".stripMargin
    },

    "n2_ann_lsh" -> {
      val bucket = graft.similarity.CosineLsh.bucketSql("v", 64, 4)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM e),
        |p AS (SELECT a.vec_id AS i, b2.vec_id AS j,
        |  list_dot_product(a.v, b2.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) AS cos
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
        |cand AS (SELECT i AS q, j AS neighbor, cos FROM p
        |         UNION ALL SELECT j, i, cos FROM p),
        |r AS (SELECT q, neighbor, cos,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk
        |  FROM cand)
        |SELECT q, neighbor, cos FROM r WHERE rk = 1 AND q < 50
        |ORDER BY q""".stripMargin
    },

    "n2b_ann_lsh_auto" -> {
      val np = graft.similarity.CosineLsh
        .autoPlanesSql("SELECT COUNT(*) FROM embeddings", 64L)
      val bucket = graft.similarity.CosineLsh.bucketSqlDyn("v", 64, s"($np)")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
        |p AS (SELECT a.vec_id AS i, b2.vec_id AS j,
        |  list_dot_product(a.v, b2.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) AS cos
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
        |cand AS (SELECT i AS q, j AS neighbor, cos FROM p
        |         UNION ALL SELECT j, i, cos FROM p),
        |r AS (SELECT q, neighbor, cos,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk
        |  FROM cand)
        |SELECT q, neighbor, cos FROM r WHERE rk = 1 AND q < 50
        |ORDER BY q""".stripMargin
    },

    "n4_ann_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |q0 AS (SELECT vec_id AS q, v AS qv, nm AS qn FROM n WHERE vec_id < 20),
        |xs AS (SELECT q, n.vec_id AS neighbor,
        |  list_dot_product(qv, n.v)/(qn*n.nm) AS cos
        |  FROM q0 JOIN n ON q <> n.vec_id),
        |xr AS (SELECT q, neighbor,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk FROM xs),
        |exact AS (SELECT q, neighbor FROM xr WHERE rk <= 3),
        |c AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM n WHERE vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) = 0),
        |asg AS (SELECT n.vec_id, n.v, n.nm, cid,
        |  list_dot_product(v, cv)/(nm*cn) AS cos FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, v, nm, cid AS cell FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
        |  FROM asg) WHERE rk = 1),
        |qp AS (SELECT q, qv, qn, cell FROM (
        |  SELECT q0.q, q0.qv, q0.qn, cid AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY q0.q
        |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rk
        |  FROM q0 CROSS JOIN c) WHERE rk <= 2),
        |sc AS (SELECT qp.q, cell.vec_id AS neighbor,
        |  list_dot_product(qp.qv, cell.v)/(qp.qn*cell.nm) AS cos
        |  FROM qp JOIN cell ON qp.cell = cell.cell AND qp.q <> cell.vec_id),
        |approx AS (SELECT q, neighbor FROM (
        |  SELECT q, neighbor,
        |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk
        |  FROM sc) WHERE rk <= 3),
        |hits AS (SELECT exact.q, COUNT(*) AS n_hit
        |  FROM exact JOIN approx ON exact.q = approx.q AND exact.neighbor = approx.neighbor
        |  GROUP BY exact.q)
        |SELECT q0.q, CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(floor(10000 * COALESCE(n_hit, 0) / 3) AS BIGINT) AS recall_bp
        |FROM q0 LEFT JOIN hits ON q0.q = hits.q
        |ORDER BY q0.q""".stripMargin,

    "n3_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM n WHERE vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) = 0),
        |asg AS (SELECT n.vec_id, n.v, n.nm, cid,
        |  list_dot_product(v, cv)/(nm*cn) AS cos FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, v, nm, cid AS cell FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
        |  FROM asg) WHERE rk = 1),
        |q AS (SELECT vec_id AS q, v AS qv, nm AS qn FROM n WHERE vec_id < 20),
        |qp AS (SELECT q, qv, qn, cell FROM (
        |  SELECT q.q, q.qv, q.qn, cid AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY q.q
        |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rk
        |  FROM q CROSS JOIN c) WHERE rk <= 2),
        |sc AS (SELECT qp.q, cell.vec_id AS neighbor,
        |  list_dot_product(qp.qv, cell.v)/(qp.qn*cell.nm) AS cos
        |  FROM qp JOIN cell ON qp.cell = cell.cell AND qp.q <> cell.vec_id),
        |r AS (SELECT q, neighbor, cos,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk FROM sc)
        |SELECT q, CAST(rk AS BIGINT) AS rank, neighbor, cos FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin,

    "n6_ann_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, y -> abs(y))) AS ma FROM e),
        |q8 AS (SELECT vec_id,
        |  CASE WHEN ma > 0
        |    THEN list_transform(v, x -> CAST(floor(x * 127.0 / ma) AS BIGINT))
        |    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM m),
        |s AS (SELECT a.vec_id AS q, b.vec_id AS neighbor,
        |  CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS score
        |  FROM q8 a JOIN q8 b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20),
        |r AS (SELECT q, neighbor, score,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, neighbor) AS rk
        |  FROM s)
        |SELECT q, CAST(rk AS BIGINT) AS rank, neighbor, score FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin,

    "n5_ann_ivf_trained" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM (
        |  SELECT vec_id, v, nm,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM n) WHERE rk <= 16),
        |asg AS (SELECT n.vec_id, n.v, n.nm, cid,
        |  list_dot_product(v, cv)/(nm*cn) AS cos FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, v, nm, cid AS cell FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
        |  FROM asg) WHERE rk = 1),
        |q AS (SELECT vec_id AS q, v AS qv, nm AS qn FROM n WHERE vec_id < 20),
        |qp AS (SELECT q, qv, qn, cell FROM (
        |  SELECT q.q, q.qv, q.qn, cid AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY q.q
        |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rk
        |  FROM q CROSS JOIN c) WHERE rk <= 2),
        |sc AS (SELECT qp.q, cell.vec_id AS neighbor,
        |  list_dot_product(qp.qv, cell.v)/(qp.qn*cell.nm) AS cos
        |  FROM qp JOIN cell ON qp.cell = cell.cell AND qp.q <> cell.vec_id),
        |r AS (SELECT q, neighbor, cos,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk FROM sc)
        |SELECT q, CAST(rk AS BIGINT) AS rank, neighbor, cos FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin,

    "n9_ann_filtered" ->
      // n5's probe with the label predicate applied to the cell
      // lists (the semi-join placement) before scoring
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM (
        |  SELECT vec_id, v, nm,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM n) WHERE rk <= 16),
        |asg AS (SELECT n.vec_id, n.v, n.nm, cid,
        |  list_dot_product(v, cv)/(nm*cn) AS cos FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, v, nm, cid AS cell FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
        |  FROM asg) WHERE rk = 1),
        |f AS (SELECT vec_id FROM embeddings WHERE label % 3 = 1),
        |q AS (SELECT vec_id AS q, v AS qv, nm AS qn FROM n WHERE vec_id < 20),
        |qp AS (SELECT q, qv, qn, cell FROM (
        |  SELECT q.q, q.qv, q.qn, cid AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY q.q
        |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rk
        |  FROM q CROSS JOIN c) WHERE rk <= 2),
        |sc AS (SELECT qp.q, cell.vec_id AS neighbor,
        |  list_dot_product(qp.qv, cell.v)/(qp.qn*cell.nm) AS cos
        |  FROM qp JOIN cell ON qp.cell = cell.cell AND qp.q <> cell.vec_id
        |  JOIN f ON f.vec_id = cell.vec_id),
        |r AS (SELECT q, neighbor, cos,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rk FROM sc)
        |SELECT q, CAST(rk AS BIGINT) AS rank, neighbor, cos FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin,

    "n7_ann_ivfpq" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(floor(x * 1000) AS BIGINT)) AS qv FROM embeddings),
        |cbv AS (SELECT vec_id AS cid, qv FROM (
        |  SELECT vec_id, qv,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM e) WHERE rk <= 16),
        |cb AS (SELECT m, cid, list_slice(qv, m*8 + 1, m*8 + 8) AS cw
        |  FROM cbv, UNNEST(range(0, 8)) AS t(m)),
        |sub AS (SELECT vec_id AS id, m, list_slice(qv, m*8 + 1, m*8 + 8) AS sv
        |  FROM e, UNNEST(range(0, 8)) AS t(m)),
        |enc0 AS (SELECT id, sub.m, cid,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS d
        |  FROM sub JOIN cb ON sub.m = cb.m),
        |codes AS (SELECT id, m, cid AS code FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, cid) AS rn
        |  FROM enc0) WHERE rn = 1),
        |qsub AS (SELECT id AS q, m, sv AS qsv FROM sub WHERE id < 20),
        |lut AS (SELECT q, qsub.m, cid,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (qsv[i] - cw[i]) * (qsv[i] - cw[i]))) AS pd
        |  FROM qsub JOIN cb ON qsub.m = cb.m),
        |dist AS (SELECT q, id AS neighbor, CAST(SUM(pd) AS BIGINT) AS dist
        |  FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.cid
        |  WHERE q <> id GROUP BY q, id),
        |r AS (SELECT q, neighbor, dist,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY dist, neighbor) AS rk FROM dist)
        |SELECT q, CAST(rk AS BIGINT) AS rank, neighbor, dist FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin,

    "n8_ann_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(floor(x * 1000) AS BIGINT)) AS qv FROM embeddings),
        |cbv AS (SELECT vec_id AS cid, qv FROM (
        |  SELECT vec_id, qv,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM e) WHERE rk <= 16),
        |cb AS (SELECT m, cid, list_slice(qv, m*8 + 1, m*8 + 8) AS cw
        |  FROM cbv, UNNEST(range(0, 8)) AS t(m)),
        |sub AS (SELECT vec_id AS id, m, list_slice(qv, m*8 + 1, m*8 + 8) AS sv
        |  FROM e, UNNEST(range(0, 8)) AS t(m)),
        |enc0 AS (SELECT id, sub.m, cid,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS d
        |  FROM sub JOIN cb ON sub.m = cb.m),
        |codes AS (SELECT id, m, cid AS code FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, cid) AS rn
        |  FROM enc0) WHERE rn = 1),
        |qsub AS (SELECT id AS q, m, sv AS qsv FROM sub WHERE id < 20),
        |lut AS (SELECT q, qsub.m, cid,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (qsv[i] - cw[i]) * (qsv[i] - cw[i]))) AS pd
        |  FROM qsub JOIN cb ON qsub.m = cb.m),
        |dist AS (SELECT q, id AS neighbor, CAST(SUM(pd) AS BIGINT) AS dist
        |  FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.cid
        |  WHERE q <> id GROUP BY q, id),
        |cand AS (SELECT q, neighbor FROM (
        |  SELECT q, neighbor,
        |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY dist, neighbor) AS rk
        |  FROM dist) WHERE rk <= 20),
        |ex AS (SELECT c.q, c.neighbor,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS BIGINT) AS d2
        |  FROM cand c JOIN e a ON a.vec_id = c.q JOIN e b ON b.vec_id = c.neighbor),
        |r AS (SELECT q, neighbor, d2,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY d2, neighbor) AS rk FROM ex)
        |SELECT q, CAST(rk AS BIGINT) AS rank, neighbor, d2 FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin,

    "n10_mmr_rerank" ->
      """WITH q0 AS (SELECT vec_id AS q, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |c0 AS (SELECT vec_id AS n, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (SELECT q, n,
        |  list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS rel
        |  FROM q0 JOIN c0 ON q <> n),
        |cand AS (SELECT q, n, rel FROM (
        |  SELECT q, n, rel, ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, n) AS rk FROM s)
        |  WHERE rk <= 20),
        |cvs AS (SELECT cand.q, cand.n, c0.cv FROM cand JOIN c0 ON cand.n = c0.n),
        |pr AS (SELECT x.q, x.n AS a, y.n AS b,
        |  list_dot_product(x.cv, y.cv) /
        |    (sqrt(list_dot_product(x.cv, x.cv)) * sqrt(list_dot_product(y.cv, y.cv))) AS sim
        |  FROM cvs x JOIN cvs y ON x.q = y.q AND x.n <> y.n),
        |sel1 AS (SELECT q, n, rel AS score, CAST(1 AS BIGINT) AS rank FROM (
        |  SELECT q, n, rel, ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, n) AS rk FROM cand)
        |  WHERE rk = 1),
        |rem1 AS (SELECT c.q, c.n, c.rel FROM cand c LEFT JOIN sel1 s
        |  ON c.q = s.q AND c.n = s.n WHERE s.n IS NULL),
        |ms2 AS (SELECT p.q, p.a AS n, MAX(p.sim) AS ms FROM pr p
        |  JOIN sel1 s ON p.q = s.q AND p.b = s.n GROUP BY p.q, p.a),
        |sc2 AS (SELECT r.q, r.n, 0.5 * r.rel - 0.5 * m.ms AS score
        |  FROM rem1 r JOIN ms2 m ON r.q = m.q AND r.n = m.n),
        |sel2 AS (SELECT q, n, score, CAST(2 AS BIGINT) AS rank FROM (
        |  SELECT q, n, score, ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, n) AS rk FROM sc2)
        |  WHERE rk = 1),
        |acc2 AS (SELECT q, n FROM sel1 UNION ALL SELECT q, n FROM sel2),
        |rem2 AS (SELECT r.q, r.n, r.rel FROM rem1 r LEFT JOIN sel2 s
        |  ON r.q = s.q AND r.n = s.n WHERE s.n IS NULL),
        |ms3 AS (SELECT p.q, p.a AS n, MAX(p.sim) AS ms FROM pr p
        |  JOIN acc2 s ON p.q = s.q AND p.b = s.n GROUP BY p.q, p.a),
        |sc3 AS (SELECT r.q, r.n, 0.5 * r.rel - 0.5 * m.ms AS score
        |  FROM rem2 r JOIN ms3 m ON r.q = m.q AND r.n = m.n),
        |sel3 AS (SELECT q, n, score, CAST(3 AS BIGINT) AS rank FROM (
        |  SELECT q, n, score, ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, n) AS rk FROM sc3)
        |  WHERE rk = 1),
        |acc3 AS (SELECT q, n FROM acc2 UNION ALL SELECT q, n FROM sel3),
        |rem3 AS (SELECT r.q, r.n, r.rel FROM rem2 r LEFT JOIN sel3 s
        |  ON r.q = s.q AND r.n = s.n WHERE s.n IS NULL),
        |ms4 AS (SELECT p.q, p.a AS n, MAX(p.sim) AS ms FROM pr p
        |  JOIN acc3 s ON p.q = s.q AND p.b = s.n GROUP BY p.q, p.a),
        |sc4 AS (SELECT r.q, r.n, 0.5 * r.rel - 0.5 * m.ms AS score
        |  FROM rem3 r JOIN ms4 m ON r.q = m.q AND r.n = m.n),
        |sel4 AS (SELECT q, n, score, CAST(4 AS BIGINT) AS rank FROM (
        |  SELECT q, n, score, ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, n) AS rk FROM sc4)
        |  WHERE rk = 1),
        |acc4 AS (SELECT q, n FROM acc3 UNION ALL SELECT q, n FROM sel4),
        |rem4 AS (SELECT r.q, r.n, r.rel FROM rem3 r LEFT JOIN sel4 s
        |  ON r.q = s.q AND r.n = s.n WHERE s.n IS NULL),
        |ms5 AS (SELECT p.q, p.a AS n, MAX(p.sim) AS ms FROM pr p
        |  JOIN acc4 s ON p.q = s.q AND p.b = s.n GROUP BY p.q, p.a),
        |sc5 AS (SELECT r.q, r.n, 0.5 * r.rel - 0.5 * m.ms AS score
        |  FROM rem4 r JOIN ms5 m ON r.q = m.q AND r.n = m.n),
        |sel5 AS (SELECT q, n, score, CAST(5 AS BIGINT) AS rank FROM (
        |  SELECT q, n, score, ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, n) AS rk FROM sc5)
        |  WHERE rk = 1),
        |allsel AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
        |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
        |  UNION ALL SELECT * FROM sel5)
        |SELECT q, rank, n AS neighbor, score FROM allsel
        |ORDER BY q, rank""".stripMargin,

    "n1_ann_topk" ->
      """WITH q AS (SELECT vec_id AS q, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS n, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (SELECT q, n,
        |  list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q JOIN c ON q <> n),
        |r AS (SELECT q, n, cos,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rk FROM s)
        |SELECT q, rk AS rank, n AS neighbor, cos FROM r WHERE rk <= 3
        |ORDER BY q, rank""".stripMargin
  )
}
