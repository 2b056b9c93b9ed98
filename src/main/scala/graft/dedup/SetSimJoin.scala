package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pin
import graft.text.TextFunctions

/** EXACT set-similarity join at Jaccard threshold t, scaled by prefix
  * filtering (the AllPairs / PPJoin candidate bound) — the exact
  * companion of [[MinHashLSH]]'s approximate path, and the engine
  * behind recall audits that need exact ground truth without an
  * all-pairs or raw posting-list join.
  *
  * Why not join the posting lists directly (`probe ⋈ corpus ON
  * shingle`)? Stop-shingles: under a Zipf vocabulary the most frequent
  * shingle appears in a constant FRACTION of documents, so its posting
  * list is Θ(n) on both join sides and the join output — pairs that
  * share only stopwords and verify at Jaccard ≈ 0 — grows Θ(n²).
  * Measured on the cardinality-faithful fixtures: 21 GB of shuffle and
  * 5 055 s of task CPU at v2sf5 for d14's probe
  * (DRIFT_r12.md), 94% of it pairs the threshold then discards.
  *
  * The prefix filter removes exactly that term and NOTHING else
  * (lossless): order every set's elements by ascending global document
  * frequency (ties by value — any total order shared by all sets
  * works), and index only each set's first |x| − ⌈t·|x|⌉ + 1 elements.
  * For any pair with J(x,y) ≥ t the intersection C satisfies
  * |C| ≥ ⌈t·|x|⌉ and |C| ≥ ⌈t·|y|⌉, so the globally-smallest common
  * element — the first element of C in BOTH sets' orderings — sits
  * within the first |x| − |C| + 1 ≤ |x| − ⌈t·|x|⌉ + 1 positions of x
  * and likewise of y: every qualifying pair shares a prefix element
  * and is generated. A stop-shingle, by contrast, lands in a set's
  * prefix only when the set has almost no rarer element, so frequent
  * elements stop driving the join. Candidates are then verified
  * exactly (a sorted-merge intersection count on the full sets),
  * keeping the output bit-identical to the naive join.
  *
  * PHYSICAL SHAPE (round 12): prefix positions come from
  * `row_number() OVER (PARTITION BY id ORDER BY df, el)` — one
  * exchange on id and a codegen'd sort — instead of assembling
  * freq-ordered ARRAYS per doc and re-exploding their slices. The
  * array form paid `collect_list(struct)` per doc, which
  * ObjectHashAggregate demotes to its sort-based fallback at 128
  * groups per task (every task, at corpus scale) plus an interpreted
  * struct comparator inside `sort_array`; stage attribution at v2sf5
  * put ~70% of d14's task-CPU and nearly all its GC inside exactly
  * that machinery (DRIFT_r12.md §3). Only the verification arrays
  * (value-sorted, primitive when elements are hashed longs) are still
  * materialized, grouped directly from the id-clustered element
  * stream so the partial aggregation never leaves its hash map.
  *
  * All-pairs scope within a corpus is the reference's similarity-join
  * shape (pygr `blast.py:86-413` finds neighbors for every query
  * sequence); the probe predicate narrows the left side the way a
  * query-set BLAST run does.
  */
object SetSimJoin {

  /** Pairs `(q, o, ic, szq, szo, jac_bp)` with exact set Jaccard
    * ≥ `minBp`/10000, `q` drawn from rows where `probePred(id)` holds,
    * `o` from the whole frame, `q ≠ o`. `sets` rows are
    * `(idCol, setCol: array)` with DISTINCT elements — hashed longs
    * ([[graft.functions.ShingleHashes]]) for the scale path, strings
    * accepted for readability at small scale. `jac_bp` is
    * floor(10000·|∩|/|∪|) — integer bp, engine-portable — and the
    * ≥ `minBp` gate equals J ≥ minBp/10000 exactly on integers.
    */
  def jaccardPairsBp(sets: DataFrame, idCol: String, setCol: String,
                     minBp: Int,
                     probePred: Column => Column = _ => lit(true)): DataFrame = {
    require(minBp > 0 && minBp <= 10000, s"minBp must be in (0,10000], got $minBp")
    val t = minBp.toLong
    // Materialize the id→set pairs once: the element stream feeds the
    // document-frequency count, the prefix window, AND the
    // verification arrays — left as lineage, the caller's set
    // expression re-evaluates per consumer (measured 4× at sf0.1;
    // ReuseExchange does not collapse the differently-filtered
    // branches).
    val pinned = Pin(sets.select(col(idCol), col(setCol)), "jaccardPairsBp.sets")
    // sz travels WITH each exploded element (one array-length eval per
    // input row) — cheaper than a second window pass over the element
    // stream. (An alternative shape — df as a COUNT window over the
    // _el partition instead of the aggregate+join — measured ×2.8
    // WORSE at v2sf1: the window ships the full element stream through
    // its exchange in every consumer branch, where the aggregate
    // shrinks map-side before shuffling.)
    val el = pinned.select(col(idCol), size(col(setCol)).cast("long").as("sz"),
      explode(col(setCol)).as("_el"))
    val df = el.groupBy("_el").agg(count(lit(1)).as("_df"))
    // Per-element prefix position = rank in the doc's (df, el) order.
    val byId = Window.partitionBy(col(idCol))
    val pre = el.join(df, "_el")
      .withColumn("_pos", row_number().over(byId.orderBy(col("_df"), col("_el"))))
    // prefix length |x| − ⌈t·|x|⌉ + 1, integer ceil; _pos is 1-based
    val preLen = (col("sz")
      - floor((lit(t) * col("sz") + lit(9999L)) / lit(10000L)) + lit(1)).cast("int")
    // df = 1 elements can never be SHARED (their posting list is one
    // doc), so they drive no candidates — and as the globally rarest
    // they head every frequency-ordered prefix. Dropping them from
    // both join sides is lossless (positions were assigned over the
    // full set first) and removes most prefix rows on a Heaps-law
    // vocabulary (~2/3 at v2sf10).
    val prefix = pre.where(col("_pos") <= preLen && col("_df") > 1L)
    val qSide = prefix.where(probePred(col(idCol)))
      .select(col(idCol).as("q"), col("sz").as("szq"),
        col("_pos").as("_pq"), col("_el"))
    val oSide = prefix.select(col(idCol).as("o"), col("sz").as("szo"),
      col("_pos").as("_po"), col("_el"))
    val cand = qSide.join(oSide, "_el")
      .where(col("q") =!= col("o"))
      // J ≥ t forces t·max(|x|,|y|) ≤ min(|x|,|y|) — prune before the
      // pair aggregation
      .where(least(col("szq"), col("szo")) * lit(10000L)
        >= lit(t) * greatest(col("szq"), col("szo")))
      .groupBy("q", "szq", "o", "szo")
      .agg(min("_pq").as("_pqm"), min("_po").as("_pom"))
      // positional filter (PPJoin): the globally-smallest common
      // element minimizes BOTH prefix positions, and every other
      // common element sits after it in both freq-ordered sets, so
      // ic ≤ min(szq − pqm + 1, szo − pom + 1) (1-based positions);
      // J ≥ t needs ic ≥ ⌈t·(szq+szo)/(1+t)⌉ — drop pairs whose bound
      // can't reach it before they touch the verify join
      .where(least(col("szq") - col("_pqm") + lit(1L),
                   col("szo") - col("_pom") + lit(1L))
        * lit(10000L + t) >= lit(t) * (col("szq") + col("szo")))
      .select("q", "szq", "o", "szo")
    // Verification is compute-bound (one sorted-merge per pair), but
    // the candidate table is BYTE-small — AQE coalesces it to a
    // handful of partitions and, when the set table fits the broadcast
    // threshold, the whole verify stage inherits that near-serial
    // layout (measured 8.2 s on one task at sf0.1). An explicit
    // partition count pins compute parallelism to the session's
    // shuffle width; AQE honors user-numbered repartitions.
    val parts = sets.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Verify on VALUE-sorted copies of the same sets with the fused
    // merge kernel — no per-pair hash set, no intersection array
    // materialized just to take its size. `el` is clustered by id (it
    // is exploded per row), so the partial collect_list never exceeds
    // its task's doc count — no repartition, no fallback cliff.
    val arrs = el.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_el"))).as("_lex"))
    // (q, o) — the full pair key — not q alone: dup-cluster sizes are
    // power-law, so the head cluster's probe doc carries a constant
    // fraction of ALL candidate pairs, and a q-keyed exchange hashes
    // that probe's entire verify work into ONE task (d14 at sf0.1:
    // one 5.6 s task owned the whole stage while 31 cores idled —
    // the bench trace's max_run_ms). The pair key is unique per row, so the exchange
    // spreads evenly at every scale; the verify joins don't rely on
    // this partitioning (set side broadcasts here, re-shuffles at
    // scale either way).
    cand.repartition(parts, col("q"), col("o"))
      .join(arrs.select(col(idCol).as("q"), col("_lex").as("_aq")), "q")
      .join(arrs.select(col(idCol).as("o"), col("_lex").as("_ao")), "o")
      .select(col("q"), col("o"),
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("_aq"), col("_ao")).as("ic"),
        col("szq").cast("long").as("szq"),
        col("szo").cast("long").as("szo"))
      .withColumn("jac_bp",
        TextFunctions.bp(col("ic"), col("szq") + col("szo") - col("ic")))
      .where(col("jac_bp") >= t)
  }
}
