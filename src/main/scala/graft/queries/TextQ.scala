package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Graft.table
import graft.core.Pin
import graft.text.TextFunctions._

/** Text-analysis operators over `documents` — the training-data
  * pipeline surface (language-ID, quality scoring, token stats,
  * fingerprinting, exact dedup). All metrics are integer basis points
  * or md5-hex values, so Spark and the DuckDB oracle agree exactly.
  */
object TextQ {

  private def docToks(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))

  private val bm25Terms = Seq("table", "hash", "merge", "window")

  /** All-integer BM25 per matching doc: (doc_id, n_hit_terms,
    * score_u) — shared by b1 (top-k) and b3 (hybrid fusion leg).
    * df via a window over the term-filtered postings — NOT a
    * groupBy+join, which would re-run the corpus scan for the df
    * branch (Spark doesn't share unpersisted subtrees across joins).
    */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val d = docToks(s, dir)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum("dl").as("t_toks"))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(bm25Terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(stats))
      .withColumn("idf_u",
        floor(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) * lit(1e6))
          .cast("long"))
      .withColumn("c_u",
        expr("(idf_u * 22 * t_toks * tf) div (10 * t_toks * tf + 3 * t_toks + 9 * dl * n_docs)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"), sum("c_u").as("score_u"))
  }

  val defs: Map[String, Q] = Map(
    // t1: heuristic language-ID by marker-word scoring, argmax with
    // deterministic (score desc, lang asc) tie-break.
    "t1_langid" -> { (s, dir) =>
      val scored = docToks(s, dir).select(col("doc_id"),
        explode(array(langMarkers.map { case (l, ws) =>
          struct(lit(l).as("lang"),
                 markerHits(col("toks"), ws).cast("long").as("score"))
        }: _*)).as("ls"))
        .select(col("doc_id"), col("ls.lang").as("lang"), col("ls.score").as("score"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("lang_pred"), col("score"))
        .orderBy("doc_id")
    },

    // t2: quality scoring — type-token ratio, space density, length
    // bonus, combined; all integer basis points.
    "t2_quality" -> { (s, dir) =>
      docToks(s, dir)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("ttr_bp", bp(col("n_uniq"), col("n_tokens")))
        .withColumn("space_bp",
          bp(col("n_chars") - length(regexp_replace(col("text"), " ", "")).cast("long"),
             col("n_chars")))
        .withColumn("qual_bp",
          floor((col("ttr_bp") + least(col("n_tokens") * 100L, lit(10000L))) / 2).cast("long"))
        .select("doc_id", "n_chars", "n_tokens", "ttr_bp", "space_bp", "qual_bp")
        .orderBy("doc_id")
    },

    // t3: token counting.
    "t3_tokens" -> { (s, dir) =>
      docToks(s, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"))
        .orderBy("doc_id")
    },

    // t4: content fingerprint (min shingle hash).
    "t4_fingerprint" -> { (s, dir) =>
      docToks(s, dir)
        .select(col("doc_id"), fingerprint(col("toks"), 3).as("fp"))
        .orderBy("doc_id")
    },

    // d1: exact dedup on a normalized key (first-5-token prefix hash):
    // duplicate groups with their keeper (min doc_id).
    "d1_exact_dedup" -> { (s, dir) =>
      docToks(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), 1, 5))).as("khash"))
        .groupBy("khash")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
        .where(col("n_dups") > 1)
        .orderBy("khash")
    },

    // t5: corpus composition report — the per-source "dataset card"
    // every pipeline publishes: doc counts, token mass, quality
    // distribution (integer bp), exact-dup rate. One pass, one
    // groupBy; all aggregates map-side combinable.
    "t5_domain_mix" -> { (s, dir) =>
      val base = docToks(s, dir)
        .join(table(s, dir, "documents").select("doc_id", "source"), "doc_id")
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("ttr_bp", bp(col("n_uniq"), col("n_tokens")))
        .withColumn("qual_bp",
          floor((col("ttr_bp") + least(col("n_tokens") * 100L, lit(10000L))) / 2).cast("long"))
        .withColumn("khash", md5(concat_ws(" ", slice(col("toks"), 1, 5))))
      base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          floor(avg(col("qual_bp"))).cast("long").as("mean_qual_bp"),
          (count(lit(1)) - countDistinct(col("khash"))).as("n_dups"))
        .orderBy("source")
    },

    // c5: TOKEN-budget mixture sampling — c3 samples by doc count,
    // but a training mixture is specified in tokens: per source, docs
    // are taken in deterministic md5 order until the source's token
    // budget (1000) is exhausted (a doc is kept iff it STARTS inside
    // the budget, so one doc may straddle the boundary — the
    // keep-then-truncate convention). One window scan per source;
    // integer cumsum, engine-exact.
    "c5_token_budget" -> { (s, dir) =>
      val d = docToks(s, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        .join(table(s, dir, "documents").select("doc_id", "source"), "doc_id")
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      d.withColumn("cum", sum("n_tokens").over(w))
        .where(col("cum") - col("n_tokens") < 1000L)
        .select("source", "doc_id", "n_tokens", "cum")
        .orderBy("source", "doc_id")
    },

    // t6: repetition signals (the Gopher-rule family): per doc the
    // total 2-gram occurrences, the most frequent 2-gram (tie → count
    // desc then lexicographic), its occupancy in basis points, and
    // the fraction of 2-gram occurrences belonging to any repeated
    // 2-gram. High dup2_bp/top2_bp = template/boilerplate text a
    // quality filter drops. One explode + one (doc, gram) aggregate —
    // shuffle keyed on the doc, linear in corpus token count.
    "t6_repetition" -> { (s, dir) =>
      val d = docToks(s, dir)
      // native bigram generator (gram strings identical to ngrams())
      val counts = d.select(col("doc_id"),
          graft.functions.TokenGramsExplode.token_grams_explode(col("toks"), 2)
            .as(Seq("pos", "g")))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("doc_id").orderBy(col("c").desc, col("g"))
      val top = counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("g").as("top_2gram"), col("c").as("top_n"))
      val agg = counts.groupBy("doc_id")
        .agg(sum("c").as("n_2grams"),
          sum(when(col("c") > 1L, col("c")).otherwise(0L)).as("n_dup_occ"))
      table(s, dir, "documents").select("doc_id")
        .join(top, Seq("doc_id"), "left")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
          col("top_2gram"),
          coalesce(col("top_n"), lit(0L)).as("top_n"),
          coalesce(bp(col("top_n"), col("n_2grams")), lit(0L)).as("top2_bp"),
          coalesce(bp(col("n_dup_occ"), col("n_2grams")), lit(0L)).as("dup2_bp"))
        .orderBy("doc_id")
    },

    // c1: the composed cleaning pipeline a training corpus actually
    // runs — language-ID + quality score + exact-dedup keep-first,
    // materialized as the surviving clean rows. One pass shape: every
    // stage is a per-doc column or a doc-keyed window; no operator
    // rescans the corpus.
    "c1_clean_corpus" -> { (s, dir) =>
      val lang = defs("t1_langid")(s, dir).select("doc_id", "lang_pred")
      val qual = defs("t2_quality")(s, dir).select("doc_id", "n_tokens", "qual_bp")
      val w = Window.partitionBy("khash").orderBy("doc_id")
      val keep = docToks(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), 1, 5))).as("khash"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("doc_id")
      lang.join(qual, "doc_id")
        .join(keep, Seq("doc_id"), "left_semi")
        .where(col("qual_bp") >= 4800)
        .select("doc_id", "lang_pred", "n_tokens", "qual_bp")
        .orderBy("doc_id")
    },

    // s10: JSONL roundtrip — the LLM-corpus interchange format: write
    // the documents table as JSON-lines text, read it back with an
    // EXPLICIT schema (schema-on-read; no inference pass, which would
    // double-scan 100 TB), and the result must be byte-identical to
    // the source. to_json/from_json are codegen'd; one write + one
    // scan, embarrassingly parallel, no shuffle.
    "s10_jsonl_roundtrip" -> { (s, dir) =>
      val path = tmpPath(s, "s10_jsonl")
      table(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(path)
      s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // x11: ingest-wave drift monitor — the distribution check a
    // pipeline runs between crawl waves: split the corpus into two
    // deterministic halves (md5 parity — stands in for wave A/B), per
    // source compare composition shares in integer basis points.
    // ONE scan + one conditional aggregate + a broadcast of the
    // 2-row totals; output is |sources| rows.
    "x11_drift" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("source"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 2L === 0L).as("in_a"))
      val per = d.groupBy("source").agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
      val tot = per.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_a"), col("n_b"),
          expr("10000 * n_a div tot_a").as("share_a_bp"),
          expr("10000 * n_b div tot_b").as("share_b_bp"),
          abs(expr("10000 * n_a div tot_a") - expr("10000 * n_b div tot_b"))
            .as("delta_bp"))
        .orderBy("source")
    },

    // b5: snippet extraction — the hit-highlighting / context-window
    // op of a retrieval stack: per matching doc, the densest 10-token
    // window for the query terms (max hits, earliest start on ties)
    // and its text. One posexplode + one doc-keyed range-frame window
    // + one argmin aggregate — shuffle keyed on the doc throughout,
    // linear in corpus tokens.
    "b5_snippet" -> { (s, dir) =>
      val d = docToks(s, dir)
      val pos = d.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .withColumn("hit", when(col("tok").isin(bm25Terms: _*), 1L).otherwise(0L))
      val wf = Window.partitionBy("doc_id").orderBy("pos").rangeBetween(0, 9)
      val best = pos
        .withColumn("n_hits", sum("hit").over(wf))
        .groupBy("doc_id")
        .agg(min(struct((-col("n_hits")).as("neg"), col("pos").as("p"))).as("m"))
        .select(col("doc_id"), (-col("m.neg")).as("n_hits"),
          col("m.p").cast("long").as("best_pos"))
        .where(col("n_hits") > 0)
      best.join(d, "doc_id")
        .select(col("doc_id"), col("n_hits"), col("best_pos"),
          concat_ws(" ", slice(col("toks"), (col("best_pos") + 1).cast("int"), lit(10)))
            .as("snippet"))
        .orderBy("doc_id")
    },

    // x14: exact heavy hitters via a Misra-Gries candidate pass —
    // tokens holding > 1/30 of the corpus token mass. The MG summary
    // (treeAggregate, <= k counters, NO shuffle) guarantees the
    // candidate set is a superset of the answer; the exact pass
    // counts only candidates (broadcast membership filter), so the
    // full-vocabulary groupBy never happens — the profile pass for
    // vocabularies too large to aggregate. Result is exact ⇒
    // oracle-checkable despite the sketch inside.
    "x14_heavy_hitters" -> { (s, dir) =>
      graft.operators.FreqItems.heavyHitters(
          docToks(s, dir).select(explode(col("toks")).as("tok")), "tok", k = 30)
        .withColumnRenamed("item", "tok")
        .orderBy("tok")
    },

    // x15: count-min sketch — the OTHER bounded-memory frequency
    // profile next to x14's Misra-Gries: depth=4 md5 hash rows ×
    // width=256 counters of exact integer sums. Because the hashes
    // are md5 draws, the sketch AND its estimates are plain
    // arithmetic — the whole operator is oracle-exact, where HLL/GK
    // (x2/x6) stay rows-gated on engine-private sketch internals.
    // Build shape: the vocabulary-sized count table folds into
    // ≤ d·w cells — map-side combinable, which IS the fixed-size-
    // state property that makes CM the profile structure for streams
    // and for vocabularies too big to aggregate (at 100 TB you'd
    // treeAggregate occurrences straight into the d×w array; sum
    // associativity makes the two builds identical). Probe: min over
    // rows of the probed cell for the exact top-10 terms; CM
    // guarantees est ≥ exact (the spec also pins the εN bound).
    "x15_countmin" -> { (s, dir) =>
      val depth = 4
      val width = 256
      def cellOf(r: org.apache.spark.sql.Column, tok: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(r.cast("string"), lit(":"), tok)), 1, 8), 16, 10)
          .cast("long") % width
      val tc = docToks(s, dir).select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("ct"))
      val rows = explode(sequence(lit(0), lit(depth - 1))).as("r")
      val cm = tc.select(col("tok"), col("ct"), rows)
        .select(col("r"), cellOf(col("r"), col("tok")).as("c"), col("ct"))
        .groupBy("r", "c").agg(sum("ct").as("cell_ct"))
      tc.orderBy(col("ct").desc, col("tok")).limit(10)
        .select(col("tok"), col("ct"), rows)
        .select(col("tok"), col("ct"), col("r"),
          cellOf(col("r"), col("tok")).as("c"))
        .join(broadcast(cm), Seq("r", "c"))
        .groupBy("tok")
        .agg(max("ct").as("exact_ct"), min("cell_ct").as("cm_est"))
        .orderBy(col("exact_ct").desc, col("tok"))
    },

    // t13: classifier evaluation — per-language precision/recall of
    // t1's language-ID against the documents table's ground-truth
    // lang column (the eval loop every pipeline classifier needs
    // next to its scoring pass). Integer basis points; explicit
    // zero-denominator guards (a language never predicted has
    // undefined precision → reported -1). One join + two keyed
    // aggregates.
    "t13_langid_eval" -> { (s, dir) =>
      val pred = defs("t1_langid")(s, dir).select(col("doc_id"), col("lang_pred"))
      val j = table(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
      val perLang = j.groupBy("lang").agg(
        count(lit(1)).as("n_true"),
        sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L)).as("tp"))
      val perPred = j.groupBy(col("lang_pred").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      perLang.join(perPred, Seq("lang"), "left")
        .na.fill(0L, Seq("n_pred"))
        .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
          when(col("n_pred") === 0L, -1L)
            .otherwise(expr("10000 * tp div n_pred")).as("prec_bp"),
          when(col("n_true") === 0L, -1L)
            .otherwise(expr("10000 * tp div n_true")).as("rec_bp"))
        .orderBy("lang")
    },

    // c14: privacy-budgeted release — the publish step of a dataset
    // card: per-source counts and token totals released with
    // additive integer noise in [-10, 10]. The noise here is a
    // DETERMINISTIC md5 draw keyed on (source, stat) — a stand-in
    // for calibrated Laplace noise (the sandbox gate needs
    // cross-engine reproducibility); the plumbing (per-released-cell
    // noise, nothing else about the corpus leaves the aggregate) is
    // the real shape. One aggregate + a scan-level noise projection.
    "c14_dp_release" -> { (s, dir) =>
      def noise(tag: String) =
        conv(substring(md5(concat(col("source"), lit(":" + tag))), 1, 8), 16, 10)
          .cast("long") % 21L - 10L
      docToks(s, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        .join(table(s, dir, "documents").select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("nd"), sum("n_tokens").as("nt"))
        .select(col("source"),
          (col("nd") + noise("docs")).as("n_docs_released"),
          (col("nt") + noise("tokens")).as("n_tokens_released"))
        .orderBy("source")
    },

    // x10: CUBE over (source, lang) — every grouping-set combination
    // of the dataset-card dimensions in ONE pass (x7 covers ROLLUP's
    // hierarchy; CUBE completes the grouping-set surface). Spark
    // expands the cube into a single expand+aggregate — map-side
    // combinable, one shuffle — instead of 4 separate scans.
    "x10_cube" -> { (s, dir) =>
      table(s, dir, "documents")
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("source").asc_nulls_first,
                 col("lang").asc_nulls_first)
    },

    // c13: curriculum sequencing — the data-ordering stage of a
    // training pipeline: documents sequenced high-quality-first
    // (qual_bp desc, deterministic md5 tie-break), then dealt
    // round-robin to 8 shards so every shard sees the same curriculum
    // profile. Global position via ZipIndex.withPosition (range-
    // shuffle + per-partition offsets, zipWithIndex shape) — never a
    // single-partition window; spec-gated by CurriculumScaleSpec. The
    // unique doc_id in the sort key makes the position total-order
    // deterministic.
    "c13_curriculum" -> { (s, dir) =>
      graft.operators.ZipIndex.withPosition(
          defs("t2_quality")(s, dir).select(col("doc_id"), col("qual_bp")),
          Seq(col("qual_bp").desc,
            md5(col("doc_id").cast("string")).asc, col("doc_id").asc),
          "pos")
        .withColumn("shard", col("pos") % 8L)
        .select("doc_id", "qual_bp", "pos", "shard")
        .orderBy("pos")
    },

    // c2: entity scrub — regex redaction of configured entity terms
    // (the PII/boilerplate-removal stage of a cleaning pipeline; the
    // corpus has no digits, so the scrub targets its entity words).
    // Output: per affected doc, redaction count + scrubbed-text hash.
    "c2_scrub" -> { (s, dir) =>
      val pat = "\\b(customer|supplier)\\b"
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("n_redacted"),
          md5(regexp_replace(col("text"), pat, "[ENT]")).as("scrub_hash"))
        .where(col("n_redacted") > 0)
        .orderBy("doc_id")
    },

    // c3: mixture sampling — per-source hash-based downsampling to a
    // target rate (the domain-reweighting step of a training mix).
    // Deterministic: keep iff the first md5 hex char of the text
    // falls in the source's quota (rates cycle 25/50/75/100% by
    // source index). Report = the per-source sample card.
    "c3_sample_mix" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .withColumn("keep_n",
          (substring(col("source"), 4, 10).cast("int") % 4 + 1) * 4)
        .withColumn("hx", substring(md5(col("text")), 1, 1))
        .withColumn("kept", expr("instr('0123456789abcdef', hx)") <= col("keep_n"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), tokenCount(col("text")).cast("long"))
            .otherwise(0L)).as("kept_tokens"))
        .orderBy("source")
    },

    // c4: sequence packing — concatenate each source's doc stream and
    // chunk into fixed 512-token training examples (GPT-style packing
    // across document boundaries): pack_id/offset from a running
    // token sum. One window per source lane, no shuffle beyond it.
    "c4_pack_sequences" -> { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("(cum - n_tokens) div 512").as("pack_id"),
          ((col("cum") - col("n_tokens")) % 512L).as("offset"))
        .orderBy("doc_id")
    },

    // m2: multimodal frame sampling — evenly spaced byte windows over
    // each opaque blob (graft.multimodal.Multimodal.sampleFrames: the
    // video frame-sample SHAPE with the decode stubbed), each frame
    // window sliced and content-hashed so the oracle checks the
    // offset arithmetic byte-for-byte.
    "m2_frame_sample" -> { (s, dir) =>
      val media = table(s, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("content"))
      graft.multimodal.Multimodal.sampleFrames(media, n = 4, frameBytes = 16)
        .join(media, "media_id")
        .select(col("media_id"), col("frame_no"), col("off"), col("len"),
          md5(expr("substr(content, CAST(off+1 AS INT), CAST(len AS INT))")).as("frame_hash"))
        .orderBy("media_id", "frame_no")
    },

    // m8: REAL audio decode, oracle-gated. Each user's events become
    // deterministic PCM16 samples; Spark ENCODES them into genuine
    // RIFF/WAVE bytes and recovers rate/count/RMS through WavCodec's
    // byte-format parse (graft.multimodal). The oracle computes the
    // same count/RMS arithmetically — the codec roundtrip is identity
    // on samples, so any parse defect (header offset, byte order,
    // channel stride) breaks the hash match. RMS floors an IEEE
    // sqrt/div on identical integers: exact cross-engine. The
    // samples-per-media collect is fixture synthesis — a production
    // corpus stores real blobs, bounded by media duration.
    "m8_audio_rms" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val sm = IntervalsQ.events(s, dir)
        .select(col("user_id").as("media_id"),
          (((col("event_id") * 7919L) % 2003L - 1001L) * 16L)
            .cast("int").as("samp"))
        .groupBy("media_id").agg(collect_list("samp").as("ss"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("sample_rate", IntegerType),
        StructField("n_samples", LongType),
        StructField("rms", LongType))))
      sm.mapPartitions { rows =>
        rows.map { r =>
          val shorts = r.getSeq[Int](1).map(_.toShort).toArray
          val bytes = graft.multimodal.WavCodec.encodePcm16(16000, shorts)
          val Some((rate, _, got)) = graft.multimodal.WavCodec.decodePcm16(bytes)
          Row(r.getLong(0), rate, got.length.toLong,
            graft.multimodal.WavCodec.rms(got))
        }
      }(enc).orderBy("media_id")
    },

    // m11: audio FINGERPRINT through the real parse — windowed RMS
    // per 100-sample window. m8's whole-stream RMS is order-
    // INVARIANT, so it can't catch a parser that returns samples
    // out of sequence; the windowed form pins byte order, sample
    // sequencing, and window boundaries (an off-by-one-byte read or
    // a reversed array reshuffles window membership and breaks the
    // hash). Samples are a pure integer formula of (media_id, i), so
    // the oracle regenerates them positionally without the codec;
    // the Spark path round-trips them through genuine WAV bytes and
    // recovers position from the parse alone. Windowing runs as a
    // keyed DataFrame aggregate AFTER decode — the distributed shape
    // of a feature-extraction pass over decoded media.
    "m11_audio_fingerprint" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id").as("media_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("pos", LongType),
        StructField("samp", IntegerType))))
      val samples = media.mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val n = (400 + (id % 7) * 50).toInt
          val shorts = Array.tabulate(n)(i =>
            (((id * 31 + i.toLong * 7919) % 2003 - 1001) * 16).toShort)
          val bytes = graft.multimodal.WavCodec.encodePcm16(16000, shorts)
          val Some((_, _, got)) = graft.multimodal.WavCodec.decodePcm16(bytes)
          got.iterator.zipWithIndex.map { case (sm, i) =>
            Row(id, i.toLong, sm.toInt)
          }
        }
      }(enc)
      samples
        .groupBy(col("media_id"), expr("pos div 100").as("window_no"))
        .agg(count(lit(1)).as("n_samples"),
          floor(sqrt(sum(col("samp").cast("long") * col("samp"))
            .cast("double") / count(lit(1)))).cast("long").as("rms"))
        .orderBy("media_id", "window_no")
    },

    // m12: VIDEO CONTAINER metadata, oracle-gated — the last
    // multimodal tier (image: m9/m10, audio: m8/m11, video: here).
    // Per document a spec-normal minimal MP4 (ftyp + free + moov with
    // mvhd and 1–2 trak(tkhd, mdia(mdhd, minf/stbl/stts))) trees) is
    // byte-encoded and re-parsed through Mp4Codec's box walker; the
    // emitted duration/frame-count/fps come FROM THE PARSE, while the
    // oracle recomputes them arithmetically from doc_id — so any
    // defect in box sizing, big-endian reads, container recursion, or
    // stts summation breaks the hash. This is the moov-only scan a
    // 100 TB video ingest runs: metadata without touching sample
    // data, a few KB per multi-GB file. All derived values are
    // positive integer divisions (floor in both engines).
    "m12_video_meta" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_tracks", LongType),
        StructField("duration_ms", LongType),
        StructField("n_frames", LongType),
        StructField("fps_milli", LongType))))
      media.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val d1 = 100L + (id % 5) * 25; val c1 = 24L + id % 100
          val c2 = 1L + id % 50; val mts = 600L + (id % 7) * 100
          val entries = Seq((c1, d1), (c2, 2 * d1))
          val mdur = c1 * d1 + c2 * 2 * d1
          val mvDur = mdur * 600L / mts
          val tracks =
            if (id % 2 == 0) Seq((mts, entries))
            else Seq((mts, entries), (8000L, Seq((c1, 10L))))
          val bytes = graft.multimodal.Mp4Codec.encode(600L, mvDur, tracks)
          val meta = graft.multimodal.Mp4Codec.parse(bytes)
            .getOrElse(sys.error(s"m12: unparseable container for doc $id"))
          val t0 = meta.tracks.head
          Row(id, meta.tracks.length.toLong,
            meta.duration * 1000L / meta.timescale,
            t0.nSamples,
            t0.nSamples * t0.timescale * 1000L / t0.duration)
        }
      }(enc).orderBy("doc_id")
    },

    // m13: COMPRESSED-AUDIO metadata, oracle-gated — the MP3 sibling
    // of m12's container walk: per document a constant-bitrate
    // MPEG-1 Layer III stream (alternating padding bits) is
    // frame-encoded and re-walked through Mp3Codec; frame STEPPING
    // depends on the bitrate/samplerate tables and the
    // ⌊144·bitrate/rate⌋+padding size formula, so the emitted frame
    // count/bitrate/duration gate that arithmetic — a single wrong
    // table entry desynchronizes the walk and fails the hash. This is
    // the header-only scan an audio ingest runs to shard and
    // quality-gate without decoding payloads.
    "m13_mp3_meta" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_frames", LongType),
        StructField("bitrate_kbps", LongType),
        StructField("sample_rate", LongType),
        StructField("duration_ms", LongType))))
      media.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bi = (1L + id % 14).toInt
          val si = (id % 3).toInt
          val nf = (20L + id % 60).toInt
          val bytes = graft.multimodal.Mp3Codec.encode(
            bi, si, (0 until nf).map(_ % 2))
          val meta = graft.multimodal.Mp3Codec.parse(bytes)
            .getOrElse(sys.error(s"m13: unparseable stream for doc $id"))
          Row(id, meta.nFrames, meta.bitrateKbps.toLong,
            meta.sampleRateHz.toLong,
            meta.nSamples * 1000L / meta.sampleRateHz)
        }
      }(enc).orderBy("doc_id")
    },

    // m14: REAL frame extraction through the container's sample
    // tables, oracle-gated — the read m12's metadata-only scan
    // deliberately skips. Per document a one-track MP4 with n ASCII
    // frame payloads is encoded (stsz per-sample sizes, one-chunk
    // stsc/stco with an ABSOLUTE file offset) and the frames are
    // recovered by Mp4Codec.samples — offset arithmetic from the
    // parsed stco + cumulative stsz, bounds-checked slices out of
    // mdat. The oracle reproduces the payload strings AND the
    // absolute offsets in pure SQL (first sample at 408 + 4n for this
    // layout, then a running size sum): a one-byte drift in ANY box
    // length, a misread stsz entry, or a shifted slice fails the
    // hash. This is the distributed frame-sample shape: per-row JVM
    // parse work in one mapPartitions pass, no shuffle until the
    // output sort.
    "m14_video_frames" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("frame_no", LongType),
        StructField("frame_off", LongType),
        StructField("frame_sz", LongType),
        StructField("payload", StringType))))
      media.mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val n = (3L + id % 5).toInt
          val delta = 100L + (id % 4) * 50
          val payloads = (0 until n).map { i =>
            val pad = (8L + (id + 3L * i) % 11).toInt
            (s"fr|$id|$i|" + "x" * pad).getBytes("US-ASCII")
          }
          val bytes = graft.multimodal.Mp4Codec.encodeWithSamples(
            600L, n * delta, Seq((600L, delta, payloads)))
          val meta = graft.multimodal.Mp4Codec.parse(bytes)
            .getOrElse(sys.error(s"m14: unparseable container for doc $id"))
          val t = meta.tracks.head
          val got = graft.multimodal.Mp4Codec.samples(bytes)
            .getOrElse(sys.error(s"m14: sample extraction failed for doc $id"))
            .head
          var off = t.chunkOffsets.head
          got.zipWithIndex.map { case (payload, i) =>
            val o = off; off += t.sampleSizes(i)
            Row(id, i.toLong, o, t.sampleSizes(i),
              new String(payload, "US-ASCII"))
          }
        }
      }(enc).orderBy("doc_id", "frame_no")
    },

    // m9: REAL image decode, oracle-gated. Per document a 9×8
    // grayscale image with md5-derived pixels is PNG-encoded and
    // decoded back through the JDK's ImageIO (graft.multimodal
    // .ImageCodec), then perceptually hashed (dHash). On a 9×8 image
    // the pooling grid is the pixel grid, so the oracle reproduces
    // the hash with pure integer SQL over the same md5 bytes — a
    // pixel-exactness gate on the real codec path (PNG is lossless;
    // one wrong pixel flips gradient-sign bits). Bit 63 is masked on
    // both sides to stay in non-negative BIGINT territory.
    "m9_image_dhash" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id").as("media_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("dhash63", LongType))))
      media.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def pix(id: Long, x: Int, y: Int): Int = {
          md.reset()
          (md.digest(s"$id:$x:$y".getBytes("UTF-8"))(0)) & 0xff
        }
        // pooled canvas/encoder/decoder per partition: the per-row
        // raster+stream churn was 18-21% of task CPU as GC at v2sf5
        // (DRIFT_r14 §3); hashes are pinned unchanged by the m-specs
        val sess = new graft.multimodal.PngSession
        rows.map { r =>
          val id = r.getLong(0)
          val img = sess.canvas(9, 8)
          for (y <- 0 until 8; x <- 0 until 9) {
            val v = pix(id, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          val decoded = sess.roundtrip(img)
          Row(id, graft.multimodal.ImageCodec.dHash(decoded) & Long.MaxValue)
        }
      }(enc).orderBy("media_id")
    },

    // t16: character-level Shannon entropy per doc, in integer
    // micro-nats — the gibberish/boilerplate screen orthogonal to the
    // token-level filters (t2/t6/t7): encrypted or base64 blobs score
    // HIGH, template/repeated-char spam scores LOW, and both evade
    // word-ratio rules. Each (doc, char) term
    // floor(1e6 · p·ln(1/p)) is quantized BEFORE the per-doc sum
    // (integer addition — associative, partial-agg safe), and the
    // doubles feeding floor come from the identical expression tree in
    // both engines. Plan: one per-char explode (linear in corpus
    // bytes), two keyed aggregates, one keyed join — no windows.
    "t16_char_entropy" -> { (s, dir) =>
      // one map-side pass per doc (native CharEntropy kernel, same
      // floored-term arithmetic the oracle restates): the per-char
      // explode + (doc, char) GROUP BY + join-back it replaces
      // shuffled one row per corpus CHARACTER — 134 task-CPU s at
      // v2sf1 for what a bounded per-row frequency map does in 4
      table(s, dir, "documents")
        .select(col("doc_id"), col("text")).where(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.CharEntropy.char_entropy(col("text")).as("e"))
        .select(col("doc_id"),
          col("e.n_distinct_chars").as("n_distinct_chars"),
          col("e.entropy_u").as("entropy_u"))
        .orderBy("doc_id")
    },

    // c17: SPLIT + LEAKAGE AUDIT — the deterministic 80/10/10
    // train/val/test assignment (md5(doc_id) bucket — stable across
    // runs, machines, and re-partitioning; never rand()) plus the
    // audit every eval set needs before release: how many val/test
    // docs share an EXACT text hash with a training doc, and how many
    // (eval, train) duplicate pairs exist. The leak key is a 64-char
    // PREFIX fingerprint (md5 of the head), the cheap screen that
    // catches verbatim and near-verbatim template copies the
    // full-text hash misses (this corpus has prefix dups but zero
    // full-text dups). Shape at 100 TB: one keyed
    // aggregate of the train side per content hash, one shuffle join
    // on that hash from the (small) eval side — no broadcast of the
    // big split, no all-pairs. (Near-dup contamination is d7's
    // shingle-overlap decontam; this is the exact-match split gate.)
    "c17_split_leakage" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("h"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 10L).as("b"))
        .withColumn("split",
          when(col("b") <= 7L, "train")
            .when(col("b") === 8L, "val").otherwise("test"))
      val train = d.where(col("split") === "train")
        .groupBy("h").agg(count(lit(1)).as("n_train_dups"))
      d.where(col("split") =!= "train")
        .join(train, Seq("h"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_train_dups").isNotNull, 1L).otherwise(0L))
            .as("n_leaked_docs"),
          sum(coalesce(col("n_train_dups"), lit(0L))).as("n_leaked_pairs"))
        .orderBy("split")
    },

    // m16: image RESIZE on the real decode path — the
    // feature-extraction staple (thumbnail / model-input downsample)
    // over the binary column: a 16×12 PNG (md5-derived grayscale
    // pixels, same fixture family as m9) is encoded, decoded through
    // ImageIO, and area-average-resized to a 4×3 grid
    // (`ImageCodec.grayGrid` — integer luma sums, floor cell bounds).
    // Each 4×4 cell's mean luma (thousandths) is emitted as a row, so
    // the oracle re-derives every output value with pure integer SQL
    // over the same md5 bytes: one wrong pixel or off-by-one cell
    // bound shifts a mean and fails the hash. mapPartitions batch
    // shape: one encoder/decoder per task, 12 output rows per image,
    // input partitioning preserved — no shuffle until the final sort.
    "m16_image_resize" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id").as("media_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("cy", LongType),
        StructField("cx", LongType),
        StructField("gray1000", LongType))))
      media.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def pix(id: Long, x: Int, y: Int): Int = {
          md.reset()
          (md.digest(s"$id:$x:$y".getBytes("UTF-8"))(0)) & 0xff
        }
        // pooled canvas/encoder/decoder per partition (see m9)
        val sess = new graft.multimodal.PngSession
        rows.flatMap { r =>
          val id = r.getLong(0)
          val img = sess.canvas(16, 12)
          for (y <- 0 until 12; x <- 0 until 16) {
            val v = pix(id, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          val decoded = sess.roundtrip(img)
          val g = graft.multimodal.ImageCodec.grayGrid(decoded, 4, 3)
          for (cy <- 0 until 3; cx <- 0 until 4)
            yield Row(id, cy.toLong, cx.toLong, g(cy * 4 + cx))
        }
      }(enc).orderBy("media_id", "cy", "cx")
    },

    // m10: perceptual image DEDUP end-to-end, oracle-gated — the
    // whole real pipeline m9 gates only the front of: decode (PNG →
    // ImageIO pixels) → dHash → pigeonhole blocks → banded Hamming
    // self-join (Multimodal.imageNearDup). Fixtures plant near-dup
    // GROUPS: every 5 docs share one md5-derived 9×8 base grid, each
    // doc perturbing one pixel ((r,r) ← 255, r = doc_id mod 5) — a
    // ≤2-bit perceptual shift, so within-group pairs sit inside the
    // Hamming-4 radius while distinct groups sit ~31 bits apart. The
    // oracle recomputes every hash AND the block join in pure
    // integer SQL, so recall (the r+1 pigeonhole guarantee) and
    // precision (the bit_count filter) are both hash-pinned.
    "m10_image_neardup" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id").as("media_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("dhash", LongType))))
      val meta = media.mapPartitions { rows =>
        // memory-backed ImageIO streams (JVM-global, idempotent):
        // the default temp-FILE cache costs a file create+delete per
        // image and bends per-image cost superlinear under load
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        def basePix(g: Long, x: Int, y: Int): Int = {
          md.reset()
          (md.digest(s"$g:$x:$y".getBytes("UTF-8"))(0)) & 0xff
        }
        val sess = new graft.multimodal.PngSession // pooled buffers (see m9)
        rows.map { r =>
          val id = r.getLong(0)
          val g = id / 5; val rr = (id % 5).toInt
          val img = sess.canvas(9, 8)
          for (y <- 0 until 8; x <- 0 until 9) {
            val v = if (x == rr && y == rr) 255 else basePix(g, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          val dec = sess.roundtrip(img)
          Row(id, graft.multimodal.ImageCodec.dHash(dec) & Long.MaxValue)
        }
      }(enc)
      // imageNearDup64 SELF-joins its input (m10 is the 64-bit legacy twin;
      // the API default is the 128-bit path, gated as m17): without materialization the
      // whole synthetic encode→decode→dHash fixture pipeline runs once
      // per join side (measured at sf5: ~2× the decode CPU). A real
      // deployment's meta is a scanned table; pinning the (id, long)
      // hash table here — corpus-count rows, 16 bytes each — restores
      // that shape.
      graft.multimodal.Multimodal.imageNearDup64(Pin(meta, "m10.meta"), maxHamming = 4)
        .orderBy("media_a", "media_b")
    },

    // m17: the 128-bit-dHash twin of m10 — the at-scale near-dup path
    // (26-bit pigeonhole blocks; the 64-bit form's 13-bit blocks grow
    // an N²/2¹³ random-collision term, DRIFT_r09.md). Same planted
    // fixture idea on a 17×8 grid so the wider hash has real
    // differences to measure; real PNG encode→decode→dHash128 per
    // image, recall and precision both hash-pinned by the oracle.
    "m17_image_neardup128" -> { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val media = table(s, dir, "documents").select(col("doc_id").as("media_id"))
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("h0", LongType),
        StructField("h1", LongType))))
      val meta = media.mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        def basePix(g: Long, x: Int, y: Int): Int = {
          md.reset()
          (md.digest(s"$g:$x:$y".getBytes("UTF-8"))(0)) & 0xff
        }
        val sess = new graft.multimodal.PngSession // pooled buffers (see m9)
        rows.map { r =>
          val id = r.getLong(0)
          val g = id / 5; val rr = (id % 5).toInt
          val img = sess.canvas(17, 8)
          for (y <- 0 until 8; x <- 0 until 17) {
            val v = if (x == rr && y == rr) 255 else basePix(g, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          val dec = sess.roundtrip(img)
          val h = graft.multimodal.ImageCodec.dHash128(dec)
          Row(id, h(0), h(1))
        }
      }(enc)
      // pinned for m10's reason: imageNearDup self-joins it
      graft.multimodal.Multimodal.imageNearDup(Pin(meta, "m17.meta"), maxHamming = 4)
        .orderBy("media_a", "media_b")
    },

    // m1: multimodal/binary column plumbing — opaque bytes + typed
    // metadata (length, content hash).
    "m1_binary_meta" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          md5(col("text").cast("binary")).as("content_hash"),
          col("source"))
        .orderBy("doc_id")
    },

    // m3: shard packing with manifest — the webdataset/training-ingest
    // sharding step: payloads pack in doc_id order into ~4 KB shards
    // per source; each manifest row carries item count, byte total,
    // and an ORDER-SENSITIVE content hash (md5 of the items' hashes
    // concatenated in pack order) so a reader can integrity-check a
    // shard without touching others. Plan: one cumulative-sum window
    // per source assigns shard numbers (a single keyed shuffle), then
    // a per-shard aggregate; at 100 TB the writer would range-
    // partition by (source, shard_no) and stream items straight to
    // shard files — the manifest math is unchanged.
    "m3_shard_manifest" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("nb"),
          md5(col("text").cast("binary")).as("h"))
        .withColumn("shard_no", expr("(sum(nb) over (partition by source order by doc_id) - 1) div 4096"))
        .groupBy("source", "shard_no")
        .agg(count(lit(1)).as("n_items"), sum("nb").as("n_bytes"),
          md5(concat_ws("", expr(
            "transform(array_sort(collect_list(struct(doc_id, h))), x -> x.h)")))
            .as("shard_hash"))
        .orderBy("source", "shard_no")
    },

    // c11: T5-style SPAN CORRUPTION — the make-training-examples step
    // of a denoising-LM pipeline: ~15% of tokens are selected by a
    // deterministic hash draw (md5(doc_id:pos) — reproducible across
    // runs/engines, no RNG state to coordinate across executors),
    // consecutive selections collapse into numbered sentinel spans
    // (<extra_id_k> in the input; sentinel + original tokens in the
    // target). Plan: one posexplode + two doc-keyed window passes
    // (lag for span starts, running sum for span ids) + one doc-keyed
    // aggregate — linear, one partitioning reused end to end. Output
    // hashes pin both sequences byte-for-byte.
    "c11_span_corruption" -> { (s, dir) =>
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val p = docToks(s, dir)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .withColumn("sel",
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            col("pos").cast("string"))), 1, 8), 16, 10).cast("long") % 100 < 15)
        .withColumn("newspan",
          col("sel") && !coalesce(lag("sel", 1).over(w), lit(false)))
        .withColumn("span_id",
          sum(when(col("newspan"), 1L).otherwise(0L)).over(w) - 1)
      val sentinel = concat(lit("<extra_id_"), col("span_id"), lit(">"))
      val masked = when(!col("sel"), col("tok"))
        .when(col("newspan"), sentinel)
      val target = when(col("newspan"), concat(sentinel, lit(" "), col("tok")))
        .when(col("sel"), col("tok"))
      p.withColumn("ms", when(masked.isNotNull, struct(col("pos"), masked.as("t"))))
        .withColumn("ts", when(target.isNotNull, struct(col("pos"), target.as("t"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_masked"),
          sum(when(col("newspan"), 1L).otherwise(0L)).as("n_spans"),
          md5(concat_ws(" ",
            expr("transform(array_sort(collect_list(ms)), x -> x.t)"))).as("masked_hash"),
          md5(concat_ws(" ",
            expr("transform(array_sort(collect_list(ts)), x -> x.t)"))).as("targets_hash"))
        .orderBy("doc_id")
    },

    // t7: the FULL Gopher-style quality-rule battery (t2/t6 compute
    // individual signals; this is the composed accept/reject gate a
    // pipeline actually applies): token-count bounds, mean-word-length
    // bounds (integer centi-chars), >=2 distinct stopwords, >=80%
    // alphabetic tokens, and top-2-gram occupancy <=20%. Every signal
    // is a per-row expression except the 2-gram occupancy (one
    // doc-keyed aggregate) — the whole gate is one corpus pass.
    "t7_gopher_rules" -> { (s, dir) =>
      val stops = array(Seq("the", "a", "of", "and", "to", "is").map(lit): _*)
      // compiled per-token passes: Σ token lengths is the length of
      // the separator-free join; the alpha count is a native byte
      // scan; the interpreted aggregate/filter lambdas they replace
      // ran per token on every doc (DRIFT_r12 §8)
      val d = docToks(s, dir)
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("mwl_cp",
          when(col("n_tokens") === 0, 0L).otherwise(
            floor(lit(100L) * length(array_join(col("toks"), "")).cast("long")
              / col("n_tokens"))).cast("long"))
        .withColumn("n_stop",
          size(array_intersect(array_distinct(col("toks")), stops)).cast("long"))
        .withColumn("alpha_bp",
          bp(graft.functions.CountLowerAlpha.count_lower_alpha(col("toks")),
             col("n_tokens")))
      val g2 = docToks(s, dir)
        .select(col("doc_id"),
          graft.functions.TokenGramsExplode.token_grams_explode(col("toks"), 2)
            .as(Seq("pos", "g")))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val occ = g2.groupBy("doc_id")
        .agg(max("c").as("top_n"), sum("c").as("n2"))
        .select(col("doc_id"), bp(col("top_n"), col("n2")).as("top2_bp"))
      d.join(occ, Seq("doc_id"), "left")
        .na.fill(0L, Seq("top2_bp"))
        .withColumn("keep",
          col("n_tokens").between(20L, 100000L) &&
          col("mwl_cp").between(300L, 1000L) &&
          col("n_stop") >= 2L && col("alpha_bp") >= 8000L &&
          col("top2_bp") <= 2000L)
        .select("doc_id", "n_tokens", "mwl_cp", "n_stop", "alpha_bp", "top2_bp", "keep")
        .orderBy("doc_id")
    },

    // d8: exact-substring duplicate-SPAN detection (the suffix-array
    // dedup of Lee et al. 2022, in token space): every 10-token window
    // is hashed; a window hash occurring more than once anywhere in
    // the corpus marks all its occurrences as duplicated; overlapping
    // duplicated windows merge into maximal spans per doc. Plan: one
    // narrow window-explode pass (rows = corpus tokens), one hash-
    // keyed aggregate for the occurrence counts, one hash-keyed join
    // back, one doc-keyed window scan for the merge — everything
    // linear in corpus token count. (At 100 TB the window hash is
    // strided: stride S still catches any duplicate run >= W+S-1
    // tokens; stride 1 here = full sensitivity at W.) The window
    // hashes come from the native positional generator — the
    // interpreted transform(sequence…md5(slice…)) chain it replaces
    // was the suite's 3rd most expensive scan (DRIFT_r12 §8's JIT
    // lottery runs per element on exactly this shape); the 60-bit
    // md5 prefix is restated exactly by the oracle, so collisions
    // (negligible at 2^60) are engine-identical.
    "d8_substring_dedup" -> { (s, dir) =>
      val W = 10
      val wins = docToks(s, dir)
        .where(size(col("toks")) >= W)
        .select(col("doc_id"),
          graft.functions.ShingleHashPosExplode.shingle_hash_pos_explode(
            col("toks"), W, graft.functions.ShingleHashPosExplode.P60)
            .as(Seq("pos", "h")))
      val dup = wins.groupBy("h").agg(count(lit(1)).as("occ"))
        .where(col("occ") > 1).select("h")
      val hits = wins.join(dup, "h")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      hits.withColumn("prev", lag("pos", 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("pos") > col("prev") + (W - 1), 1L).otherwise(0L))
        .withColumn("grp", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "grp")
        .agg(min("pos").as("span_start"),
          (max("pos") + (W - 1)).as("span_end"),
          count(lit(1)).as("n_windows"))
        .select("doc_id", "span_start", "span_end", "n_windows")
        .orderBy("doc_id", "span_start")
    },

    // c6: exact-substring dedup REMOVAL — d8 detects, this one cuts:
    // each duplicated window hash keeps its first occurrence (min
    // (doc_id, pos)); every token covered by a non-keeper occurrence
    // is cut, and the doc is re-emitted without the cut tokens (the
    // Lee-et-al removal convention). Output is per-doc surviving
    // token count + the md5 of the cleaned text, so the oracle checks
    // the reassembly byte-for-byte. Extra work over d8: one window
    // ranking (hash-keyed), one positions explode bounded by W x
    // duplicated windows, one per-doc array filter — still linear.
    "c6_window_dedup" -> { (s, dir) =>
      val W = 10
      val d = docToks(s, dir)
      // same native positional window-hash generator as d8 (see there)
      val wins = d.where(size(col("toks")) >= W)
        .select(col("doc_id"),
          graft.functions.ShingleHashPosExplode.shingle_hash_pos_explode(
            col("toks"), W, graft.functions.ShingleHashPosExplode.P60)
            .as(Seq("pos", "h")))
      val wk = Window.partitionBy("h").orderBy("doc_id", "pos")
      val nonKeeper = wins
        .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
        .withColumn("rn", row_number().over(wk))
        .where(col("occ") > 1 && col("rn") > 1)
      val cuts = nonKeeper
        .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (W - 1))).as("cp"))
        .distinct()
        .groupBy("doc_id").agg(collect_set("cp").as("cut"))
      // native merge-walk re-emit (sorted cut set vs ascending token
      // index, survivors joined in one pass) — the in-place HOF mask
      // it replaces ran an interpreted O(|cut|) array_contains per
      // token; this was the allowlist's last justified per-row lambda
      d.join(cuts, Seq("doc_id"), "left")
        .withColumn("cut", coalesce(col("cut"), array().cast("array<long>")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(col("cut")).cast("long").as("n_cut"),
          md5(graft.functions.JoinExceptPositions
            .join_except_positions(col("toks"), col("cut"))).as("clean_hash"))
        .orderBy("doc_id")
    },

    // b1: BM25 top-k retrieval — the lexical-search complement to the
    // ANN family (and the retrieval half of decontamination-by-search:
    // query a training corpus with an eval set, drop the hits). Plan:
    // term explode filtered to the query terms BEFORE the aggregate
    // (at 100 TB the same shape runs against a pre-built term-
    // partitioned inverted index instead of a scan — the operator is
    // the scoring, not the scan); df and corpus stats are tiny
    // broadcast sides; top-k is TakeOrderedAndProject, never a global
    // sort. Scoring is engine-exact: BM25's tf normalization at
    // k1=1.2, b=0.75 is rational, so with T = corpus tokens, N = docs,
    // dl = doc length, the per-term contribution is the INTEGER
    //   (idf_u * 22*T*tf) div (10*T*tf + 3*T + 9*dl*N)
    // (multiply tf(k1+1) / (tf + k1(1-b) + k1*b*dl*N/T) through by
    // 10T), with idf_u = floor(1e6*ln(1+(N-df+.5)/(df+.5))) the f6-
    // style ulp-quantized float. Integer sums are associative — no
    // partial-agg float drift. (Products stay < 2^63 through sf5;
    // a 100 TB build would widen the numerator to DECIMAL(38,0).)
    "b1_bm25_topk" -> { (s, dir) =>
      bm25Scores(s, dir)
        .orderBy(col("score_u").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_u").desc, col("doc_id"))))
        .select("rank", "doc_id", "n_hit_terms", "score_u")
        .orderBy("rank")
    },

    // b3: HYBRID retrieval — the BM25 lexical ranking fused with a
    // dense-vector cosine ranking by reciprocal-rank fusion
    // (rrf = Σ floor(1e6/(60+rank)), the Cormack et al. constant).
    // RRF works on RANKS, so the fusion is all-integer and needs no
    // score normalization across legs — the property that makes it
    // the standard hybrid-search combiner. Each leg is top-20; a doc
    // missing from one leg contributes 0 from it (rank stays NULL in
    // the output). Plan: two independent top-k pipelines (each its
    // own bounded TakeOrdered) full-outer-joined on doc_id — 40 rows
    // meet, regardless of corpus size.
    "b3_hybrid_rrf" -> { (s, dir) =>
      // bounded TakeOrdered FIRST, then the rank window over just the
      // 20 survivors — a bare global row_number window would funnel
      // every scored doc into one partition (the b1 shape)
      val lex = bm25Scores(s, dir)
        .orderBy(col("score_u").desc, col("doc_id")).limit(20)
        .withColumn("lex_rank", row_number().over(
          Window.orderBy(col("score_u").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "lex_rank")
      val emb = table(s, dir, "embeddings")
      val vec = graft.similarity.CosineSim.topK(
          emb.where(col("vec_id") === 0L), emb,
          "vec_id", "vec_id", "embedding", k = 20)
        .select(col("neighbor").as("doc_id"),
          col("rank").cast("long").as("vec_rank"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf_u",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf_u").desc, col("doc_id"))).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id", "rrf_u", "lex_rank", "vec_rank")
        .orderBy("rank")
    },

    // b6: FIELD-WEIGHTED BM25 (the BM25F shape): documents get a
    // title field (first 5 tokens) weighted 3× against the body, term
    // frequency and document length both become their field-weighted
    // sums, and the b1 integer BM25 fraction runs unchanged on top —
    // the structured-document ranking every real search deployment
    // uses (title hits outrank body hits at equal tf). Same all-
    // integer algebra as b1 (products < 2^63 through sf5), same
    // df-via-window trick (no second corpus scan), rank window behind
    // the bounded top-10.
    "b6_bm25f" -> { (s, dir) =>
      // fields are positional (title = first 5 tokens), so the
      // weighted doc length and the per-term weight both derive from
      // size/pos — no field arrays materialize at all
      val base = docToks(s, dir).select(col("doc_id"), col("toks"))
        .withColumn("wdl",
          (least(size(col("toks")), lit(5)) * 3 +
            greatest(size(col("toks")) - 5, lit(0))).cast("long"))
      val stats = base.agg(count(lit(1)).as("n_docs"), sum("wdl").as("t_wdl"))
      // one posexplode of the plain token array — field weight derives
      // from the position (title = first 5 tokens), so no per-token
      // struct-building lambdas and no array concat at all
      val tf = base.select(col("doc_id"), col("wdl"),
          posexplode(col("toks")))
        .select(col("doc_id"), col("wdl"), col("col").as("term"),
          when(col("pos") < 5, lit(3L)).otherwise(lit(1L)).as("w"))
        .where(col("term").isin(bm25Terms: _*))
        .groupBy("doc_id", "wdl", "term").agg(sum("w").as("wtf"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .crossJoin(broadcast(stats))
        .withColumn("idf_u",
          floor(log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) * lit(1e6)).cast("long"))
        .withColumn("c_u",
          expr("(idf_u * 22 * t_wdl * wtf) div (10 * t_wdl * wtf + 3 * t_wdl + 9 * wdl * n_docs)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit_terms"), sum("c_u").as("score_u"))
        .orderBy(col("score_u").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_u").desc, col("doc_id"))).cast("long"))
        .select("rank", "doc_id", "n_hit_terms", "score_u")
        .orderBy("rank")
    },

    // b4: pseudo-relevance-feedback query expansion (the Rocchio/RM
    // shape): the b1 BM25 top-10 is the feedback set; candidate
    // expansion terms are scored df_fb·1e6 div (df_corpus + 1) —
    // feedback support, discounted by corpus commonness, all integer —
    // and the top-5 join the original query terms (weight 1 vs the
    // originals' 2) for a weighted distinct-term-hit re-rank. Scale
    // shape: the candidate vocabulary comes from 10 docs (bounded);
    // the corpus-df pass semi-joins down to that broadcast vocabulary
    // BEFORE aggregating; the re-score explodes corpus tokens against
    // a ~9-term broadcast set; every rank window sits behind a bounded
    // TakeOrdered. Nothing is all-pairs, nothing is globally windowed.
    "b4_prf_expand" -> { (s, dir) =>
      import s.implicits._
      val fb = bm25Scores(s, dir)
        .orderBy(col("score_u").desc, col("doc_id")).limit(10)
        .select("doc_id")
      val d = docToks(s, dir)
      // pinned: fbTerms feeds the match-pass vocabulary (pinned
      // below) AND the expansion scoring — as lineage, the whole
      // bm25Scores→top-10→feedback-vocabulary chain would run twice.
      // It is a 10-doc vocabulary — a handful of rows.
      val fbTerms = Pin(d.join(broadcast(fb), "doc_id")
        .select(explode(array_distinct(col("toks"))).as("term"))
        .where(not(col("term").isin(bm25Terms: _*)) && length(col("term")) >= 3)
        .groupBy("term").agg(count(lit(1)).as("df_fb"))
        .where(col("df_fb") >= 2), "b4.fbTerms")
      // ONE corpus tokenize+explode pass serves BOTH the corpus-df
      // count and the final re-rank (they used to be two full passes,
      // and the re-rank's pass could not even START until the
      // expansion chain finished — the whole query ran as a serial
      // chain of single-task corpus scans on the single-row-group
      // fixture). The match list is (doc_id, term) for terms in
      // fbTerms ∪ query terms — candidate-sized, far smaller than the
      // corpus, where a second pass would re-tokenize the whole
      // corpus. Each consumer joins the pin back to its own term set
      // (vocab is distinct), so neither depends on the two sets being
      // disjoint.
      val vocab = fbTerms.select("term")
        .unionByName(bm25Terms.toDF("term")).distinct()
      val matches = Pin(d
        .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
        .join(broadcast(vocab), "term"), "b4.matches")
      val corpusDf = matches.join(broadcast(fbTerms.select("term")), "term")
        .groupBy("term").agg(count(lit(1)).as("df_corpus"))
      val expansion = fbTerms.join(corpusDf, "term")
        .withColumn("exp_u", expr("(df_fb * 1000000) div (df_corpus + 1)"))
        .orderBy(col("exp_u").desc, col("term")).limit(5)
      val qterms = expansion.select(col("term"), lit(1L).as("w"))
        .unionByName(bm25Terms.toDF("term").withColumn("w", lit(2L)))
      val hits = matches
        .join(broadcast(qterms), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit"), sum("w").as("score"))
      hits.orderBy(col("score").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("rank", "doc_id", "n_hit", "score")
        .orderBy("rank")
    },

    // c16: dataset card — the per-source corpus manifest a training-
    // data release ships: doc/char/token totals, language count, the
    // dominant language (ties to the alphabetically first), mean doc
    // length. One pass: per-(source, lang) partials roll up per
    // source; the dominant lang is min(struct(-n, lang)) over the
    // partials — order-independent, no window at all.
    "c16_dataset_card" -> { (s, dir) =>
      val bySrcLang = table(s, dir, "documents")
        .select(col("source"), col("lang"), col("text"),
          tokens(col("text")).as("toks"))
        .select(col("source"), col("lang"),
          length(col("text")).cast("long").as("nc"),
          size(col("toks")).cast("long").as("nt"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum("nc").as("snc"), sum("nt").as("snt"))
      bySrcLang.groupBy("source")
        .agg(sum("n").as("n_docs"), sum("snc").as("n_chars"),
          sum("snt").as("n_tokens"), count(lit(1)).as("n_langs"),
          min(struct((-col("n")).as("negn"), col("lang")))
            .getField("lang").as("top_lang"))
        .withColumn("mean_chars", expr("n_chars div n_docs"))
        .select("source", "n_docs", "n_chars", "n_tokens", "n_langs",
          "top_lang", "mean_chars")
        .orderBy("source")
    },

    // b2: exact PHRASE match ("merge join", adjacent tokens) as a pure
    // projection — no shuffle, no postings index: the optimal 100 TB
    // shape for a fixed-phrase scan (b1's inverted-index path is for
    // when the query terms vary). The pair test is a zip_with against
    // the shifted array so the HOF lambda touches ONLY lambda
    // variables: indexing the toks alias inside the lambda would let
    // predicate pushdown inline the whole tokenizer per ELEMENT
    // (O(tokens²) per doc — measured 4x slower). Positions are
    // 1-based first-word indexes (zip index i = pair (w_i, w_i+1)).
    "b2_phrase" -> { (s, dir) =>
      val matched = zip_with(
        col("toks"),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => a === "merge" && b === "join")
      docToks(s, dir)
        .select(col("doc_id"),
          size(filter(matched, p => p)).cast("long").as("n_matches"),
          array_position(matched, true).as("first_pos"))
        .where(col("n_matches") > 0)
        .orderBy("doc_id")
    },

    // t10: unigram-LM negative log-likelihood per doc — the corpus's
    // own unigram distribution is the model; a doc's mean -ln p(w) is
    // its perplexity proxy (t9's bigram sibling, one order lower).
    // Plan: term counts aggregate map-side into a VOCABULARY-sized
    // table (so the corpus total is a window over that tiny table,
    // not a second corpus scan), which broadcasts back onto the
    // postings — the postings themselves never shuffle until the
    // final doc-keyed aggregate. Per-occurrence nll is floored to
    // integer micro-nats BEFORE the per-doc mean (nonneg, so trunc =
    // floor in both engines).
    "t10_unigram_logprob" -> { (s, dir) =>
      val d = docToks(s, dir)
      // corpus total via 1-row aggregate + broadcast, NOT
      // sum().over(Window.partitionBy()): the empty-partition window
      // moves the whole vocabulary (10⁸ terms on a web corpus) into
      // one task — the t2/b1 stats-crossJoin shape instead
      val counts = d.select(explode(col("toks")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("ct"))
      val tc = counts.crossJoin(broadcast(counts.agg(sum("ct").as("tot"))))
      d.select(col("doc_id"), explode(col("toks")).as("term"))
        .join(broadcast(tc), "term")
        .withColumn("nll_u",
          floor(log(col("tot").cast("double") / col("ct")) * lit(1e6)).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          expr("sum(nll_u) div count(1)").as("mean_nll_u"))
        .orderBy("doc_id")
    },

    // t12: Zipf-law fit — the corpus-statistics profile a data survey
    // reports (does the token distribution look natural-language-like
    // or templated?): least-squares slope of ln(freq) on ln(rank).
    // Per-term logs are ulp-quantized to integer micro-nats FIRST, so
    // the regression sums are exact integers (one vocabulary-sized
    // aggregate); the float division runs once at the end. The corpus
    // appears only in the term-count aggregate — map-side combinable
    // into vocab-sized keys.
    "t12_zipf" -> { (s, dir) =>
      // global rank without a single-partition window: a 10⁸-term web
      // vocabulary must not funnel through one task — ZipIndex's
      // range-shuffled zipWithIndex shape ranks it distributed
      // (term is the groupBy key, so the sort is a total order)
      val ranked = graft.operators.ZipIndex.withPosition(
          docToks(s, dir)
            .select(explode(col("toks")).as("term"))
            .groupBy("term").agg(count(lit(1)).as("freq")),
          Seq(col("freq").desc, col("term").asc), "rank0")
        .withColumn("rank", col("rank0") + 1L)
        .select(floor(log(col("rank").cast("double")) * lit(1e6)).cast("long").as("lr"),
          floor(log(col("freq").cast("double")) * lit(1e6)).cast("long").as("lf"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxx = col("sxx").cast("double"); val sxy = col("sxy").cast("double")
      ranked.agg(count(lit(1)).as("n"),
          sum("lr").as("sx"), sum("lf").as("sy"),
          sum(col("lr") * col("lr")).as("sxx"),
          sum(col("lr") * col("lf")).as("sxy"))
        .select(col("n").as("n_vocab"),
          floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * lit(1e6))
            .cast("long").as("zipf_slope_u"))
    },

    // t11: BPE-style pair-merge training, one merge round unrolled —
    // the tokenizer-training shape at scale: ONE corpus pass builds
    // the word-frequency table, and the whole training loop (pair
    // stats → argmax merge → re-stats) runs on that vocabulary-sized
    // table, never touching the corpus again. Ranking excludes
    // self-pairs (a,a) so the simultaneous merge is well-defined
    // without leftmost-greedy sequencing (matches can never be
    // adjacent); ties break on (count desc, pair asc). Output:
    // top-5 merge candidates before and after applying merge #1.
    "t11_bpe_merges" -> { (s, dir) =>
      val wOrd = Window.partitionBy("word").orderBy("pos")
      val words = docToks(s, dir).select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val syms1 = words.select(col("word"), col("freq"),
        posexplode(split(trim(regexp_replace(col("word"), "(.)", "$1 ")), " "))
          .as(Seq("pos", "s")))
      def pairCounts(syms: org.apache.spark.sql.DataFrame) =
        syms.withColumn("nx", lead("s", 1).over(wOrd))
          .where(col("nx").isNotNull && col("s") =!= col("nx"))
          .groupBy(concat(col("s"), lit(" "), col("nx")).as("pair"))
          .agg(sum("freq").as("cnt"))
      val p1 = pairCounts(syms1)
      val top1 = p1.orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(split(col("pair"), " ").getItem(0).as("ma"),
                split(col("pair"), " ").getItem(1).as("mb"))
      val merged = syms1.crossJoin(broadcast(top1))
        .withColumn("m", coalesce(
          col("s") === col("ma") && lead("s", 1).over(wOrd) === col("mb"),
          lit(false)))
        .withColumn("pm", coalesce(lag("m", 1).over(wOrd), lit(false)))
        .where(!col("pm"))
        .select(col("word"), col("freq"), col("pos"),
          when(col("m"), concat(col("ma"), col("mb"))).otherwise(col("s")).as("s"))
      // top-5 via TakeOrdered (limit AFTER orderBy runs distributed —
      // no full-vocab window), then rank the 5 survivors by a
      // triangular self-join: rank = 1 + #rows strictly ahead. Zero
      // windows, so a 10⁸-pair vocabulary never serializes.
      def top5(p: org.apache.spark.sql.DataFrame, round: Int) = {
        val t = p.orderBy(col("cnt").desc, col("pair")).limit(5)
        t.as("a").join(broadcast(t.as("b")),
            col("b.cnt") > col("a.cnt") ||
              (col("b.cnt") === col("a.cnt") && col("b.pair") < col("a.pair")),
            "left")
          .groupBy(col("a.pair").as("pair"), col("a.cnt").as("cnt"))
          .agg((count(col("b.pair")) + 1).cast("int").as("rank"))
          .select(lit(round).as("round"), col("rank"), col("pair"), col("cnt"))
      }
      top5(p1, 1).unionByName(top5(pairCounts(merged), 2))
        .orderBy("round", "rank")
    },

    // t14: BPE tokenizer APPLY — the encode half of the tokenizer
    // story (t11 trains; this tokenizes). A fixed rank-ordered merge
    // list (an input, like b1's query terms) is applied by
    // graft.text.Bpe over the DISTINCT-WORD table — vocabulary-sized
    // work, orders of magnitude below corpus size — and the corpus
    // pays ONE keyed join from word to its encoded form: the
    // per-word-cache shape every production tokenizer uses, which is
    // the only shape that tokenizes 100 TB. Output per doc: word and
    // subword counts plus a POSITIONAL hash of the encoded stream —
    // sum over tokens of md5(wpos ':' encoded) mod P. The positions
    // are distinct per doc, so the (wpos → encoding) multiset the sum
    // pins IS the full ordered stream (same gate strength as hashing
    // the concatenation), but the sum is commutative: the per-doc
    // aggregate is three codegen'd SUM/COUNT columns — no
    // collect_list, so no ObjectHashAggregate 128-key sort fallback
    // (the r12 isolated sweep measured that fallback at 25% of t14's
    // sf10 CPU) and, decisively at scale, the shuffle carries one
    // partial-agg triple per doc instead of every token's encoded
    // string (532 MB → ~2 MB at v2sf10). The vocab table broadcasts
    // explicitly — a tokenizer's per-word cache lives on every
    // worker — so the corpus-sized side is never shuffled at all:
    // one vocab-sized distinct is the query's only exchange.
    "t14_bpe_encode" -> { (s, dir) =>
      val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))
      val P = graft.dedup.MinHashLSH.P
      val d = docToks(s, dir)
      val enc = graft.text.Bpe.encodeWords(
        d.select(explode(col("toks")).as("word")).distinct(), merges)
      d.select(col("doc_id"), posexplode(col("toks")).as(Seq("wpos", "word")))
        .join(broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_subwords").as("n_subwords"),
          sum(conv(substring(md5(concat_ws(":", col("wpos"), col("encoded"))),
              1, 15), 16, 10).cast("long") % lit(P))
            .cast("long").as("encoded_hash"))
        .orderBy("doc_id")
    },

    // t15: interpolated Kneser-Ney bigram LM perplexity proxy — the
    // CCNet-shape quality filter: score every doc by the mean
    // negative log-likelihood of its bigrams under the corpus's own
    // KN-smoothed bigram model (t10's unigram sibling, one order
    // higher and properly smoothed). With discount D = 3/4,
    //   P(w2|w1) = (max(c12-D,0) + D·N1+(w1,·)·N1+(·,w2)/NB) / c(w1)
    // multiplies through by 4·NB into a ratio of two EXACT integers,
    // so the only float op is one ln() per bigram TYPE — floored to
    // micro-nats before the per-doc mean, the t10/t12 determinism
    // pattern. (All observed-bigram terms of the KN sum are
    // nonnegative and total 1 per context, so P ≤ 1 and nll ≥ 0 —
    // floor = trunc in both engines.)
    // Plan shape: bigrams form by zipping each token array with its
    // own tail — zero shuffle, no posexplode self-join; all model
    // tables (bigram counts, left/right continuation counts) are
    // vocabulary-sized aggregates that combine map-side; the corpus
    // postings shuffle once for the final doc-keyed mean. The stat
    // joins are keyed on w1/w2 — broadcastable at this SF (AQE
    // decides), plain shuffle joins on a 10⁸-term web vocabulary.
    // 100 TB note: the integer products stay under 2⁶³ while
    // c12·NB < 2⁶¹; past that, compute the ratio in double — the ln
    // argument is insensitive to the last bits at web scale.
    "t15_kn_bigram" -> { (s, dir) =>
      val d = docToks(s, dir)
      // native bigram generator; tokens are whitespace-split so the
      // space inside the gram splits back losslessly
      val pairs = d.select(col("doc_id"),
          graft.functions.TokenGramsExplode.token_grams_explode(col("toks"), 2)
            .as(Seq("pos", "g")))
        .select(col("doc_id"),
          substring_index(col("g"), " ", 1).as("w1"),
          substring_index(col("g"), " ", -1).as("w2"))
      val bc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val left = bc.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
      val right = bc.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val nb = bc.agg(count(lit(1)).as("nb"))
      pairs
        .join(bc, Seq("w1", "w2"))
        .join(left, Seq("w1"))
        .join(right, Seq("w2"))
        .crossJoin(broadcast(nb))
        .withColumn("nll_u",
          floor(log((lit(4L) * col("c1") * col("nb")).cast("double") /
              ((lit(4L) * col("c12") - 3L) * col("nb") +
                lit(3L) * col("n1f") * col("n1b"))) * lit(1e6))
            .cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(nll_u) div count(1)").as("mean_nll_u"))
        .orderBy("doc_id")
    },

    // c8: hashed-feature linear classifier (the fastText-style
    // quality-model scoring pass of a training pipeline): each token
    // hashes to a deterministic weight in [-500, 500] (md5 draw — no
    // trained weights in this sandbox, same plumbing), doc score =
    // Σ weights. Evaluated as ONE generated expression over the token
    // array — zero shuffle, embarrassingly parallel: exactly how a
    // 100 TB scoring pass should look (model broadcast, scan-only).
    "c8_hash_classifier" -> { (s, dir) =>
      // native per-token md5-weight kernel — the aggregate(transform(
      // md5…)) chain it replaces is the d13-measured 10× interpreted
      // shape; same arithmetic, oracle untouched
      docToks(s, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          // coalesce matches the oracle's COALESCE(list_sum(...), 0):
          // a NULL token array scores 0 (→ 'keep'), not NULL (→ 'drop')
          coalesce(graft.functions.HashWeightSum
            .hash_weight_sum(col("toks"), 1001L, 500L), lit(0L)).as("score_sum"))
        .withColumn("label",
          when(col("score_sum") >= 0, lit("keep")).otherwise(lit("drop")))
        .orderBy("doc_id")
    },

    // st7: STREAMING exact dedup under the oracle gate — documents
    // replayed as a real streaming query through
    // StreamOps.dedupeByContent (dropDuplicatesWithinWatermark on the
    // content key). Replay determinism: docs are fed in WAVES (the
    // r-th doc of each key group per micro-batch), so every batch
    // holds at most one doc per key and keep-first is decided by
    // batch sequence alone (existing state beats the new batch) —
    // never by intra-batch partition order, on any executor count.
    // Oracle = keep min doc_id per key.
    // st11: STREAMING CDC chunk-novelty ingest — the storage/backup
    // dedup accounting at ingest time: each arriving document's CDC
    // chunks (the d13 boundaries) probe the stream's
    // seen-chunk-hash state; a hash's FIRST instance claims it, later
    // instances are duplicates the ingest can skip writing. State is
    // one row per distinct chunk hash within the watermark horizon
    // (the bound that lets this run forever). Replay determinism
    // needs exactly TWO waves: wave 0 carries each hash's
    // (doc_id, idx)-minimum instance (one per hash — keys unique
    // within the wave), wave 1 carries everything else, all of which
    // hit existing state and drop regardless of order. The retained
    // set is exactly the per-hash minimum the oracle's window
    // computes, and the replay costs 2 micro-batches, not
    // max-multiplicity of them (the r-th-instance-per-wave form
    // measured ~10× slower at sf0.1). Output per doc: chunk count,
    // chunks it claimed first, and the novel byte mass (what the
    // ingest actually has to store).
    "st11_stream_cdc_novelty" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val instDf = table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.CdcChunksExplode.cdc_chunks_explode(col("text"))
            .as(Seq("idx", "chunk")))
        .select(col("doc_id"), col("idx"),
          md5(col("chunk")).as("h"), length(col("chunk")).cast("long").as("nb"))
      val inst = instDf.as[(Long, Long, String, Long)].collect()
      val waves = inst.groupBy(_._3).values.toSeq
        .flatMap(_.sortBy(t => (t._1, t._2)).zipWithIndex
          .map { case (t, r) => (math.min(r, 1), t) })
        .groupBy(_._1).toSeq.sortBy(_._1)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Long)]
      val src = in.toDF().toDF("doc_id", "idx", "h", "nb")
        .withColumn("ts", timestamp_seconds(lit(1000000L)))
      val out = src.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("h")
      val name = "st11_" + java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(inst.length.toLong)) {
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(6)))
          .start()
        try {
          waves.foreach { case (_, rows) =>
            in.addData(rows.map(_._2))
            q.processAllAvailable()
          }
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      val claims = s.table(name).groupBy("doc_id")
        .agg(count(lit(1)).as("n_novel_chunks"), sum("nb").as("novel_bytes"))
      instDf.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(claims, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_novel_chunks", "novel_bytes"))
        .orderBy("doc_id")
    },

    "st7_stream_dedup" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val docs = table(s, dir, "documents")
        .select(col("doc_id").cast("long"),
          concat_ws(" ", slice(tokens(col("text")), 1, 5)).as("key5"))
        .as[(Long, String)].collect()
      val waves = docs.groupBy(_._2).values.toSeq
        .flatMap(_.sortBy(_._1).zipWithIndex.map { case ((id, k), r) => (r, id, k) })
        .groupBy(_._1).toSeq.sortBy(_._1)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val src = in.toDF().toDF("doc_id", "key5")
        .select(col("doc_id"), col("key5"),
          timestamp_seconds(lit(1000000L)).as("ts"))
      val out = graft.streaming.StreamOps.dedupeByContent(src, "ts", "key5")
      val name = "st7_" + java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(docs.length.toLong)) {
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
          .start()
        try {
          waves.foreach { case (_, rows) =>
            in.addData(rows.map { case (_, id, k) => (id, k) })
            q.processAllAvailable()
          }
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).select(col("doc_id"), col("key5")).orderBy("doc_id")
    },

    // st8: STREAMING near-dup candidates under the oracle gate — the
    // last spec-only streaming operator. Each arriving doc min-hashes
    // per row, explodes into band buckets, and collides against the
    // bucket's retained representative (flatMapGroupsWithState, one
    // rep per live bucket, event-time eviction). Replay determinism
    // needs no waves here: the operator itself sorts each group's
    // batch by (event time, doc_id), so a single-batch replay with a
    // constant timestamp makes the representative = min doc_id —
    // exactly the oracle's window-min rule.
    "st8_stream_neardup" -> { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val docs = table(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val src = in.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(1000000L)).as("ts"))
      val out = graft.streaming.StreamOps.neardupCandidatesStream(
        src, "ts", "doc_id", "text")
      val name = "st8_" + java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.StreamOps.replaySized(s,
          graft.streaming.StreamOps.stateParts(docs.length.toLong)) {
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation",
            graft.streaming.StreamOps.scratchCheckpoint(name.take(5)))
          .start()
        try {
          in.addData(docs.toSeq)
          q.processAllAvailable()
        } finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("band", "bucket", "dup_doc")
    },

    // ST14: st8's stateful near-dup on the PRODUCTION INGEST PATH —
    // the same minhash→band-bucket→flatMapGroupsWithState operator fed
    // by `readStream.json` over a drop directory (st13's pattern,
    // extended from sessionization to the second stateful family).
    // All files land before the query starts, so the file source's
    // first micro-batch carries the whole corpus — identical batch
    // semantics to st8's single-batch MemoryStream replay, hence the
    // identical oracle: within one batch the operator sorts each
    // bucket group by (event time, doc_id) and the retained
    // representative is the window-min doc. RocksDB state store, no
    // driver-side collect() feeder anywhere in the path.
    "st14_file_source_neardup" -> { (s, dir) =>
      import graft.streaming.StreamOps
      val drop = graft.streaming.StreamOps.scratchDir("st14_drop")
      table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .write.mode("append").json(drop)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val name = "st14_" + java.util.UUID.randomUUID.toString.replace("-", "")
      StreamOps.replaySized(s,
          StreamOps.stateParts(table(s, dir, "documents").count())) {
        val src = s.readStream.schema(sch).json(drop)
          .select(col("doc_id"), col("text"),
            timestamp_seconds(lit(1000000L)).as("ts"))
        val out = StreamOps.neardupCandidatesStream(src, "ts", "doc_id", "text")
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation", StreamOps.scratchCheckpoint("st14"))
          .start()
        try q.processAllAvailable()
        finally { graft.streaming.StreamMeter.record(q); q.stop() }
      }
      s.table(name).orderBy("band", "bucket", "dup_doc")
    },

    // t9: bigram-surprise quality score — the KenLM-perplexity shape
    // of a pretraining quality filter without the external LM: the
    // corpus's own bigram counts are the model, a doc's mean
    // -ln P(w2|w1) = mean ln(c(w1·)/c(w1 w2)) is its surprise (low =
    // templated/boilerplate, high = unusual token transitions). All
    // per-occurrence surprises are floored to integer micro-units
    // BEFORE the per-doc mean (integer sum div count — associative, no
    // float drift; nonneg since c(w1·) >= c(w1 w2), so trunc = floor
    // in both engines). Plan: one bigram explode, two count
    // aggregates, two keyed joins (bigram, then first-word), one
    // per-doc aggregate — linear in corpus tokens, every join keyed.
    "t9_bigram_surprise" -> { (s, dir) =>
      val bg = docToks(s, dir)
        .select(col("doc_id"),
          graft.functions.TokenGramsExplode.token_grams_explode(col("toks"), 2)
            .as(Seq("pos", "g")))
        .select("doc_id", "g")
      val bgc = bg.groupBy("g").agg(count(lit(1)).as("cg"))
      val w1c = bg.select(substring_index(col("g"), " ", 1).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("cw"))
      bg.join(bgc, "g")
        .withColumn("w1", substring_index(col("g"), " ", 1))
        .join(w1c, "w1")
        .withColumn("sup_u",
          floor(log(col("cw").cast("double") / col("cg")) * lit(1e6)).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(sup_u) div count(1)").as("mean_surprise_u"))
        .orderBy("doc_id")
    },

    // c7: stratified fixed-quota sampling — exactly 10 docs per
    // source stratum in deterministic md5 order (the eval-split /
    // seed-set draw; hash order = uniform-without-RNG, reproducible
    // across engines and re-runs — the c3 rate sampler's fixed-COUNT
    // sibling). One shuffle keyed on source + one window scan; at
    // 100 TB the per-stratum quota is a bounded top-k per key, never
    // a global sort.
    "c7_stratified_sample" -> { (s, dir) =>
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
        .select("source", "rk", "doc_id", "n_tokens")
        .orderBy("source", "rk")
    },

    // c15: systematic PPS (probability-proportional-to-size) sampling
    // — the mixture-weighting draw that picks documents proportional
    // to an integer weight (here token count: long docs carry more
    // training signal) in ONE distributed pass: cumulative weight in
    // deterministic md5 order via PrefixSum (the ZipIndex-shape
    // two-phase scan — never a single-partition window), then a
    // threshold every step = W/n of cumulative mass; a doc spanning k
    // thresholds is drawn k times (n_picks), the classic systematic
    // sampler. Everything is integer arithmetic, so the draw — not
    // just its size — is oracle-exact.
    "c15_pps_sample" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("wt"),
          md5(col("doc_id").cast("string")).as("rk"))
      val cum = graft.operators.PrefixSum.withRunningTotal(
        docs, Seq(col("rk"), col("doc_id")), "wt", "cum")
      val stats = broadcast(docs.agg(sum(col("wt")).as("w"))
        .select(greatest(expr("w div 200"), lit(1L)).as("step")))
      cum.crossJoin(stats)
        .withColumn("n_picks", expr("cum div step - (cum - wt) div step"))
        .where(col("n_picks") > 0)
        .select(col("doc_id"), col("wt"), col("n_picks"))
        .orderBy("doc_id")
    },

    // d9: disjoint-CHUNK dedup — the C4/CCNet granularity: cut each
    // doc into fixed 20-token chunks, keep only each chunk's
    // corpus-wide FIRST occurrence, re-emit the doc from its
    // surviving chunks (d8/c6 are sliding-window span detection/
    // removal; this is the cheaper chunk-level REMOVAL convention —
    // 1/20th the hash rows). Plan: one chunk explode (rows =
    // tokens/20), first-occurrence ranking keyed on the chunk hash,
    // per-doc ordered reassembly — linear, every shuffle keyed.
    "d9_chunk_dedup" -> { (s, dir) =>
      val C = 20
      // native strided-window generator (stride C, trailing partial
      // chunk kept): chunk strings identical to the interpreted
      // transform(sequence…slice…concat_ws) chain it replaces
      val chunks = docToks(s, dir)
        .where(size(col("toks")) > 0)
        .select(col("doc_id"),
          graft.functions.TokenGramsExplode.token_grams_explode(
            col("toks"), C, stride = C, keepPartial = true)
            .as(Seq("pos", "chunk")))
        .select(col("doc_id"), ((col("pos") - 1L) / C).cast("long").as("cno"),
          col("chunk"))
      val wk = Window.partitionBy(md5(col("chunk"))).orderBy("doc_id", "cno")
      val kept = chunks.withColumn("rn", row_number().over(wk))
        .where(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("cno"), col("chunk")))),
            x => x.getField("chunk")))).as("clean_hash"))
      chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
        .orderBy("doc_id")
    },

    // x3: exact per-stratum quantiles (disc convention: the value at
    // sorted row floor((n-1)*q)+1, integer arithmetic only) — the
    // token-length distribution half of the t5 dataset card. One
    // shuffle keyed on source + one window scan. At 100 TB the same
    // call shape swaps in approx_percentile per stratum; the exact
    // form is what the oracle can hash.
    "x3_source_quantiles" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
      d.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min(when(col("rn") === expr("((n-1)*50) div 100 + 1"), col("n_tokens"))).as("p50_tokens"),
          min(when(col("rn") === expr("((n-1)*90) div 100 + 1"), col("n_tokens"))).as("p90_tokens"))
        .orderBy("source")
    },

    // t8: TF-IDF keyword extraction — top-3 terms per doc by
    // tf * floor(1e6*ln(N/df)) (integer score, term-asc tiebreak).
    // One corpus pass: term explode + (doc, term) aggregate, df as a
    // count-window over term (a second shuffle of the postings — at
    // corpus scale the vocabulary outgrows broadcast, and a
    // groupBy+join would rescan the corpus for the df branch), then
    // the per-doc top-3 window.
    "t8_tfidf" -> { (s, dir) =>
      val d = docToks(s, dir)
      val tf = d.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score_u").desc, col("term"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .crossJoin(broadcast(n))
        .withColumn("score_u",
          col("tf") * floor(log(col("n_docs").cast("double") / col("df")) * lit(1e6)).cast("long"))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score_u")
        .orderBy("doc_id", "rank")
    }
  )

  private val toksSql =
    """SELECT doc_id, text,
      |  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |              t -> t <> '') AS toks
      |FROM documents""".stripMargin

  private val markerSql: String = langMarkers.map { case (l, ws) =>
    val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, '$l' AS lang,
       |  CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS BIGINT) AS score
       |FROM tk""".stripMargin
  }.mkString("\nUNION ALL\n")

  // st8/st14 shared oracle: the U-family CTEs mirror
  // MinHashLSH.signatureExprsU / bandBucketsU constant-for-constant
  // (seeds interpolated from MinHashLSH.seedsU, same P, same
  // injective pair bucket); within a single batch the stream's
  // retained representative is the window-min doc per (band, bucket)
  private val neardupStreamSql: String =
    s"""WITH tk AS ($toksSql),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)),
      |  i -> array_to_string(list_slice(toks, i, i + 1), ' ')))) AS sh FROM tk),
      |hs AS (SELECT doc_id,
      |  ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${graft.dedup.MinHashLSH.P} AS hm
      |  FROM sh),
      |sig AS (SELECT doc_id,
      |  ${graft.dedup.MinHashLSH.seedsU(8).zipWithIndex.map { case ((a, b), i) =>
           s"MIN(($a * hm + $b) % ${graft.dedup.MinHashLSH.P}) s$i"
         }.mkString(",\n      |  ")}
      |  FROM hs GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, s0 * ${graft.dedup.MinHashLSH.P} + s1 AS bucket FROM sig UNION ALL
      |  SELECT doc_id, 1, s2 * ${graft.dedup.MinHashLSH.P} + s3 FROM sig UNION ALL
      |  SELECT doc_id, 2, s4 * ${graft.dedup.MinHashLSH.P} + s5 FROM sig UNION ALL
      |  SELECT doc_id, 3, s6 * ${graft.dedup.MinHashLSH.P} + s7 FROM sig),
      |w AS (SELECT band, bucket, doc_id AS dup_doc,
      |  MIN(doc_id) OVER (PARTITION BY band, bucket) AS first_doc FROM bands)
      |SELECT band, bucket, first_doc, dup_doc FROM w
      |WHERE dup_doc <> first_doc ORDER BY band, bucket, dup_doc""".stripMargin

  val oracle: Map[String, String] = Map(
    "t1_langid" ->
      s"""WITH tk AS ($toksSql),
        |sc AS ($markerSql),
        |r AS (SELECT doc_id, lang, score,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
        |  FROM sc)
        |SELECT doc_id, lang AS lang_pred, score FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      s"""WITH tk AS ($toksSql),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_sp
        |  FROM tk),
        |b AS (SELECT doc_id, n_chars, n_tokens,
        |  CASE WHEN n_tokens = 0 THEN 0 ELSE (10000 * n_uniq) // n_tokens END AS ttr_bp,
        |  CASE WHEN n_chars = 0 THEN 0 ELSE (10000 * n_sp) // n_chars END AS space_bp
        |  FROM m)
        |SELECT doc_id, n_chars, n_tokens, ttr_bp, space_bp,
        |  (ttr_bp + LEAST(n_tokens * 100, 10000)) // 2 AS qual_bp
        |FROM b ORDER BY doc_id""".stripMargin,

    "t3_tokens" ->
      s"""WITH tk AS ($toksSql)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
        |FROM tk ORDER BY doc_id""".stripMargin,

    "s10_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "x11_drift" ->
      """WITH d AS (SELECT source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 AS in_a
        |  FROM documents),
        |per AS (SELECT source,
        |  CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
        |  CAST(SUM(n_b) AS BIGINT) AS tot_b FROM per)
        |SELECT source, n_a, n_b,
        |  CAST(10000 * n_a // tot_a AS BIGINT) AS share_a_bp,
        |  CAST(10000 * n_b // tot_b AS BIGINT) AS share_b_bp,
        |  CAST(abs(10000 * n_a // tot_a - 10000 * n_b // tot_b) AS BIGINT) AS delta_bp
        |FROM per, t ORDER BY source""".stripMargin,

    "b5_snippet" -> {
      val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH tk AS ($toksSql),
        |p AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
        |  unnest(toks) AS tok FROM tk),
        |h AS (SELECT doc_id, pos,
        |  CASE WHEN tok IN ($terms) THEN 1 ELSE 0 END AS hit FROM p),
        |wv AS (SELECT doc_id, pos, SUM(hit) OVER (PARTITION BY doc_id
        |  ORDER BY pos RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING) AS n_hits
        |  FROM h),
        |b AS (SELECT doc_id, n_hits, pos AS best_pos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY n_hits DESC, pos) AS rn FROM wv)
        |  WHERE rn = 1 AND n_hits > 0)
        |SELECT b.doc_id, CAST(b.n_hits AS BIGINT) AS n_hits,
        |  CAST(b.best_pos AS BIGINT) AS best_pos,
        |  array_to_string(list_slice(tk.toks, b.best_pos + 1, b.best_pos + 10), ' ') AS snippet
        |FROM b JOIN tk ON tk.doc_id = b.doc_id ORDER BY b.doc_id""".stripMargin
    },

    "x14_heavy_hitters" ->
      s"""WITH tk AS ($toksSql),
        |t AS (SELECT unnest(toks) AS tok FROM tk),
        |n AS (SELECT COUNT(*) AS n FROM t)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM t CROSS JOIN n GROUP BY tok, n.n
        |HAVING COUNT(*) * 30 > n.n
        |ORDER BY tok""".stripMargin,

    "x15_countmin" ->
      s"""WITH tk AS ($toksSql),
        |tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY tok),
        |rw AS (SELECT unnest(range(0, 4)) AS r),
        |cells AS (SELECT r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT
        |      % 256 AS c, ct
        |  FROM tc CROSS JOIN rw),
        |cm AS (SELECT r, c, CAST(SUM(ct) AS BIGINT) AS cell_ct
        |  FROM cells GROUP BY r, c),
        |top AS (SELECT tok, ct FROM tc ORDER BY ct DESC, tok LIMIT 10),
        |pr AS (SELECT tok, ct, r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT
        |      % 256 AS c
        |  FROM top CROSS JOIN rw)
        |SELECT tok, MAX(ct) AS exact_ct, MIN(cell_ct) AS cm_est
        |FROM pr JOIN cm USING (r, c)
        |GROUP BY tok ORDER BY exact_ct DESC, tok""".stripMargin,

    "t13_langid_eval" ->
      s"""WITH tk AS ($toksSql),
        |sc AS ($markerSql),
        |r AS (SELECT doc_id, lang AS lang_pred FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, lang) AS rn FROM sc) WHERE rn = 1),
        |j AS (SELECT d.lang, r.lang_pred FROM documents d
        |  JOIN r ON r.doc_id = d.doc_id),
        |pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true,
        |  CAST(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM j GROUP BY lang),
        |pp AS (SELECT lang_pred AS lang, CAST(COUNT(*) AS BIGINT) AS n_pred
        |  FROM j GROUP BY lang_pred)
        |SELECT pl.lang, pl.n_true, CAST(COALESCE(pp.n_pred, 0) AS BIGINT) AS n_pred,
        |  pl.tp,
        |  CAST(CASE WHEN COALESCE(pp.n_pred, 0) = 0 THEN -1
        |       ELSE 10000 * pl.tp // pp.n_pred END AS BIGINT) AS prec_bp,
        |  CAST(CASE WHEN pl.n_true = 0 THEN -1
        |       ELSE 10000 * pl.tp // pl.n_true END AS BIGINT) AS rec_bp
        |FROM pl LEFT JOIN pp ON pp.lang = pl.lang
        |ORDER BY pl.lang""".stripMargin,

    "c14_dp_release" ->
      s"""WITH tk AS ($toksSql),
        |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk),
        |g AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS nd,
        |  CAST(SUM(t.n_tokens) AS BIGINT) AS nt
        |  FROM t JOIN documents d ON d.doc_id = t.doc_id GROUP BY d.source)
        |SELECT source,
        |  nd + ('0x' || substr(md5(source || ':docs'), 1, 8))::BIGINT % 21 - 10
        |    AS n_docs_released,
        |  nt + ('0x' || substr(md5(source || ':tokens'), 1, 8))::BIGINT % 21 - 10
        |    AS n_tokens_released
        |FROM g ORDER BY source""".stripMargin,

    "x10_cube" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY gid, source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin,

    "c13_curriculum" ->
      s"""WITH tk AS ($toksSql),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
        |  FROM tk),
        |q AS (SELECT doc_id,
        |  ((CASE WHEN n_tokens = 0 THEN 0 ELSE (10000 * n_uniq) // n_tokens END)
        |    + LEAST(n_tokens * 100, 10000)) // 2 AS qual_bp FROM m),
        |r AS (SELECT doc_id, CAST(qual_bp AS BIGINT) AS qual_bp,
        |  CAST(ROW_NUMBER() OVER (ORDER BY qual_bp DESC,
        |    md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |  FROM q)
        |SELECT doc_id, qual_bp, pos, pos % 8 AS shard FROM r
        |ORDER BY pos""".stripMargin,

    "c5_token_budget" ->
      s"""WITH tk AS ($toksSql),
        |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk),
        |j AS (SELECT d.source, t.doc_id, t.n_tokens
        |  FROM t JOIN documents d ON d.doc_id = t.doc_id),
        |c AS (SELECT source, doc_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM j)
        |SELECT source, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum
        |FROM c WHERE cum - n_tokens < 1000
        |ORDER BY source, doc_id""".stripMargin,

    "t6_repetition" ->
      s"""WITH tk AS ($toksSql),
        |g AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks)),
        |    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
        |  FROM tk WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
        |top AS (SELECT doc_id, g AS top_2gram, c AS top_n FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
        |  FROM c) WHERE rn = 1),
        |agg AS (SELECT doc_id, SUM(c) AS n2,
        |  SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
        |  FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n2, 0) AS BIGINT) AS n_2grams,
        |  top_2gram,
        |  CAST(COALESCE(top_n, 0) AS BIGINT) AS top_n,
        |  CAST(COALESCE(CASE WHEN n2 = 0 THEN 0
        |    ELSE floor(10000 * top_n / n2) END, 0) AS BIGINT) AS top2_bp,
        |  CAST(COALESCE(CASE WHEN n2 = 0 THEN 0
        |    ELSE floor(10000 * dup / n2) END, 0) AS BIGINT) AS dup2_bp
        |FROM documents d
        |LEFT JOIN top ON d.doc_id = top.doc_id
        |LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "c2_scrub" ->
      """WITH r AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|supplier)\b')) AS BIGINT) AS n_redacted,
        |  md5(regexp_replace(text, '\b(customer|supplier)\b', '[ENT]', 'g')) AS scrub_hash
        |FROM documents)
        |SELECT * FROM r WHERE n_redacted > 0 ORDER BY doc_id""".stripMargin,

    "c3_sample_mix" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT doc_id, source, text,
        |  (CAST(substr(source, 4) AS INT) % 4 + 1) * 4 AS keep_n,
        |  substr(md5(text), 1, 1) AS hx FROM documents),
        |k AS (SELECT d.*, instr('0123456789abcdef', hx) <= keep_n AS kept,
        |  CAST(len(tk.toks) AS BIGINT) AS n_tokens
        |  FROM d JOIN tk ON d.doc_id = tk.doc_id)
        |SELECT source, COUNT(*) AS n_in,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "c4_pack_sequences" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT documents.doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM documents JOIN tk ON documents.doc_id = tk.doc_id),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (
        |    PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum FROM d)
        |SELECT doc_id, source, n_tokens,
        |  (cum - n_tokens) // 512 AS pack_id,
        |  (cum - n_tokens) % 512 AS offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      s"""WITH tk AS ($toksSql),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        |  FROM tk)
        |SELECT doc_id,
        |  list_aggregate(list_transform(s,
        |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT), 'min') AS fp
        |FROM sh ORDER BY doc_id""".stripMargin,

    "d1_exact_dedup" ->
      s"""WITH tk AS ($toksSql),
        |k AS (SELECT doc_id,
        |  md5(array_to_string(list_slice(toks, 1, 5), ' ')) AS khash
        |  FROM tk)
        |SELECT khash, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
        |FROM k GROUP BY khash HAVING COUNT(*) > 1
        |ORDER BY khash""".stripMargin,

    "t5_domain_mix" ->
      s"""WITH tk AS ($toksSql),
        |m AS (SELECT t.doc_id, d.source,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |  md5(array_to_string(list_slice(toks, 1, 5), ' ')) AS khash
        |  FROM tk t JOIN documents d ON t.doc_id = d.doc_id),
        |q AS (SELECT source, n_tokens, khash,
        |  (CASE WHEN n_tokens = 0 THEN 0 ELSE (10000 * n_uniq) // n_tokens END
        |   + LEAST(n_tokens * 100, 10000)) // 2 AS qual_bp FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(floor(AVG(qual_bp)) AS BIGINT) AS mean_qual_bp,
        |  COUNT(*) - COUNT(DISTINCT khash) AS n_dups
        |FROM q GROUP BY source ORDER BY source""".stripMargin,

    "c1_clean_corpus" ->
      s"""WITH tk AS ($toksSql),
        |sc AS ($markerSql),
        |lang AS (SELECT doc_id, lang AS lang_pred FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, lang) AS rn FROM sc) WHERE rn = 1),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq FROM tk),
        |qual AS (SELECT doc_id, n_tokens,
        |  (CASE WHEN n_tokens = 0 THEN 0 ELSE (10000 * n_uniq) // n_tokens END
        |   + LEAST(n_tokens * 100, 10000)) // 2 AS qual_bp FROM m),
        |k AS (SELECT doc_id,
        |  md5(array_to_string(list_slice(toks, 1, 5), ' ')) AS khash FROM tk),
        |keep AS (SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY khash ORDER BY doc_id) AS rn
        |  FROM k) WHERE rn = 1)
        |SELECT lang.doc_id, lang_pred, n_tokens, qual_bp
        |FROM lang JOIN qual ON lang.doc_id = qual.doc_id
        |JOIN keep ON lang.doc_id = keep.doc_id
        |WHERE qual_bp >= 4800
        |ORDER BY lang.doc_id""".stripMargin,

    "m2_frame_sample" ->
      // DuckDB has no BLOB substring; the corpus is pure ASCII (the
      // gate would catch otherwise: octet_length==length checked), so
      // VARCHAR slicing is byte-identical to Spark's binary slicing
      """WITH m AS (SELECT doc_id AS media_id, text AS content FROM documents),
        |f AS (SELECT media_id, content,
        |  CAST(octet_length(CAST(content AS BLOB)) AS BIGINT) AS nb,
        |  CAST(fn AS BIGINT) AS frame_no
        |  FROM m, UNNEST(range(0, 4)) AS t(fn)),
        |x AS (SELECT media_id, frame_no, content,
        |  LEAST(CAST(floor(nb * frame_no / 4) AS BIGINT), GREATEST(nb - 16, 0)) AS off,
        |  LEAST(16, nb) AS len FROM f)
        |SELECT media_id, frame_no, off, len,
        |  md5(substring(content, CAST(off + 1 AS INT), CAST(len AS INT))) AS frame_hash
        |FROM x ORDER BY media_id, frame_no""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash, source
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m8_audio_rms" ->
      // the WAV encode→parse roundtrip is identity on samples, so the
      // oracle skips the codec and computes count/RMS arithmetically;
      // FLOOR(SQRT(x)/n) on identical integers is IEEE-exact
      """WITH s AS (SELECT user_id AS media_id,
        |  ((event_id * 7919) % 2003 - 1001) * 16 AS samp FROM events)
        |SELECT media_id, CAST(16000 AS INT) AS sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(FLOOR(SQRT(CAST(SUM(samp * samp) AS DOUBLE) / COUNT(*))) AS BIGINT) AS rms
        |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,

    "m10_image_neardup" ->
      // hashes as in m9 (base grid keyed by media_id//5, the (r,r)
      // pixel planted to 255), then the 5-block pigeonhole join and
      // Hamming filter in integer SQL — blockBits = ceil(64/5) = 13
      """WITH m AS (SELECT doc_id AS media_id, doc_id // 5 AS g,
        |  doc_id % 5 AS r FROM documents),
        |px AS (SELECT media_id, y, x,
        |  CASE WHEN x = r AND y = r THEN 255
        |       ELSE ('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
        |         CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT
        |  END AS v
        |  FROM m, UNNEST(range(0, 8)) ty(y), UNNEST(range(0, 9)) tx(x)),
        |h AS (SELECT media_id,
        |  SUM(CASE WHEN b < 63 AND v1 > v0
        |      THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS dh
        |  FROM (SELECT p0.media_id, p0.y * 8 + p0.x AS b, p0.v AS v0, p1.v AS v1
        |        FROM px p0 JOIN px p1 ON p0.media_id = p1.media_id
        |          AND p1.y = p0.y AND p1.x = p0.x + 1
        |        WHERE p0.x < 8) GROUP BY media_id),
        |bl AS (SELECT media_id, dh, b AS block_no,
        |  (dh >> CAST(b * 13 AS INT)) & 8191 AS bv
        |  FROM h, UNNEST(range(0, 5)) tb(b)),
        |p AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |  bit_count(xor(a.dh, b.dh)) AS ham
        |  FROM bl a JOIN bl b ON a.block_no = b.block_no AND a.bv = b.bv
        |    AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.dh, b.dh)) <= 4)
        |SELECT media_a, media_b, CAST(ham AS INT) AS hamming
        |FROM p ORDER BY media_a, media_b""".stripMargin,

    "m17_image_neardup128" ->
      // 17×8 grid, bit b = y*16+x; bits 63 and 127 dropped (both
      // longs non-negative, same convention as m10); 5 blocks over
      // the logical 126-bit (h1:h0) vector — block 2 spans the
      // boundary: 11 bits of h0 | 15 bits of h1 shifted up
      """WITH m AS (SELECT doc_id AS media_id, doc_id // 5 AS g,
        |  doc_id % 5 AS r FROM documents),
        |px AS (SELECT media_id, y, x,
        |  CASE WHEN x = r AND y = r THEN 255
        |       ELSE ('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
        |         CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT
        |  END AS v
        |  FROM m, UNNEST(range(0, 8)) ty(y), UNNEST(range(0, 17)) tx(x)),
        |h AS (SELECT media_id,
        |  SUM(CASE WHEN b < 63 AND v1 > v0
        |      THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS h0,
        |  SUM(CASE WHEN b >= 64 AND b < 127 AND v1 > v0
        |      THEN (CAST(1 AS BIGINT) << CAST(b - 64 AS INT)) ELSE 0 END) AS h1
        |  FROM (SELECT p0.media_id, p0.y * 16 + p0.x AS b, p0.v AS v0, p1.v AS v1
        |        FROM px p0 JOIN px p1 ON p0.media_id = p1.media_id
        |          AND p1.y = p0.y AND p1.x = p0.x + 1
        |        WHERE p0.x < 16) GROUP BY media_id),
        |bl AS (SELECT media_id, h0, h1, b AS block_no,
        |  CASE b
        |    WHEN 0 THEN h0 & 67108863
        |    WHEN 1 THEN (h0 >> 26) & 67108863
        |    WHEN 2 THEN ((h0 >> 52) & 2047) | ((h1 & 32767) << 11)
        |    WHEN 3 THEN (h1 >> 15) & 67108863
        |    ELSE (h1 >> 41) & 4194303
        |  END AS bv
        |  FROM h, UNNEST(range(0, 5)) tb(b)),
        |p AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |  bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) AS ham
        |  FROM bl a JOIN bl b ON a.block_no = b.block_no AND a.bv = b.bv
        |    AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 4)
        |SELECT media_a, media_b, CAST(ham AS INT) AS hamming
        |FROM p ORDER BY media_a, media_b""".stripMargin,

    "m11_audio_fingerprint" ->
      // samples regenerated positionally from the same integer
      // formula — the codec roundtrip must preserve exact order for
      // window membership (and therefore every window RMS) to match
      """WITH m AS (SELECT doc_id AS media_id,
        |  400 + (doc_id % 7) * 50 AS n FROM documents),
        |s AS (SELECT media_id, CAST(i AS BIGINT) AS pos,
        |  ((media_id * 31 + i * 7919) % 2003 - 1001) * 16 AS samp
        |  FROM m, LATERAL UNNEST(range(0, n)) t(i))
        |SELECT media_id, pos // 100 AS window_no,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(FLOOR(SQRT(CAST(SUM(samp * samp) AS DOUBLE) / COUNT(*))) AS BIGINT) AS rms
        |FROM s GROUP BY media_id, pos // 100
        |ORDER BY media_id, window_no""".stripMargin,

    "m12_video_meta" ->
      // the container metadata recomputed arithmetically from doc_id;
      // the Spark side must recover the identical values THROUGH the
      // encode→box-walk roundtrip (all divisions floor on positives)
      """WITH p AS (SELECT doc_id,
        |  100 + (doc_id % 5) * 25 AS d1,
        |  24 + doc_id % 100 AS c1,
        |  1 + doc_id % 50 AS c2,
        |  600 + (doc_id % 7) * 100 AS mts
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
        |  c1 + c2 AS n_frames,
        |  c1 * d1 + c2 * 2 * d1 AS mdur, mts
        |  FROM p)
        |SELECT doc_id, n_tracks,
        |  CAST(((mdur * 600) // mts) * 1000 // 600 AS BIGINT) AS duration_ms,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_frames * mts * 1000 // mdur AS BIGINT) AS fps_milli
        |FROM q ORDER BY doc_id""".stripMargin,

    "m13_mp3_meta" ->
      // bitrate/samplerate tables inlined as array literals; the
      // Spark side recovers the same values by WALKING the encoded
      // frames (table entries + size formula under the hash gate)
      """WITH p AS (SELECT doc_id,
        |  CAST(1 + doc_id % 14 AS INT) AS bi,
        |  CAST(doc_id % 3 AS INT) AS si,
        |  20 + doc_id % 60 AS nf
        |  FROM documents),
        |q AS (SELECT doc_id, nf,
        |  ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bi] AS kbps,
        |  ([44100,48000,32000])[si + 1] AS rate
        |  FROM p)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(kbps AS BIGINT) AS bitrate_kbps,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(nf * 1152 * 1000 // rate AS BIGINT) AS duration_ms
        |FROM q ORDER BY doc_id""".stripMargin,

    "m14_video_frames" ->
      // the container layout reproduced arithmetically: for the
      // one-track encodeWithSamples file the first sample sits at
      // 408 + 4n (ftyp 24 + free 12 + moov 116+248+4n + mdat header
      // 8), later samples at a running stsz sum — the Spark side must
      // recover identical offsets AND payload bytes THROUGH the
      // stsz/stco parse and the mdat slice
      """WITH f AS (SELECT doc_id, CAST(3 + doc_id % 5 AS BIGINT) AS n FROM documents),
        |s AS (SELECT doc_id, n, CAST(i AS BIGINT) AS i,
        |  'fr|' || doc_id || '|' || i || '|' ||
        |    repeat('x', CAST(8 + (doc_id + 3 * i) % 11 AS INT)) AS payload
        |  FROM f, UNNEST(range(0, n)) AS t(i)),
        |o AS (SELECT doc_id, i, payload, CAST(length(payload) AS BIGINT) AS sz,
        |  408 + 4 * n + COALESCE(SUM(CAST(length(payload) AS BIGINT)) OVER (
        |    PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM s)
        |SELECT doc_id, i AS frame_no, CAST(off AS BIGINT) AS frame_off,
        |  sz AS frame_sz, payload
        |FROM o ORDER BY doc_id, frame_no""".stripMargin,

    "t16_char_entropy" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        |ch AS (SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
        |  i -> substr(text, CAST(i AS INT), 1))) AS ch FROM d),
        |cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM ch GROUP BY doc_id, ch),
        |n AS (SELECT doc_id, CAST(SUM(nc) AS BIGINT) AS n FROM cc GROUP BY doc_id)
        |SELECT cc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |  CAST(SUM(CAST(floor(1e6 * (CAST(nc AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |    ln(CAST(n.n AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT)) AS BIGINT) AS entropy_u
        |FROM cc JOIN n ON cc.doc_id = n.doc_id
        |GROUP BY cc.doc_id ORDER BY cc.doc_id""".stripMargin,

    "c17_split_leakage" ->
      """WITH d AS (SELECT doc_id, md5(substr(text, 1, 64)) AS h,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS b
        |  FROM documents),
        |s AS (SELECT doc_id, h,
        |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM d),
        |t AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_train_dups
        |  FROM s WHERE split = 'train' GROUP BY h)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_docs,
        |  CAST(SUM(COALESCE(n_train_dups, 0)) AS BIGINT) AS n_leaked_pairs
        |FROM s LEFT JOIN t ON s.h = t.h WHERE split <> 'train'
        |GROUP BY split ORDER BY split""".stripMargin,

    "m16_image_resize" ->
      // PNG is lossless, the 16×12 image splits exactly into 4×4
      // cells, and grayscale luma is 1000·v — so every area-average
      // cell value equals this integer arithmetic over the same md5
      // pixel bytes
      """WITH m AS (SELECT doc_id AS media_id FROM documents),
        |px AS (SELECT media_id, x, y,
        |  ('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':' ||
        |     CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2))::BIGINT AS v
        |  FROM m, UNNEST(range(0, 16)) AS tx(x), UNNEST(range(0, 12)) AS ty(y))
        |SELECT media_id, CAST(y // 4 AS BIGINT) AS cy, CAST(x // 4 AS BIGINT) AS cx,
        |  CAST(SUM(1000 * v) // 16 AS BIGINT) AS gray1000
        |FROM px GROUP BY media_id, y // 4, x // 4
        |ORDER BY media_id, cy, cx""".stripMargin,

    "m9_image_dhash" ->
      // PNG is lossless and the 9×8 pooling grid is the pixel grid,
      // so the perceptual hash of the DECODED image equals this pure
      // integer arithmetic over the same md5-derived pixels; bit 63
      // masked on both sides (sign bit of BIGINT)
      """WITH m AS (SELECT doc_id AS media_id FROM documents),
        |g AS (SELECT media_id, CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
        |  ('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':' ||
        |     CAST(c AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 2))::BIGINT AS v0,
        |  ('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':' ||
        |     CAST(c + 1 AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 2))::BIGINT AS v1
        |  FROM m, UNNEST(range(0, 8)) AS tr(r), UNNEST(range(0, 8)) AS tc(c)),
        |b AS (SELECT media_id,
        |  CASE WHEN NOT (r = 7 AND c = 7) AND v1 > v0
        |       THEN (CAST(1 AS BIGINT) << CAST(r * 8 + c AS INT)) ELSE 0 END AS bit
        |  FROM g)
        |SELECT media_id, CAST(SUM(bit) AS BIGINT) AS dhash63
        |FROM b GROUP BY media_id ORDER BY media_id""".stripMargin,

    "c11_span_corruption" ->
      s"""WITH tk AS ($toksSql),
        |p AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
        |  unnest(toks) AS tok FROM tk),
        |s1 AS (SELECT doc_id, pos, tok,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8))::BIGINT % 100 < 15 AS sel
        |  FROM p),
        |s2 AS (SELECT *, sel AND NOT COALESCE(
        |    lag(sel) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS newspan
        |  FROM s1),
        |s3 AS (SELECT *,
        |  SUM(CASE WHEN newspan THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS span_id
        |  FROM s2),
        |s4 AS (SELECT doc_id, pos, sel, newspan,
        |  CASE WHEN NOT sel THEN tok
        |       WHEN newspan THEN '<extra_id_' || span_id || '>' END AS ms,
        |  CASE WHEN newspan THEN '<extra_id_' || span_id || '> ' || tok
        |       WHEN sel THEN tok END AS ts
        |  FROM s3)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(SUM(CASE WHEN newspan THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |  md5(COALESCE(string_agg(ms, ' ' ORDER BY pos), '')) AS masked_hash,
        |  md5(COALESCE(string_agg(ts, ' ' ORDER BY pos), '')) AS targets_hash
        |FROM s4 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "m3_shard_manifest" ->
      """WITH it AS (SELECT source, doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb,
        |  md5(text) AS h FROM documents),
        |sn AS (SELECT source, doc_id, nb, h,
        |  (SUM(nb) OVER (PARTITION BY source ORDER BY doc_id) - 1) // 4096 AS shard_no
        |  FROM it)
        |SELECT source, CAST(shard_no AS BIGINT) AS shard_no,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(nb) AS BIGINT) AS n_bytes,
        |  md5(string_agg(h, '' ORDER BY doc_id)) AS shard_hash
        |FROM sn GROUP BY source, shard_no
        |ORDER BY source, shard_no""".stripMargin,

    "t7_gopher_rules" ->
      s"""WITH tk AS ($toksSql),
        |base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk),
        |m AS (SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens = 0 THEN 0
        |    ELSE CAST(floor(100 * list_sum(list_transform(toks, t -> length(t)))
        |      / n_tokens) AS BIGINT) END AS mwl_cp,
        |  CAST(len(list_intersect(list_distinct(toks),
        |    ['the','a','of','and','to','is'])) AS BIGINT) AS n_stop,
        |  CASE WHEN n_tokens = 0 THEN 0
        |    ELSE CAST(floor(10000 * len(list_filter(toks,
        |      t -> regexp_matches(t, '^[a-z]+$$'))) / n_tokens) AS BIGINT) END AS alpha_bp
        |  FROM base),
        |g AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks)),
        |    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
        |  FROM tk WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
        |o AS (SELECT doc_id,
        |  CAST(floor(10000 * MAX(c) / SUM(c)) AS BIGINT) AS top2_bp
        |  FROM c GROUP BY doc_id)
        |SELECT m.doc_id, n_tokens, mwl_cp, n_stop, alpha_bp,
        |  COALESCE(top2_bp, 0) AS top2_bp,
        |  (n_tokens BETWEEN 20 AND 100000) AND (mwl_cp BETWEEN 300 AND 1000)
        |    AND n_stop >= 2 AND alpha_bp >= 8000
        |    AND COALESCE(top2_bp, 0) <= 2000 AS keep
        |FROM m LEFT JOIN o USING (doc_id) ORDER BY m.doc_id""".stripMargin,

    "d8_substring_dedup" ->
      s"""WITH tk AS ($toksSql),
        |w AS (SELECT doc_id, i AS pos,
        |  ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 9), ' ')),
        |    1, 15))::BIGINT AS h
        |  FROM tk, UNNEST(range(1, len(toks) - 8)) AS t(i)),
        |occ AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) > 1),
        |hits AS (SELECT w.doc_id, w.pos FROM w JOIN occ USING (h)),
        |t AS (SELECT doc_id, pos,
        |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 9
        |    THEN 1 ELSE 0 END AS brk FROM hits),
        |g AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id
        |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM t)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 9 AS span_end,
        |  COUNT(*) AS n_windows
        |FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    "c6_window_dedup" ->
      s"""WITH tk AS ($toksSql),
        |w AS (SELECT doc_id, i AS pos,
        |  ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 9), ' ')),
        |    1, 15))::BIGINT AS h
        |  FROM tk, UNNEST(range(1, len(toks) - 8)) AS t(i)),
        |r AS (SELECT doc_id, pos,
        |  COUNT(*) OVER (PARTITION BY h) AS occ,
        |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM w),
        |cuts AS (SELECT DISTINCT doc_id, pos + o AS cp
        |  FROM r, UNNEST(range(0, 10)) AS t(o) WHERE occ > 1 AND rn > 1),
        |tp AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS tok
        |  FROM tk, UNNEST(range(1, len(toks) + 1)) AS t(i)),
        |kept AS (SELECT tp.doc_id, tp.i, tp.tok FROM tp
        |  LEFT JOIN cuts ON tp.doc_id = cuts.doc_id AND tp.i = cuts.cp
        |  WHERE cuts.cp IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS txt
        |  FROM kept GROUP BY doc_id),
        |nc AS (SELECT doc_id, COUNT(*) AS n_cut FROM cuts GROUP BY doc_id)
        |SELECT tk.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(nc.n_cut, 0) AS BIGINT) AS n_cut,
        |  md5(COALESCE(agg.txt, '')) AS clean_hash
        |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
        |LEFT JOIN nc ON tk.doc_id = nc.doc_id
        |ORDER BY tk.doc_id""".stripMargin,

    "b1_bm25_topk" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM tk),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(dl) AS BIGINT) AS t_toks FROM d),
        |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  WHERE term IN ('table', 'hash', 'merge', 'window')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  (CAST(floor(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) * 1e6) AS BIGINT)
        |    * 22 * st.t_toks * tf.tf)
        |  // (10 * st.t_toks * tf.tf + 3 * st.t_toks + 9 * tf.dl * st.n_docs) AS c_u
        |  FROM tf, dfq, st WHERE tf.term = dfq.term),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
        |  CAST(SUM(c_u) AS BIGINT) AS score_u FROM sc GROUP BY doc_id),
        |r AS (SELECT doc_id, n_hit_terms, score_u,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS INT) AS rank FROM ag)
        |SELECT rank, doc_id, n_hit_terms, score_u FROM r WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    "b6_bm25f" ->
      s"""WITH tk AS ($toksSql),
        |f AS (SELECT doc_id, list_slice(toks, 1, 5) AS title,
        |  list_slice(toks, 6, len(toks)) AS body FROM tk),
        |fb AS (SELECT doc_id, title, body,
        |  CAST(3 * len(title) + len(body) AS BIGINT) AS wdl FROM f),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(wdl) AS BIGINT) AS t_wdl FROM fb),
        |tw AS (SELECT doc_id, wdl, term, w FROM (
        |  SELECT doc_id, wdl, unnest(title) AS term, CAST(3 AS BIGINT) AS w FROM fb
        |  UNION ALL
        |  SELECT doc_id, wdl, unnest(body) AS term, CAST(1 AS BIGINT) AS w FROM fb)
        |  WHERE term IN ('table', 'hash', 'merge', 'window')),
        |tf AS (SELECT doc_id, wdl, term, CAST(SUM(w) AS BIGINT) AS wtf
        |  FROM tw GROUP BY doc_id, wdl, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  (CAST(floor(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) * 1e6) AS BIGINT)
        |    * 22 * st.t_wdl * tf.wtf)
        |  // (10 * st.t_wdl * tf.wtf + 3 * st.t_wdl + 9 * tf.wdl * st.n_docs) AS c_u
        |  FROM tf, dfq, st WHERE tf.term = dfq.term),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
        |  CAST(SUM(c_u) AS BIGINT) AS score_u FROM sc GROUP BY doc_id),
        |r AS (SELECT doc_id, n_hit_terms, score_u,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank FROM ag)
        |SELECT rank, doc_id, n_hit_terms, score_u FROM r WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    "b4_prf_expand" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM tk),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(dl) AS BIGINT) AS t_toks FROM d),
        |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  WHERE term IN ('table', 'hash', 'merge', 'window')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  (CAST(floor(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) * 1e6) AS BIGINT)
        |    * 22 * st.t_toks * tf.tf)
        |  // (10 * st.t_toks * tf.tf + 3 * st.t_toks + 9 * tf.dl * st.n_docs) AS c_u
        |  FROM tf, dfq, st WHERE tf.term = dfq.term),
        |ag AS (SELECT doc_id, CAST(SUM(c_u) AS BIGINT) AS score_u FROM sc GROUP BY doc_id),
        |fb AS (SELECT doc_id FROM ag ORDER BY score_u DESC, doc_id LIMIT 10),
        |dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tk),
        |fbt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_fb
        |  FROM dt JOIN fb USING (doc_id)
        |  WHERE term NOT IN ('table', 'hash', 'merge', 'window')
        |    AND length(term) >= 3
        |  GROUP BY term HAVING COUNT(*) >= 2),
        |cdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_corpus
        |  FROM dt WHERE term IN (SELECT term FROM fbt) GROUP BY term),
        |ex AS (SELECT f.term
        |  FROM fbt f JOIN cdf c USING (term)
        |  ORDER BY (f.df_fb * 1000000) // (c.df_corpus + 1) DESC, f.term
        |  LIMIT 5),
        |q AS (SELECT term, CAST(1 AS BIGINT) AS w FROM ex
        |  UNION ALL
        |  SELECT unnest(['table', 'hash', 'merge', 'window']) AS term,
        |    CAST(2 AS BIGINT) AS w),
        |h AS (SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
        |  CAST(SUM(q.w) AS BIGINT) AS score
        |  FROM dt JOIN q USING (term) GROUP BY dt.doc_id),
        |r AS (SELECT doc_id, n_hit, score,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT rank, doc_id, n_hit, score FROM r WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    "c16_dataset_card" ->
      s"""WITH tk AS ($toksSql),
        |b AS (SELECT d.source, d.lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(d.text)) AS BIGINT) AS snc,
        |  CAST(SUM(len(tk.toks)) AS BIGINT) AS snt
        |  FROM documents d JOIN tk ON d.doc_id = tk.doc_id
        |  GROUP BY d.source, d.lang),
        |card AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(SUM(snc) AS BIGINT) AS n_chars,
        |  CAST(SUM(snt) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_langs
        |  FROM b GROUP BY source),
        |top AS (SELECT source, lang,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
        |  FROM b)
        |SELECT c.source, c.n_docs, c.n_chars, c.n_tokens, c.n_langs,
        |  t.lang AS top_lang, c.n_chars // c.n_docs AS mean_chars
        |FROM card c JOIN top t ON c.source = t.source AND t.rn = 1
        |ORDER BY c.source""".stripMargin,

    "b2_phrase" ->
      s"""WITH tk AS ($toksSql),
        |h AS (SELECT doc_id,
        |  list_filter(range(1, len(toks)),
        |    i -> toks[CAST(i AS INT)] = 'merge' AND toks[CAST(i+1 AS INT)] = 'join') AS hits
        |  FROM tk)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
        |  CAST(hits[1] AS BIGINT) AS first_pos
        |FROM h WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin,

    "t10_unigram_logprob" ->
      s"""WITH tk AS ($toksSql),
        |p AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ct FROM p GROUP BY term),
        |st AS (SELECT CAST(SUM(ct) AS BIGINT) AS tot FROM tc),
        |j AS (SELECT doc_id,
        |  CAST(floor(ln(CAST(tot AS DOUBLE) / ct) * 1e6) AS BIGINT) AS nll_u
        |  FROM p JOIN tc USING (term), st)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(nll_u) // COUNT(*) AS BIGINT) AS mean_nll_u
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t12_zipf" ->
      s"""WITH tk AS ($toksSql),
        |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(toks) AS term FROM tk) GROUP BY term),
        |rk AS (SELECT freq, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
        |  FROM tc),
        |lg AS (SELECT
        |  CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS lr,
        |  CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS lf FROM rk),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(lr) AS BIGINT) AS sx, CAST(SUM(lf) AS BIGINT) AS sy,
        |  CAST(SUM(lr * lr) AS BIGINT) AS sxx, CAST(SUM(lr * lf) AS BIGINT) AS sxy
        |  FROM lg)
        |SELECT n AS n_vocab,
        |  CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * 1e6) AS BIGINT) AS zipf_slope_u
        |FROM ag""".stripMargin,

    "t11_bpe_merges" ->
      s"""WITH tk AS ($toksSql),
        |wf AS (SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(toks) AS term FROM tk) GROUP BY 1),
        |sy AS (SELECT word, freq,
        |  list_filter(regexp_split_to_array(trim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' '),
        |    x -> x <> '') AS sl FROM wf),
        |s1 AS (SELECT word, freq, generate_subscripts(sl, 1) - 1 AS pos, unnest(sl) AS s FROM sy),
        |pc1 AS (SELECT s || ' ' || nx AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
        |  FROM (SELECT word, freq, s,
        |      lead(s) OVER (PARTITION BY word ORDER BY pos) AS nx FROM s1)
        |  WHERE nx IS NOT NULL AND s <> nx GROUP BY 1),
        |t1 AS (SELECT split_part(pair, ' ', 1) AS ma, split_part(pair, ' ', 2) AS mb
        |  FROM pc1 ORDER BY cnt DESC, pair LIMIT 1),
        |m1 AS (SELECT word, freq, pos, s, ma, mb,
        |  COALESCE(s = ma AND lead(s) OVER (PARTITION BY word ORDER BY pos) = mb, FALSE) AS m
        |  FROM s1, t1),
        |m2 AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pm FROM m1),
        |mg AS (SELECT word, freq, pos, CASE WHEN m THEN ma || mb ELSE s END AS s
        |  FROM m2 WHERE NOT pm),
        |pc2 AS (SELECT s || ' ' || nx AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
        |  FROM (SELECT word, freq, s,
        |      lead(s) OVER (PARTITION BY word ORDER BY pos) AS nx FROM mg)
        |  WHERE nx IS NOT NULL AND s <> nx GROUP BY 1),
        |r AS (
        |  SELECT 1 AS round, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank,
        |    pair, cnt FROM pc1
        |  UNION ALL
        |  SELECT 2, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT), pair, cnt FROM pc2)
        |SELECT round, rank, pair, cnt FROM r WHERE rank <= 5
        |ORDER BY round, rank""".stripMargin,

    "t14_bpe_encode" ->
      // four unrolled merge applications (t11's window shape: mark the
      // pair, drop the absorbed successor; ma ≠ mb so matches never
      // overlap), then the word→encoded join and the per-doc
      // positional hash: SUM over tokens of md5(wpos ':' encoded)
      // mod P — commutative, so no ORDER BY inside the aggregate;
      // positions are distinct per doc so the sum still pins the
      // full ordered stream
      s"""WITH tk AS ($toksSql),
        |dw AS (SELECT DISTINCT unnest(toks) AS word FROM tk),
        |sy AS (SELECT word, generate_subscripts(sl, 1) - 1 AS pos, unnest(sl) AS s
        |  FROM (SELECT word, list_filter(regexp_split_to_array(
        |    trim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' '), x -> x <> '') AS sl
        |    FROM dw)),
        |a1 AS (SELECT word, pos, s, COALESCE(s = 't' AND
        |  lead(s) OVER (PARTITION BY word ORDER BY pos) = 'h', FALSE) AS m FROM sy),
        |b1 AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pm FROM a1),
        |s1 AS (SELECT word, pos, CASE WHEN m THEN 'th' ELSE s END AS s FROM b1 WHERE NOT pm),
        |a2 AS (SELECT word, pos, s, COALESCE(s = 'th' AND
        |  lead(s) OVER (PARTITION BY word ORDER BY pos) = 'e', FALSE) AS m FROM s1),
        |b2 AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pm FROM a2),
        |s2 AS (SELECT word, pos, CASE WHEN m THEN 'the' ELSE s END AS s FROM b2 WHERE NOT pm),
        |a3 AS (SELECT word, pos, s, COALESCE(s = 'i' AND
        |  lead(s) OVER (PARTITION BY word ORDER BY pos) = 'n', FALSE) AS m FROM s2),
        |b3 AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pm FROM a3),
        |s3 AS (SELECT word, pos, CASE WHEN m THEN 'in' ELSE s END AS s FROM b3 WHERE NOT pm),
        |a4 AS (SELECT word, pos, s, COALESCE(s = 'a' AND
        |  lead(s) OVER (PARTITION BY word ORDER BY pos) = 'n', FALSE) AS m FROM s3),
        |b4 AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pm FROM a4),
        |s4 AS (SELECT word, pos, CASE WHEN m THEN 'an' ELSE s END AS s FROM b4 WHERE NOT pm),
        |enc AS (SELECT word, string_agg(s, ' ' ORDER BY pos) AS encoded,
        |  CAST(COUNT(*) AS BIGINT) AS n_subwords FROM s4 GROUP BY word),
        |dp AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS wpos,
        |  unnest(toks) AS word FROM tk),
        |j AS (SELECT doc_id, wpos, encoded, n_subwords FROM dp JOIN enc USING (word))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
        |  CAST(SUM(('0x' || substr(md5(wpos || ':' || encoded), 1, 15))::BIGINT
        |    % ${graft.dedup.MinHashLSH.P}) AS BIGINT) AS encoded_hash
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t15_kn_bigram" ->
      // same 4·NB-integer KN rewrite: one ln() of an exact integer
      // ratio per bigram type, floored to micro-nats before the mean
      s"""WITH tk AS ($toksSql),
        |bgp AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
        |    toks[CAST(i + 1 AS INT)] AS w2
        |  FROM tk, UNNEST(range(1, len(toks))) AS t(i)),
        |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM bgp GROUP BY w1, w2),
        |lf AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS n1f FROM bc GROUP BY w1),
        |rt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bc GROUP BY w2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bc),
        |j AS (SELECT doc_id,
        |  CAST(floor(ln(CAST(4 * c1 * nb AS DOUBLE) /
        |    ((4 * c12 - 3) * nb + 3 * n1f * n1b)) * 1e6) AS BIGINT) AS nll_u
        |  FROM bgp JOIN bc USING (w1, w2) JOIN lf USING (w1)
        |    JOIN rt USING (w2), tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(nll_u) // COUNT(*) AS BIGINT) AS mean_nll_u
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "c8_hash_classifier" ->
      s"""WITH tk AS ($toksSql),
        |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(list_sum(list_transform(toks,
        |    t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 1001 - 500)), 0) AS BIGINT) AS score_sum
        |  FROM tk)
        |SELECT doc_id, n_tokens, score_sum,
        |  CASE WHEN score_sum >= 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM sc ORDER BY doc_id""".stripMargin,

    "st8_stream_neardup" -> neardupStreamSql,

    // st14 = st8 on file-source ingest; single-batch semantics are
    // identical, so the oracle is shared verbatim
    "st14_file_source_neardup" -> neardupStreamSql,

    "st11_stream_cdc_novelty" ->
      // the batch equivalence: a chunk hash's claimant is its global
      // (doc_id, idx) minimum — the stream's first arrival under the
      // wave construction
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
        |  unnest(range(1, len(st) + 1)) AS idx,
        |  unnest(list_transform(range(1, len(st) + 1),
        |    i -> substr(text, CAST(st[CAST(i AS INT)] AS INT),
        |                CAST(en[CAST(i AS INT)] - st[CAST(i AS INT)] + 1 AS INT)))) AS chunk
        |  FROM ck),
        |r AS (SELECT doc_id, idx, chunk,
        |  ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
        |  FROM ex)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END) AS BIGINT) AS novel_bytes
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "st7_stream_dedup" ->
      s"""WITH tk AS ($toksSql),
        |k AS (SELECT doc_id,
        |  array_to_string(list_slice(toks, 1, 5), ' ') AS key5 FROM tk),
        |r AS (SELECT doc_id, key5,
        |  ROW_NUMBER() OVER (PARTITION BY key5 ORDER BY doc_id) AS rn FROM k)
        |SELECT doc_id, key5 FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "b3_hybrid_rrf" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM tk),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(dl) AS BIGINT) AS t_toks FROM d),
        |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  WHERE term IN ('table', 'hash', 'merge', 'window')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  (CAST(floor(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) * 1e6) AS BIGINT)
        |    * 22 * st.t_toks * tf.tf)
        |  // (10 * st.t_toks * tf.tf + 3 * st.t_toks + 9 * tf.dl * st.n_docs) AS c_u
        |  FROM tf, dfq, st WHERE tf.term = dfq.term),
        |lexag AS (SELECT doc_id, CAST(SUM(c_u) AS BIGINT) AS score_u FROM sc GROUP BY doc_id),
        |lex AS (SELECT doc_id, lex_rank FROM (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM lexag) WHERE lex_rank <= 20),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0),
        |vs AS (SELECT doc_id,
        |  list_dot_product(qv, v) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM cv, q),
        |vec AS (SELECT doc_id, vec_rank FROM (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS vec_rank
        |  FROM vs) WHERE vec_rank <= 20),
        |f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
        |  CAST(COALESCE(1000000 // (60 + lex_rank), 0)
        |     + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_u
        |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        |SELECT rank, doc_id, rrf_u, lex_rank, vec_rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id) AS BIGINT) AS rank FROM f)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "t9_bigram_surprise" ->
      s"""WITH tk AS ($toksSql),
        |bg AS (SELECT doc_id,
        |  toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] AS g
        |  FROM tk, UNNEST(range(1, len(toks))) AS t(i)),
        |bgc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cg FROM bg GROUP BY g),
        |w1c AS (SELECT split_part(g, ' ', 1) AS w1,
        |  CAST(COUNT(*) AS BIGINT) AS cw FROM bg GROUP BY 1),
        |j AS (SELECT doc_id,
        |  CAST(floor(ln(CAST(cw AS DOUBLE) / cg) * 1e6) AS BIGINT) AS sup_u
        |  FROM bg JOIN bgc USING (g)
        |  JOIN w1c ON split_part(g, ' ', 1) = w1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(sup_u) // COUNT(*) AS BIGINT) AS mean_surprise_u
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "c7_stratified_sample" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT t.doc_id, dd.source, CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM tk t JOIN documents dd USING (doc_id)),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk FROM d)
        |SELECT source, rk, doc_id, n_tokens FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,

    "c15_pps_sample" ->
      // systematic PPS as pure integer arithmetic: inclusive weight
      // cumsum in md5 order, threshold every W//200 of mass
      s"""WITH tk AS ($toksSql),
        |w AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS wt,
        |  md5(CAST(doc_id AS VARCHAR)) AS rk FROM tk),
        |c AS (SELECT doc_id, wt, SUM(wt) OVER (ORDER BY rk, doc_id) AS cum FROM w),
        |s AS (SELECT GREATEST(SUM(wt) // 200, 1) AS step FROM w)
        |SELECT doc_id, wt,
        |  CAST(cum // step - (cum - wt) // step AS BIGINT) AS n_picks
        |FROM c, s
        |WHERE cum // step > (cum - wt) // step
        |ORDER BY doc_id""".stripMargin,

    "d9_chunk_dedup" ->
      s"""WITH tk AS ($toksSql),
        |ch AS (SELECT doc_id, i AS cno,
        |  array_to_string(list_slice(toks, CAST(i*20+1 AS INT), CAST(i*20+20 AS INT)), ' ') AS chunk
        |  FROM tk, UNNEST(range(0, (len(toks)+19)//20)) AS t(i)
        |  WHERE len(toks) > 0),
        |r AS (SELECT doc_id, cno, chunk,
        |  ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, cno) AS rn FROM ch),
        |kept AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  md5(string_agg(chunk, ' ' ORDER BY cno)) AS clean_hash
        |  FROM r WHERE rn = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(clean_hash, md5('')) AS clean_hash
        |FROM tot LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,

    "x3_source_quantiles" ->
      s"""WITH tk AS ($toksSql),
        |d AS (SELECT t.doc_id, dd.source, CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM tk t JOIN documents dd USING (doc_id)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY n_tokens, doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY source) AS n FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(CASE WHEN rn = ((n-1)*50)//100 + 1 THEN n_tokens END) AS BIGINT) AS p50_tokens,
        |  CAST(MIN(CASE WHEN rn = ((n-1)*90)//100 + 1 THEN n_tokens END) AS BIGINT) AS p90_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "t8_tfidf" ->
      s"""WITH tk AS ($toksSql),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
        |  GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM tk),
        |sc AS (SELECT doc_id, term, tf, df,
        |  tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1e6) AS BIGINT) AS score_u
        |  FROM tf JOIN dfq USING (term), n),
        |r AS (SELECT doc_id, term, tf, df, score_u, CAST(ROW_NUMBER() OVER (
        |  PARTITION BY doc_id ORDER BY score_u DESC, term) AS INT) AS rank FROM sc)
        |SELECT doc_id, rank, term, tf, df, score_u FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin
  )
}
