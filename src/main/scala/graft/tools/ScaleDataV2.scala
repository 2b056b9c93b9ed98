package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cardinality-faithful scale-up of an sf fixture directory to `copies`×.
  * It replaces an earlier replicate-with-strides tool (every table
  * copied `copies` times, ids offset per replica), because replication
  * freezes exactly the distributions that drive operator cost at scale
  * (the r9 drift audit's g9 fixture-densification artifact proved
  * shape, not volume, moves the exponents):
  *
  *  - **documents** are REGENERATED, not replicated: vocabulary grows
  *    by Heaps' law (V = 10·√T token types), token ranks draw
  *    log-uniformly (≈ Zipf s=1 frequencies), doc lengths are
  *    log-uniform 12..384 tokens (heavy tail), and 10% of docs are
  *    near-duplicates of a log-uniform-rank anchor (≈5% token edits)
  *    so dup-CLUSTER sizes follow a power law — few giant boilerplate
  *    clusters, many pairs, like a real crawl — instead of the
  *    replicate path's strictly linear dup mass.
  *  - **lineitem** gets bipartite-realistic skew: supplier out-degree
  *    is heavy-tailed (15% of lines route to a √copies-sized global
  *    hot-supplier set — "papers per author" grows), while part
  *    in-degree stays bounded (4% of lines route to a hot-part set
  *    that grows ~copies^0.9, so per-part degree grows only ~n^0.1 —
  *    "authors per paper" stays flat). This stresses j5/g6 with real
  *    skew without the d² hot-part detonation no engine survives.
  *  - **events** get heavy-tailed user activity (20% of events on a
  *    √copies-sized hot-user set) and LONGITUDINAL growth: each
  *    replica shifts by the base time span + 1 day, so a 100× corpus
  *    covers 100× the wall-clock, keeping sessions-per-user bounded
  *    (replication instead multiplies same-window density 100×).
  *  - **embeddings**: independent hash-random vectors plus 8%
  *    near-dup clusters (anchor + ±0.02 jitter) with the same
  *    power-law cluster sizes as documents.
  *
  * Everything is deterministic in the output row's own ids (xxhash64
  * uniforms), so re-runs and partial re-writes reproduce bit-identical
  * fixtures. Dimension tables and orders/customer keep the replicate
  * path's stride scheme so FK joins stay valid: region and nation are
  * copied unchanged, and each of customer, supplier, part and orders is
  * written `copies` times, replica r adding r·stride to every key
  * (`S` below: custkey 100 000, suppkey 10 000, partkey 100 000,
  * orderkey 1 000 000), so a foreign key and the key it references
  * move together.
  *
  * Usage: runMain graft.tools.ScaleDataV2 [fromDir] [toDir] [copies]
  */
object ScaleDataV2 {

  def main(args: Array[String]): Unit = {
    val from = args.headOption.getOrElse("/root/testdata/sf0.1")
    val to = args.lift(1).getOrElse("localdata/v2sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Graft.session("graft-scale-v2")
    try run(spark, from, to, copies) finally spark.stop()
  }

  /** uniform in [0,1) keyed by the given columns (deterministic). */
  private def u(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(1048576L)).cast("double") / 1048576.0

  def run(spark: SparkSession, from: String, to: String, copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$from/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$to/$t.parquet")
    // many same-sized files, like a real corpus at N× (single-file
    // replicas cap scans at one task and measure layout, not work)
    def writeFact(df: DataFrame, t: String): Unit =
      df.repartition(math.max(2, copies)).write.mode("overwrite")
        .parquet(s"$to/$t.parquet")
    def rep(df: DataFrame) =
      df.withColumn("__r", explode(sequence(lit(0L), lit(copies - 1L))))
    def off(c: String, stride: Long) = col(c) + col("__r") * stride
    val S = Map(
      "custkey" -> 100000L, "suppkey" -> 10000L, "partkey" -> 100000L,
      "orderkey" -> 1000000L, "eventid" -> 1000000L, "userid" -> 100000L)

    write(read("region"), "region")
    write(read("nation"), "nation")
    writeFact(rep(read("customer"))
      .withColumn("c_custkey", off("c_custkey", S("custkey"))).drop("__r"), "customer")
    writeFact(rep(read("supplier"))
      .withColumn("s_suppkey", off("s_suppkey", S("suppkey"))).drop("__r"), "supplier")
    writeFact(rep(read("part"))
      .withColumn("p_partkey", off("p_partkey", S("partkey"))).drop("__r"), "part")
    writeFact(rep(read("orders"))
      .withColumn("o_orderkey", off("o_orderkey", S("orderkey")))
      .withColumn("o_custkey", off("o_custkey", S("custkey"))).drop("__r"), "orders")

    // ---- lineitem: heavy-tailed supplier side, bounded part side ----
    val s0 = read("supplier").agg(max("s_suppkey")).head.getLong(0) + 1
    val p0 = read("part").agg(max("p_partkey")).head.getLong(0) + 1
    val hotSupp = math.min(s0, math.ceil(50 * math.sqrt(copies.toDouble)).toLong)
    val hotPart = math.min(p0, math.ceil(400 * math.pow(copies.toDouble, 0.9)).toLong)
    val li = rep(read("lineitem"))
      .withColumn("l_orderkey", off("l_orderkey", S("orderkey")))
      .withColumn("__us", u(col("l_orderkey"), col("l_linenumber"), lit("hs")))
      .withColumn("__up", u(col("l_orderkey"), col("l_linenumber"), lit("hp")))
      // hot suppliers: log-uniform rank → per-supplier degree ~ 1/rank.
      // Keys here are 0-based (driver fixtures: s_suppkey 0..max, p_partkey
      // 0..max — verified, NOT 1-based TPC-H), so floor(pow(N,u))-1 ∈
      // [0, N-2] ⊆ [0, max] with N = min(max+1, …): every hot key,
      // including the hottest (0), has a matching dimension row and the
      // FK joins stay valid. Same bound for pmod(…, hotPart) ∈ [0, N-1].
      .withColumn("l_suppkey",
        when(col("__us") < 0.15,
          floor(pow(lit(hotSupp.toDouble), u(col("l_orderkey"), col("l_linenumber"), lit("hsr"))))
            .cast("long") - 1L)
        .otherwise(off("l_suppkey", S("suppkey"))))
      // hot parts: UNIFORM over a near-linearly-growing set → per-part
      // degree grows only ~copies^0.1 (no d² pair blowup at one part)
      .withColumn("l_partkey",
        when(col("__up") < 0.04,
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit("hpr")), lit(hotPart)))
        .otherwise(off("l_partkey", S("partkey"))))
      .drop("__r", "__us", "__up")
    writeFact(li, "lineitem")

    // ---- events: hot users + longitudinal time growth ----
    val ev0 = read("events")
    val tsIsLong = ev0.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val evN = if (tsIsLong) ev0 else
      ev0.withColumn("ts", (unix_micros(col("ts").cast("timestamp")) * 1000L).cast("long"))
    val mm = evN.agg(min("ts"), max("ts")).head
    val spanNs = mm.getLong(1) - mm.getLong(0) + 86400L * 1000000000L
    val hotUsers = math.ceil(40 * math.sqrt(copies.toDouble)).toLong
    writeFact(rep(evN)
      .withColumn("event_id", off("event_id", S("eventid")))
      .withColumn("user_id",
        when(u(col("event_id"), lit("hu")) < 0.2,
          floor(pow(lit(hotUsers.toDouble), u(col("event_id"), lit("hur"))))
            .cast("long") - 1L)
        .otherwise(off("user_id", S("userid"))))
      .withColumn("ts", col("ts") + col("__r") * spanNs)
      .drop("__r"), "events")

    // ---- documents: Heaps vocab, Zipf tokens, power-law dup clusters ----
    val d0 = read("documents").count()
    val nDocs = d0 * copies
    val meanLen = 107.0 // log-uniform 12..384
    val vocab = math.max(500L, math.ceil(10 * math.sqrt(nDocs * meanLen)).toLong)
    val nSources = math.min(2000L, math.ceil(20 * math.sqrt(copies.toDouble)).toLong)
    // token rank log-uniform in [1, V): P(rank=k) ≈ 1/(k·lnV), Zipf s=1
    def tok(seed: Column, p: Column): Column =
      concat(lit("w"), floor(pow(lit(vocab.toDouble), u(seed, p))).cast("long").cast("string"))
    val ids = spark.range(nDocs).toDF("doc_id")
    val docs = ids
      .withColumn("__isdup", u(col("doc_id"), lit("d")) < 0.10 && col("doc_id") >= 50)
      // anchor rank log-uniform in [0, doc_id/20): early docs absorb
      // dups from the whole corpus → power-law cluster sizes
      .withColumn("__anchor",
        floor(pow(greatest(col("doc_id") / lit(20L), lit(2L)).cast("double"),
          u(col("doc_id"), lit("a")))).cast("long") - 1L)
      .withColumn("__seed", when(col("__isdup"), col("__anchor")).otherwise(col("doc_id")))
      .withColumn("__len",
        floor(lit(12.0) * pow(lit(32.0), u(col("__seed"), lit("len")))).cast("int"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), col("__len")), p =>
          // dup docs: ~5% of positions re-roll from the doc's own id
          when(col("__isdup") &&
              pmod(xxhash64(col("doc_id"), p, lit("sub")), lit(20L)) === 0L,
            tok(col("doc_id") + lit(nDocs), p))
          .otherwise(tok(col("__seed"), p)))))
      .withColumn("lang",
        element_at(array(lit("en"), lit("en"), lit("en"), lit("de"), lit("fr"),
          lit("es"), lit("zh")),
          (pmod(xxhash64(col("doc_id"), lit("lang")), lit(7L)) + 1L).cast("int")))
      .withColumn("source",
        concat(lit("src"), pmod(xxhash64(col("__seed"), lit("srcx")), lit(nSources)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    writeFact(docs, "documents")

    // ---- embeddings: independent vectors + power-law near-dup clusters ----
    val e0 = read("embeddings").count()
    val nVecs = e0 * copies
    val dims = read("embeddings").select(size(col("embedding"))).head.getInt(0)
    def hvec(seed: Column): Column = transform(sequence(lit(1), lit(dims)),
      i => ((pmod(xxhash64(seed, i, lit("emb")), lit(2001L)).cast("double") - 1000.0)
        / 1000.0).cast("float"))
    val vecs = spark.range(nVecs).toDF("vec_id")
      .withColumn("__isdup", u(col("vec_id"), lit("ed")) < 0.08 && col("vec_id") >= 50)
      .withColumn("__anchor",
        floor(pow(greatest(col("vec_id") / lit(20L), lit(2L)).cast("double"),
          u(col("vec_id"), lit("ea")))).cast("long") - 1L)
      .withColumn("embedding",
        when(col("__isdup"),
          zip_with(hvec(col("__anchor")),
            transform(sequence(lit(1), lit(dims)),
              i => ((pmod(xxhash64(col("vec_id"), i, lit("jit")), lit(41L)).cast("double")
                - 20.0) / 1000.0).cast("float")),
            (a, j) => (a + j).cast("float")))
        .otherwise(hvec(col("vec_id"))))
      .withColumn("label", pmod(xxhash64(col("vec_id"), lit("lab")), lit(10L)).cast("int"))
      .select("vec_id", "embedding", "label")
    writeFact(vecs, "embeddings")
  }
}
