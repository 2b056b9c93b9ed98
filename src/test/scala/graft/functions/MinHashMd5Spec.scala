package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** `MinHashMd5` against the declarative `min(md5(concat("i:", s)))`
  * per group: the same hex strings (null for an all-null group) on
  * ASCII and multi-byte UTF-8, through the partial and final merge,
  * in the hash aggregation and in its sort-based fallback. */
class MinHashMd5Spec extends SparkSuite {

  /** The k declarative minima per group; Nil where all k are null. */
  private def declarative(df: DataFrame, k: Int): Map[Long, Seq[String]] =
    rows(df.groupBy("g").agg(
      array((0 until k).map(i => min(md5(concat(lit(s"$i:"), col("s"))))): _*)))
      .map { case (g, sigs) => g -> (if (sigs.forall(_ == null)) Nil else sigs) }

  private def native(df: DataFrame, k: Int): (Map[Long, Seq[String]], Seq[SparkPlan]) = {
    val out = df.groupBy("g").agg(MinHashMd5(col("s"), k))
    (rows(out), nodes(out.queryExecution.executedPlan))
  }

  /** g -> the k strings, Nil for a null result. */
  private def rows(df: DataFrame): Map[Long, Seq[String]] =
    df.collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1)).getOrElse(Nil)).toMap

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def fallbacks(plan: Seq[SparkPlan]): Long =
    plan.collect { case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value }.sum

  /** ASCII, 2-, 3- and 4-byte UTF-8 characters, and some nulls. */
  private def randomRows(groups: Int, rowsPerGroup: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val alphabet = "abcxyz0189 :~" ++ "éßñ" ++ "日本語" ++ "😀𝄞"
    val chars = alphabet.codePoints.toArray
    def str(): String = {
      val n = rnd.nextInt(12)
      new String(Array.fill(n)(chars(rnd.nextInt(chars.length))), 0, n)
    }
    val data = for {
      g <- 0 until groups
      _ <- 0 until rowsPerGroup
    } yield (g.toLong, if (rnd.nextInt(10) == 0) null else str())
    // group `groups` is all null; round-robin rows so every group is
    // partially aggregated in several tasks and merged after the shuffle
    (data ++ Seq((groups.toLong, null: String), (groups.toLong, null: String)))
      .toDF("g", "s").repartition(4)
  }

  test("equals the declarative md5 minima: ASCII, multi-byte UTF-8, nulls, partial + final merge") {
    val df = randomRows(groups = 40, rowsPerGroup = 25, seed = 3)
    for (k <- Seq(1, 16)) {
      val (got, plan) = native(df, k)
      assert(got === declarative(df, k), s"k=$k")
      assert(got(40L) === Nil, "an all-null group gives null")
      assert(plan.collect { case a: ObjectHashAggregateExec => a }.size === 2,
        "one partial and one final aggregate")
      assert(fallbacks(plan) === 0)
    }
  }

  test("equals the declarative md5 minima in the sort-based fallback (over 128 keys per task)") {
    val df = randomRows(groups = 600, rowsPerGroup = 4, seed = 5)
    val (got, plan) = native(df, 8)
    assert(got === declarative(df, 8))
    assert(fallbacks(plan) > 0, "the hash map should have fallen back to sorting")
  }

  test("digests compare unsigned, as their hex does") {
    import spark.implicits._
    def firstByte(s: String) =
      MessageDigest.getInstance("MD5").digest(s"0:$s".getBytes(UTF_8))(0) & 0xff
    val candidates = (0 until 100).map(i => s"v$i")
    val high = candidates.find(firstByte(_) >= 0x80).get
    val low = candidates.find(firstByte(_) < 0x80).get
    val df = Seq((0L, high), (0L, low), (1L, high)).toDF("g", "s")
    val (got, _) = native(df, 1)
    assert(got === declarative(df, 1))
    // a signed byte order would have picked the high-bit digest
    assert(got(0L).head.take(2) === f"${firstByte(low)}%02x")
  }
}
