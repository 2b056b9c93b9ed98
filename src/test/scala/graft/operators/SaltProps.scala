package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Property check for the skew-salting operators (r17, companion to
  * `IntervalJoinProps`): on random data — Zipf-ish and uniform key
  * mixes, negative/zero/duplicate salt-source values, explicit AND
  * auto (buckets = 0) sizing — the salted forms must be value-
  * identical to the direct groupBy / plain join. This is the
  * invariant the `buckets = 0` default leans on: the salt only
  * reshapes the shuffle, never the result, for ANY bucket count the
  * model picks.
  */
object SaltProps extends Properties("graft.salt") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  // rows as (key, id, cents) tuples — a nested case class would trip
  // the encoder's codegen (inner-class constructor). Keys drawn from
  // a small pool with a deliberately hot head (the regime salting
  // exists for) plus a uniform tail; values in exact integer cents so
  // sums are order-independent in any engine.
  private val rowsGen: Gen[(List[(String, Long, Long)], Int)] = for {
    n <- Gen.choose(1, 300)
    hotShare <- Gen.choose(0, 9) // 0 = uniform, 9 = ~90% one key
    rows <- Gen.listOfN(n, for {
      hot <- Gen.choose(0, 9)
      k <- if (hot < hotShare) Gen.const("hot") else Gen.choose(0, 6).map(i => s"k$i")
      id <- Gen.choose(-1000L, 1000L) // negative salt sources included
      c <- Gen.choose(-500L, 500L)
    } yield (k, id, c))
    buckets <- Gen.oneOf(0, 1, 2, 7, 16, 64) // 0 = the auto path
  } yield (rows, buckets)

  property("saltedAgg == direct groupBy for any bucket count incl. auto") =
    forAll(rowsGen) { case (rows, buckets) =>
      import spark.implicits._
      val df = rows.toDF("k", "id", "cents")
      val direct = df.groupBy("k")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val salted = Salt.saltedAgg(df, Seq("k"), buckets)(
          count(lit(1)).as("__pn"), sum("cents").as("__ps"))(
          sum("__pn").as("n"), sum("__ps").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      salted == direct
    }

  property("saltedJoin == plain join for any bucket count incl. auto") =
    forAll(rowsGen) { case (rows, buckets) =>
      import spark.implicits._
      val fact = rows.toDF("k", "id", "cents")
      val dimKeys = rows.map(_._1).distinct.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val dim = dimKeys.toDF("k", "w")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("k").agg(count(lit(1)).as("n"), sum("cents").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val plain = agg(fact.join(dim, Seq("k")))
      val salted = agg(Salt.saltedJoin(fact, dim, Seq("k"), col("id"), buckets))
      salted == plain
    }
}
