package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Property check for the core overlap-join operators: on random
  * interval sets (mixed lengths incl. containment-class spans, shared
  * keys, touching endpoints) and RANDOM bin widths, `binned` and
  * `binnedMulti` must return exactly the brute-force overlap pairs —
  * results are width-independent by construction (the exactly-once
  * bin-ownership dedup), which is the invariant the r16 auto-width
  * default leans on. Complements `MultiResBinSpec`'s fixed goldens
  * with randomized coverage.
  */
object IntervalJoinProps extends Properties("graft.intervaljoin") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  private case class Ival(k: String, s: Long, e: Long)

  private val ivalsGen: Gen[(List[Ival], List[Ival], Long)] = for {
    nA <- Gen.choose(1, 40)
    nB <- Gen.choose(1, 40)
    nKeys <- Gen.choose(1, 3) // few keys force key collisions
    mk = for {
      k <- Gen.choose(0, nKeys - 1).map(i => s"k$i")
      s <- Gen.choose(0L, 500L)
      // length spans three regimes: point-ish, bin-ish, whole-axis
      len <- Gen.oneOf(Gen.choose(1L, 4L), Gen.choose(1L, 64L), Gen.choose(200L, 600L))
    } yield Ival(k, s, s + len)
    a <- Gen.listOfN(nA, mk)
    b <- Gen.listOfN(nB, mk)
    w <- Gen.oneOf(1L, 3L, 16L, 64L, 1024L) // incl. widths far off any span
  } yield (a, b, w)

  private def truth(a: List[Ival], b: List[Ival]): Set[(String, Long, Long, Long, Long)] =
    (for {
      x <- a; y <- b
      if x.k == y.k && x.s < y.e && y.s < x.e // half-open overlap
    } yield (x.k, x.s, x.e, y.s, y.e)).toSet

  private def run(join: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
                  a: List[Ival], b: List[Ival]): Set[(String, Long, Long, Long, Long)] = {
    import spark.implicits._
    val da = a.toDF("k", "as", "ae")
    val db = b.toDF("k", "bs", "be")
    join(da, db).select("k", "as", "ae", "bs", "be").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet // truth is a set of distinct 5-tuples; duplicate Ival
             // VALUES on one side legitimately repeat rows, so the
             // exactly-once guarantee is asserted on distinct inputs below
  }

  property("binned == brute force at any width") =
    forAll(ivalsGen) { case (a0, b0, w) =>
      val (a, b) = (a0.distinct, b0.distinct)
      run(IntervalJoin.binned(_, _, Seq("k"), "as", "ae", "bs", "be", w), a, b) == truth(a, b)
    }

  property("binnedMulti == brute force at any base width") =
    forAll(ivalsGen) { case (a0, b0, w) =>
      val (a, b) = (a0.distinct, b0.distinct)
      run(IntervalJoin.binnedMulti(_, _, Seq("k"), "as", "ae", "bs", "be", w, fanout = 4, levels = 3),
          a, b) == truth(a, b)
    }

  property("exactly-once: no duplicate pairs from shared bins") =
    forAll(ivalsGen) { case (a0, b0, w) =>
      import spark.implicits._
      val (a, b) = (a0.distinct, b0.distinct)
      val da = a.toDF("k", "as", "ae"); val db = b.toDF("k", "bs", "be")
      val n1 = IntervalJoin.binned(da, db, Seq("k"), "as", "ae", "bs", "be", w).count()
      val n2 = IntervalJoin.binnedMulti(da, db, Seq("k"), "as", "ae", "bs", "be", w,
        fanout = 4, levels = 3).count()
      n1 == truth(a, b).size && n2 == n1
    }
}
