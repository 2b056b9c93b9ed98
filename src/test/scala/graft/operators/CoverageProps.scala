package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Property check for the sweep-line masking operators (A3 — the
  * reference's `groupBySequences`, `cnestedlist.pyx:899-1008`),
  * closing the VERDICT r17 #1 gap alongside [[SessionizeProps]]. The
  * oracle is a LITERAL simulation of the reference's bound scan, kept
  * deliberately different in shape from the engine's windowed sweep:
  *   - per lane, open-interval multiset semantics (the reference's
  *     DictQueue: a lane counts once while ANY of its intervals is
  *     open — same-lane strict overlaps collapse, touching intervals
  *     do not);
  *   - bounds sorted (pos, stop-before-start), processed ONE AT A
  *     TIME with the threshold re-checked after each (`f = len(
  *     seqStart); f < minAligned or f/len(seqs) < pMinAligned`), so a
  *     momentary dip at a touch point really splits the region;
  *   - float threshold compare in double, like the reference's
  *     `f / len(seqs)`;
  *   - indelCut splits at bounds of any lane interval that is not its
  *     lane's first, only while a region is open and strictly past
  *     its start (`cnestedlist.pyx:996-1000`).
  * minAligned >= 1 throughout: at minAligned=0 & pMinAligned=0 the
  * reference never closes (or emits) its final region — a degenerate
  * configuration `groupBySequences` itself never runs with (its
  * default is minAligned=1).
  */
object CoverageProps extends Properties("graft.coverage") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  private val rowsGen: Gen[List[(String, String, Long, Long)]] = for {
    n <- Gen.choose(1, 40)
    nKeys <- Gen.choose(1, 2)
    nLanes <- Gen.choose(1, 5)
    mk = for {
      k <- Gen.choose(0, nKeys - 1).map(i => s"k$i")
      lane <- Gen.choose(0, nLanes - 1).map(i => s"L$i")
      s <- Gen.choose(0L, 120L) // tight axis: touches and dips are common
      len <- Gen.oneOf(Gen.choose(1L, 6L), Gen.choose(1L, 50L))
    } yield (k, lane, s, s + len)
    rows <- Gen.listOfN(n, mk)
  } yield rows

  private val thresholdGen: Gen[(Long, Double)] = for {
    minAligned <- Gen.choose(1L, 4L)
    pMin <- Gen.oneOf(0.0, 0.25, 0.4, 0.5, 0.75, 1.0)
  } yield (minAligned, pMin)

  /** The reference bound scan for ONE key group: returns the mask
    * regions in position order.
    *
    * Bounds at EQUAL positions are processed as one batch (all stops,
    * threshold re-check, all starts, threshold re-check, one cut
    * decision): the reference's one-at-a-time loop is tie-order
    * sensitive there — e.g. an indel cut landing between two stops at
    * the same position would mint a zero-length region or not purely
    * by the sort's tie-break among equal (pos, isStart) bounds — and
    * the engine canonicalizes exactly this way (per-position event
    * pre-aggregation; `Coverage.scala` doc). The scan semantics at
    * distinct positions are the reference's, verbatim:
    *   - after the position's stops, a failing threshold closes the
    *     open region at this position (`f < minAligned or
    *     f/len(seqs) < pMinAligned` after `del seqStart[seq]`);
    *   - after the starts, a passing threshold opens one;
    *   - a region open across an indel bound splits there
    *     (`cnestedlist.pyx:996-1000`).
    */
  private def oracleRegions(rows: Seq[(String, Long, Long)], minAligned: Long,
                            pMin: Double, indelCut: Boolean): Seq[(Long, Long)] = {
    val nseq = rows.map(_._1).distinct.size
    // bounds: (pos, isStart, lane, isIndel); isIndel marks bounds of
    // any interval that is not its lane's first in (start, end) order
    val bounds = rows.groupBy(_._1).toSeq.flatMap { case (lane, ivals) =>
      ivals.map(r => (r._2, r._3)).sorted.zipWithIndex.flatMap {
        case ((s, e), idx) =>
          Seq((e, false, lane, idx > 0), (s, true, lane, idx > 0))
      }
    }
    def below(f: Int): Boolean = f < minAligned || f.toDouble / nseq < pMin
    val open = scala.collection.mutable.Map.empty[String, Int]
    var maskStart: Option[Long] = None
    val out = scala.collection.mutable.Buffer.empty[(Long, Long)]
    for ((pos, here) <- bounds.groupBy(_._1).toSeq.sortBy(_._1)) {
      for ((_, isStart, lane, _) <- here; if !isStart) {
        val c = open(lane) - 1
        if (c == 0) open.remove(lane) else open(lane) = c
      }
      if (below(open.size) && maskStart.isDefined) {
        out += ((maskStart.get, pos))
        maskStart = None
      }
      for ((_, isStart, lane, _) <- here; if isStart)
        open(lane) = open.getOrElse(lane, 0) + 1
      if (!below(open.size) && maskStart.isEmpty)
        maskStart = Some(pos)
      if (indelCut && here.exists(_._4) && maskStart.exists(_ < pos)) {
        out += ((maskStart.get, pos))
        maskStart = Some(pos)
      }
    }
    out.toSeq
  }

  private def runRegions(rows: List[(String, String, Long, Long)], minAligned: Long,
                         pMin: Double, indelCut: Boolean): Map[String, Seq[(Long, Long, Long)]] = {
    import spark.implicits._
    val df = rows.toDF("k", "lane", "s", "e")
    Coverage.maskRegions(df, Seq("k"), "lane", "s", "e", minAligned, pMin, indelCut)
      .select("k", "island", "mask_start", "mask_end").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1).toSeq }
  }

  private def want(rows: List[(String, String, Long, Long)], minAligned: Long,
                   pMin: Double, indelCut: Boolean): Map[String, Seq[(Long, Long, Long)]] =
    rows.groupBy(_._1).flatMap { case (k, grp) =>
      val regions = oracleRegions(grp.map(r => (r._2, r._3, r._4)), minAligned, pMin, indelCut)
      if (regions.isEmpty) None
      else Some(k -> regions.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) })
    }

  property("maskRegions == reference bound scan (minAligned x pMinAligned)") =
    forAll(rowsGen, thresholdGen) { case (rows0, (minAligned, pMin)) =>
      val rows = rows0.distinct
      runRegions(rows, minAligned, pMin, indelCut = false) ==
        want(rows, minAligned, pMin, indelCut = false)
    }

  property("maskRegions with indelCut == reference isIndel splits") =
    forAll(rowsGen, thresholdGen) { case (rows0, (minAligned, pMin)) =>
      val rows = rows0.distinct
      runRegions(rows, minAligned, pMin, indelCut = true) ==
        want(rows, minAligned, pMin, indelCut = true)
    }

  property("mask clip == every (row x overlapping region) pair, bounds intersected") =
    forAll(rowsGen, thresholdGen) { case (rows0, (minAligned, pMin)) =>
      import spark.implicits._
      val rows = rows0.distinct
      val df = rows.toDF("k", "lane", "s", "e")
      val got = Coverage.mask(df, Seq("k"), "lane", "s", "e", minAligned, pMin)
        .select("k", "lane", "s", "e", "mask_start", "mask_end", "clip_start", "clip_end")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      val regions = want(rows, minAligned, pMin, indelCut = false)
      val expect = (for {
        (k, lane, s, e) <- rows
        (_, ms, me) <- regions.getOrElse(k, Seq.empty)
        if s < me && ms < e // half-open overlap
      } yield (k, lane, s, e, ms, me, math.max(s, ms), math.min(e, me))).toSet
      got == expect
    }
}
