package graft.align

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Property check for the flagship slice operators (J2 — the
  * reference's `NLMSASlice.__new__` hop/clip/compose semantics,
  * `cnestedlist.pyx:446-543`), extending the randomized-oracle
  * pattern (IntervalJoinProps, SaltProps, SessionizeProps,
  * CoverageProps) to the core coordinate arithmetic: window clipping
  * with the dest-axis shift on BOTH orientations, and the two-hop
  * axis intersection with multiplicative orientation compose and the
  * self-match drop. The oracle is plain per-pair scalar arithmetic
  * derived from the affine block semantics (an ungapped 1:1 block
  * maps src s+k to dest ds+k forward, or to de-1-k reversed); the
  * engine's three physical paths (shuffled-index, single-level
  * binned, auto multi-resolution) must all return exactly the oracle
  * set.
  */
object SliceProps extends Properties("graft.slice") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  // dest pool overlaps the src pool so two-hop self-matches occur and
  // the reference's keep-if `target_id != id or istart != start2`
  // filter is exercised (cnestedlist.pyx:530-531)
  private case class Blk(si: String, ss: Long, se: Long,
                         di: String, ds: Long, ori: Int)

  private val blocksGen: Gen[List[Blk]] = for {
    n <- Gen.choose(2, 36)
    mk = for {
      si <- Gen.oneOf("a", "b", "x")
      ss <- Gen.choose(0L, 400L)
      len <- Gen.oneOf(Gen.choose(1L, 8L), Gen.choose(1L, 80L))
      di <- Gen.oneOf("x", "y", "a")
      ds <- Gen.choose(0L, 400L)
      ori <- Gen.oneOf(1, -1)
    } yield Blk(si, ss, ss + len, di, ds, ori)
    bs <- Gen.listOfN(n, mk)
  } yield bs

  private val queriesGen: Gen[List[(String, Long, Long)]] = for {
    n <- Gen.choose(1, 12)
    mk = for {
      si <- Gen.oneOf("a", "b", "x", "nohit")
      qs <- Gen.choose(0L, 450L)
      len <- Gen.oneOf(Gen.choose(1L, 10L), Gen.choose(20L, 200L))
    } yield (si, qs, qs + len)
    qs <- Gen.listOfN(n, mk)
  } yield qs

  private def store(bs: List[Blk]): AlignmentStore =
    AlignmentStore.fromCoords(spark,
      bs.map(b => ((b.si, b.ss, b.se), (b.di, b.ds, b.ds + (b.se - b.ss), b.ori))),
      bidirectional = false)

  private def mkQ(qs: List[(String, Long, Long)]) = {
    import spark.implicits._
    qs.zipWithIndex.map { case ((si, s, e), i) => (i.toLong, si, s, e) }
      .toDF("q_id", "src_id", "q_start", "q_end")
  }

  /** Clip block `b` (block_id `bid`) to query window [qs, qe): the
    * kept src run shifts the dest bounds from whichever dest END the
    * cut src letters adjoin — forward: start cut moves dest start;
    * reversed: start cut moves dest END (the dest axis runs the other
    * way). */
  private def clip(qid: Long, b: Blk, bid: Long, qs: Long, qe: Long) = {
    val ns = math.max(b.ss, qs); val ne = math.min(b.se, qe)
    val de = b.ds + (b.se - b.ss)
    val (nds, nde) =
      if (b.ori >= 0) (b.ds + (ns - b.ss), de - (b.se - ne))
      else (b.ds + (b.se - ne), de - (ns - b.ss))
    (qid, b.si, ns, ne, b.di, nds, nde, b.ori, bid)
  }

  private def sliceOracle(bs: List[Blk], qs: List[(String, Long, Long)]) =
    (for {
      ((si, s, e), qid) <- qs.zipWithIndex
      (b, bid) <- bs.zipWithIndex
      if b.si == si && b.ss < e && s < b.se
    } yield clip(qid.toLong, b, bid.toLong, s, e)).toSet

  private def runSlice(st: AlignmentStore, q: org.apache.spark.sql.DataFrame,
                       indexed: Option[Boolean], binWidth: Long) =
    st.slice(q, binWidth = binWidth, indexed = indexed)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6), r.getInt(7), r.getLong(8)))
      .toSet

  property("slice == clip oracle on all three physical paths") =
    forAll(blocksGen, queriesGen) { (bs0, qs) =>
      val bs = bs0.distinct
      val st = store(bs)
      val q = mkQ(qs)
      val want = sliceOracle(bs, qs)
      runSlice(st, q, Some(true), 0L) == want &&
        runSlice(st, q, Some(false), 16L) == want &&
        runSlice(st, q, None, 0L) == want // auto: measured width/ladder
    }

  property("slice2hop == axis-intersection oracle with ori compose and self-match drop") =
    forAll(blocksGen, queriesGen) { (bs0, qs) =>
      val bs = bs0.distinct
      val st = store(bs)
      val got = st.slice2hop(mkQ(qs))
        .select("q_id", "src_id", "src_start", "src_end", "dest_id",
          "dest_start", "dest_end", "dest_ori", "axis_id", "block1_id", "block2_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getLong(5), r.getLong(6), r.getInt(7),
          r.getString(8), r.getLong(9), r.getLong(10)))
        .toSet
      val want = (for {
        (qid, si, s1, _, axis, m1s, m1e, ori1, b1) <- sliceOracle(bs, qs).toSeq
        (b2, bid2) <- bs.zipWithIndex
        if b2.si == axis && b2.ss < m1e && m1s < b2.se
      } yield {
        val ms = math.max(m1s, b2.ss); val me = math.min(m1e, b2.se)
        val (xs, xe) =
          if (ori1 >= 0) (s1 + (ms - m1s), s1 + (me - m1s))
          else (s1 + (m1e - me), s1 + (m1e - ms))
        val (ys, ye) =
          if (b2.ori >= 0) (b2.ds + (ms - b2.ss), b2.ds + (me - b2.ss))
          else (b2.ds + (b2.se - me), b2.ds + (b2.se - ms))
        (qid, si, xs, xe, b2.di, ys, ye, ori1 * b2.ori, axis, b1, bid2.toLong)
      }).filter { case (_, si, xs, _, yId, ys, _, _, _, _, _) =>
        yId != si || xs != ys // the reference's self-match drop
      }.toSet
      got == want
    }

  property("slice2hopMerged == grouped bounds of the pair oracle, both merge placements") =
    forAll(blocksGen, queriesGen) { (bs0, qs) =>
      val bs = bs0.distinct
      val st = store(bs)
      // mergeSeq bounds per (q, target, ori) over the two-hop pairs
      // (cnestedlist.pyx:324-347 consuming :537-539) — the operator a
      // user actually gets from a two-hop query; the map-side and
      // reduce-side placements must agree with each other AND the
      // oracle (the placement is a physical choice, DRIFT_r15 §1)
      val pairOracle = (for {
        (qid, si, s1, _, axis, m1s, m1e, ori1, _) <- sliceOracle(bs, qs).toSeq
        (b2, _) <- bs.zipWithIndex
        if b2.si == axis && b2.ss < m1e && m1s < b2.se
      } yield {
        val ms = math.max(m1s, b2.ss); val me = math.min(m1e, b2.se)
        val (xs, xe) =
          if (ori1 >= 0) (s1 + (ms - m1s), s1 + (me - m1s))
          else (s1 + (m1e - me), s1 + (m1e - ms))
        val (ys, ye) =
          if (b2.ori >= 0) (b2.ds + (ms - b2.ss), b2.ds + (me - b2.ss))
          else (b2.ds + (b2.se - me), b2.ds + (b2.se - ms))
        (qid, si, xs, xe, b2.di, ys, ye, ori1 * b2.ori)
      }).filter { case (_, si, xs, _, yId, ys, _, _) => yId != si || xs != ys }
      val want = pairOracle.groupBy(p => (p._1, p._5, p._8)).map {
        case ((qid, did, ori), ps) =>
          (qid, did, ori, ps.map(_._3).min, ps.map(_._4).max,
            ps.map(_._6).min, ps.map(_._7).max, ps.size.toLong)
      }.toSet
      def run(mapSide: Boolean) = st
        .slice2hopMerged(mkQ(qs), mapSideMerge = Some(mapSide))
        .select("q_id", "dest_id", "dest_ori", "src_start", "src_end",
          "dest_start", "dest_end", "n_blocks")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .toSet
      run(mapSide = true) == want && run(mapSide = false) == want
    }
}
