package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Property check for the gap-rule merge operators (A2 — the
  * reference's `groupByIntervals`, `cnestedlist.pyx:722-845`), closing
  * the VERDICT r17 #1 gap: the fixtures and hand goldens pin a few
  * rule combinations, while the parameter space (maxGap/maxInsert/
  * minInsert/maxSize interactions, negative inserts, mergeAll) is
  * where a boundary bug would hide. The oracle is an independent
  * per-lane linear scan in plain Scala implementing the reference's
  * semantics directly:
  *   - scan order (start, end, destStart, destEnd) per lane;
  *   - gap  = current.start − PREVIOUS ROW's end (the reference
  *     overwrites `l[n][1]` with each member's end, so the comparison
  *     point is the previous member, NOT a running max);
  *   - insert = current.destStart − previous row's destEnd, bounded
  *     both sides (negative minInsert admits overlap/cycles);
  *   - size measured from the region's FIRST member on EITHER axis;
  *   - merged bounds: start coords from the first member, end coords
  *     from the LAST member in scan order (which may be below an
  *     earlier member's end when containment occurs).
  * Both physical paths are exercised: maxSize == Long.MaxValue (and
  * mergeAll) plans the lag+cumsum window path, a finite maxSize the
  * secondary-sort mapPartitions scan.
  */
object SessionizeProps extends Properties("graft.sessionize") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  private case class Row2(k: String, s: Long, e: Long, ds: Long, de: Long)

  private val rowsGen: Gen[List[Row2]] = for {
    n <- Gen.choose(1, 48)
    nKeys <- Gen.choose(1, 3)
    mk = for {
      k <- Gen.choose(0, nKeys - 1).map(i => s"k$i")
      s <- Gen.choose(0L, 300L)
      len <- Gen.oneOf(Gen.choose(1L, 5L), Gen.choose(1L, 60L))
      // dest axis decoupled from src: inserts of both signs arise
      ds <- Gen.choose(0L, 300L)
      dlen <- Gen.choose(1L, 60L)
    } yield Row2(k, s, s + len, ds, ds + dlen)
    rows <- Gen.listOfN(n, mk)
  } yield rows

  private val ruleGen: Gen[GapRule] = for {
    maxGap <- Gen.oneOf(Gen.choose(-5L, 5L), Gen.choose(0L, 80L))
    maxInsert <- Gen.choose(-10L, 80L)
    // minInsert <= maxInsert keeps the rule satisfiable but the scan
    // must be correct either way; occasionally cross them
    minInsert <- Gen.oneOf(Gen.choose(-40L, 0L), Gen.choose(-5L, 90L))
    maxSize <- Gen.oneOf(Gen.const(Long.MaxValue), Gen.choose(5L, 60L),
      Gen.choose(60L, 400L))
    mergeAll <- Gen.oneOf(true, false, false, false)
  } yield GapRule(maxGap, maxInsert, minInsert, maxSize, mergeAll)

  /** The reference scan (`cnestedlist.pyx:808-845`), one lane. Returns
    * each row's session id in scan order. */
  private def oracleSessions(lane: Seq[Row2], rule: GapRule): Seq[(Row2, Long)] = {
    val sorted = lane.sortBy(r => (r.s, r.e, r.ds, r.de))
    var session = -1L
    var rs = 0L; var rds = 0L; var pe = 0L; var pde = 0L
    sorted.map { r =>
      val brk = session < 0 || (!rule.mergeAll &&
        (r.s - pe > rule.maxGap ||
         r.ds - pde > rule.maxInsert || r.ds - pde < rule.minInsert ||
         r.e - rs > rule.maxSize || r.de - rds > rule.maxSize))
      if (brk) { session += 1L; rs = r.s; rds = r.ds }
      pe = r.e; pde = r.de
      (r, session)
    }
  }

  /** Merged regions per lane: first member's start coords, last
    * member's end coords, member count. */
  private def oracleMerged(lane: Seq[Row2], rule: GapRule): Set[(Long, Long, Long, Long, Long, Long)] =
    oracleSessions(lane, rule).groupBy(_._2).map { case (sess, members) =>
      val ms = members.map(_._1)
      (sess, ms.head.s, ms.last.e, ms.head.ds, ms.last.de, ms.size.toLong)
    }.toSet

  property("tagRule == reference scan on both physical paths") =
    forAll(rowsGen, ruleGen) { (rows0, rule) =>
      import spark.implicits._
      // duplicate full tuples make row<->session pairing ambiguous in
      // the comparison (the semantics are still deterministic); drop them
      val rows = rows0.distinct
      // tuple projection, not the case-class encoder: the nested case
      // class falls back to interpreted encoding with a noisy codegen
      // CompileException in the log
      val df = rows.map(r => (r.k, r.s, r.e, r.ds, r.de)).toDF("k", "s", "e", "ds", "de")
      val got = Sessionize.tagRule(df, Seq("k"), "s", "e", "ds", "de", rule)
        .select("k", "s", "e", "ds", "de", "session").collect()
        .map(r => (Row2(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
          r.getLong(5))).toSet
      val want = rows.groupBy(_.k).flatMap { case (_, lane) =>
        oracleSessions(lane, rule)
      }.toSet
      got == want
    }

  property("mergeRule == reference region bounds (first start / last end)") =
    forAll(rowsGen, ruleGen) { (rows0, rule) =>
      import spark.implicits._
      val rows = rows0.distinct
      val df = rows.map(r => (r.k, r.s, r.e, r.ds, r.de)).toDF("k", "s", "e", "ds", "de")
      val got = Sessionize.mergeRule(df, Seq("k"), "s", "e", "ds", "de", rule)
        .select("k", "session", "session_start", "session_end",
          "session_dest_start", "session_dest_end", "n_members").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      val want = rows.groupBy(_.k).map { case (k, lane) =>
        k -> oracleMerged(lane, rule)
      }
      got == want
    }

  property("single-axis merge == running-max sessionization") =
    forAll(rowsGen, Gen.choose(-5L, 80L)) { (rows0, maxGap) =>
      import spark.implicits._
      // distinct AFTER the projection: Row2s differing only in dest
      // coords would otherwise alias to duplicate (k, s, e) triples
      val rows = rows0.map(r => (r.k, r.s, r.e)).distinct
      val df = rows.toDF("k", "s", "e")
      val got = Sessionize.merge(df, Seq("k"), "s", "e", maxGap)
        .select("k", "session", "session_start", "session_end", "n_members")
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      // oracle: running MAX of ends (tag's documented semantics — an
      // engulfing first interval absorbs later short ones even when
      // the previous ROW's end is far behind)
      val want = rows.groupBy(_._1).map { case (k, lane) =>
        val sorted = lane.sortBy(t => (t._2, t._3))
        var session = -1L; var maxEnd = Long.MinValue
        val tagged = sorted.map { case (_, s, e) =>
          if (session < 0 || s > maxEnd + maxGap) session += 1L
          maxEnd = math.max(maxEnd, e)
          (s, e, session)
        }
        k -> tagged.groupBy(_._3).map { case (sess, ms) =>
          (sess, ms.map(_._1).min, ms.map(_._2).max, ms.size.toLong)
        }.toSet
      }
      got == want
    }
}
