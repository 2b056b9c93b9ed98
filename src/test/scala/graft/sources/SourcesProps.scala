package graft.sources

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Fuzz-roundtrip properties for the alignment text sources (S4 MAF,
  * S5 axtNet) and their shared gapped-run decomposer: random
  * alignments are RENDERED as the wire format and read back through
  * the real Spark readers; the recovered blocks must equal an
  * independently-derived expectation. The minus-strand arithmetic is
  * the target surface — MAF '-' rows count from the reverse end of a
  * srcSize-long axis (`cnestedlist.pyx:1725-1837` semantics), axt '-'
  * records stay on the reverse axis by design — exactly where an
  * off-by-one would hide from the fixture goldens in SourcesSpec.
  */
object SourcesProps extends Properties("graft.sources") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  // a gapped alignment as column segments: M = letters both sides,
  // GA = gap in a (ref), GB = gap in b (other), GG = gap in both (a
  // run BREAK that consumes neither side — the decomposer must not
  // merge across it)
  private sealed trait Seg { def len: Int }
  private case class M(len: Int) extends Seg
  private case class GA(len: Int) extends Seg
  private case class GB(len: Int) extends Seg
  private case class GG(len: Int) extends Seg

  private val segsGen: Gen[List[Seg]] = Gen.choose(1, 9).flatMap { n =>
    Gen.listOfN(n, for {
      len <- Gen.choose(1, 6)
      seg <- Gen.oneOf(M(len), M(len), GA(len), GB(len), GG(len))
    } yield seg)
  }

  private def render(segs: List[Seg]): (String, String) = {
    val a = new StringBuilder; val b = new StringBuilder
    segs.foreach {
      case M(n) => a.append("A" * n); b.append("C" * n)
      case GA(n) => a.append("-" * n); b.append("G" * n)
      case GB(n) => a.append("T" * n); b.append("-" * n)
      case GG(n) => a.append("-" * n); b.append("-" * n)
    }
    (a.toString, b.toString)
  }

  /** Independent expectation: maximal both-letter column stretches,
    * offsets counting non-gap columns per side. */
  private def runsOf(segs: List[Seg]): Seq[(Long, Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long, Long)]
    var ai = 0L; var bi = 0L
    var cur: Option[(Long, Long, Long)] = None
    segs.foreach {
      case M(n) =>
        cur = cur match {
          case Some((ra, rb, l)) => Some((ra, rb, l + n))
          case None => Some((ai, bi, n.toLong))
        }
        ai += n; bi += n
      case g =>
        cur.foreach(out += _); cur = None
        g match {
          case GA(n) => bi += n
          case GB(n) => ai += n
          case _ => ()
        }
    }
    cur.foreach(out += _)
    out.result()
  }

  property("ungappedRuns == maximal both-letter stretches (incl. double-gap breaks)") =
    forAll(segsGen) { segs =>
      val (a, b) = render(segs)
      GappedAlign.ungappedRuns(a, b) == runsOf(segs)
    }

  private case class MafRow(other: String, start: Long, fwd: Boolean,
                            srcSize: Long, segs: List[Seg])

  private val mafBlockGen: Gen[(Long, List[MafRow])] = for {
    refStart <- Gen.choose(0L, 500L)
    nOthers <- Gen.choose(1, 3)
    rows <- Gen.listOfN(nOthers, for {
      oi <- Gen.choose(0, 2)
      start <- Gen.choose(0L, 300L)
      fwd <- Gen.oneOf(true, false)
      slack <- Gen.choose(0L, 50L)
      segs <- segsGen
    } yield {
      val letters = segs.collect { case M(n) => n.toLong case GA(n) => n.toLong }.sum
      MafRow(s"o$oi", start, fwd, start + letters + slack, segs)
    })
  } yield (refStart, rows)

  property("MAF render -> read == strand-normalized pairwise runs") =
    forAll(Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, mafBlockGen))) { blocks =>
      val text = new StringBuilder("##maf version=1\n\n")
      val expect = Seq.newBuilder[(String, Long, Long, String, Long, Long, Int)]
      blocks.foreach { case (refStart, rows) =>
        // every row's ref text must share one column count: pad each
        // row pair onto its own ref columns is NOT maf — instead emit
        // one two-row block per other (a valid maf file is a sequence
        // of blocks; pairwise semantics are per ref-other pair anyway)
        rows.foreach { row =>
          val (refTxt, otherTxt) = render(row.segs)
          text.append("a score=0\n")
          val refLetters = refTxt.count(_ != '-')
          text.append(s"s ref $refStart $refLetters + ${refStart + refLetters + 10} $refTxt\n")
          val oLetters = otherTxt.count(_ != '-')
          val strand = if (row.fwd) "+" else "-"
          text.append(s"s ${row.other} ${row.start} $oLetters $strand ${row.srcSize} $otherTxt\n")
          text.append("\n")
          runsOf(row.segs).foreach { case (ro, oo, len) =>
            val ss = refStart + ro
            val (ds, de, ori) =
              if (row.fwd) (row.start + oo, row.start + oo + len, 1)
              else {
                // '-' strand: offsets count on the reversed axis of a
                // srcSize-long sequence; forward coords flip the END
                val fwdEnd = row.srcSize - (row.start + oo)
                (fwdEnd - len, fwdEnd, -1)
              }
            expect += ((("ref"): String, ss, ss + len, row.other, ds, de, ori))
          }
        }
      }
      val f = java.nio.file.Files.createTempFile("maf_prop", ".maf")
      java.nio.file.Files.write(f, text.toString.getBytes("UTF-8"))
      try {
        val got = Maf.read(spark, f.toString)
          .select("src_id", "src_start", "src_end", "dest_id",
            "dest_start", "dest_end", "dest_ori")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
            r.getLong(4), r.getLong(5), r.getInt(6)))
          .toSeq.sorted
        got == expect.result().sorted
      } finally java.nio.file.Files.deleteIfExists(f)
    }

  property("axt render -> read == 1-based-header-corrected runs") =
    forAll(Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, for {
      tStart <- Gen.choose(0L, 400L)
      qStart <- Gen.choose(0L, 400L)
      fwd <- Gen.oneOf(true, false)
      segs <- segsGen
    } yield (tStart, qStart, fwd, segs)))) { recs =>
      val text = new StringBuilder
      val expect = Seq.newBuilder[(String, Long, Long, String, Long, Long, Int, Long)]
      recs.zipWithIndex.foreach { case ((tStart, qStart, fwd, segs), i) =>
        val (tTxt, qTxt) = render(segs)
        val tLen = tTxt.count(_ != '-'); val qLen = qTxt.count(_ != '-')
        // header is 1-based INCLUSIVE on both axes
        text.append(s"$i chrT ${tStart + 1} ${tStart + tLen} chrQ ${qStart + 1} " +
          s"${qStart + qLen} ${if (fwd) "+" else "-"} 99\n$tTxt\n$qTxt\n\n")
        runsOf(segs).foreach { case (to, qo, len) =>
          expect += (("chrT", tStart + to, tStart + to + len,
            "chrQ", qStart + qo, qStart + qo + len, if (fwd) 1 else -1, i.toLong))
        }
      }
      val f = java.nio.file.Files.createTempFile("axt_prop", ".axt")
      java.nio.file.Files.write(f, text.toString.getBytes("UTF-8"))
      try {
        val got = Axt.read(spark, f.toString)
          .select("src_id", "src_start", "src_end", "dest_id",
            "dest_start", "dest_end", "dest_ori", "block_id")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
            r.getLong(4), r.getLong(5), r.getInt(6), r.getLong(7)))
          .toSeq.sorted
        got == expect.result().sorted
      } finally java.nio.file.Files.deleteIfExists(f)
    }

  // ---- BLAST text report fuzz (S6) -------------------------------

  private case class BHsp(plus: Boolean, hasStrandLine: Boolean,
                          qStart0: Long, sLo0: Long, wrap: Int,
                          bits: Double, evalue: String,
                          nid: Long, segs: List[Seg])

  private val bHspGen: Gen[BHsp] = for {
    plus <- Gen.oneOf(true, false)
    // blastp-style reports carry no Strand line (plus implied)
    strandLine <- Gen.oneOf(true, false)
    qs <- Gen.choose(0L, 200L)
    ss <- Gen.choose(0L, 200L)
    wrap <- Gen.choose(5, 14)
    bits10 <- Gen.choose(10, 9999)
    ev <- Gen.oneOf("2e-07", "0.004", "1e-100", "3.2")
    nid <- Gen.choose(1L, 50L)
    mid <- segsGen
    h <- Gen.choose(1, 4); t <- Gen.choose(1, 4)
  } yield BHsp(plus, plus && strandLine, qs, ss, wrap,
    bits10 / 10.0, ev, nid, M(h) +: mid :+ M(t))

  private val bReportGen: Gen[List[(String, List[(String, List[BHsp])])]] = for {
    nq <- Gen.choose(1, 2)
    qs <- Gen.listOfN(nq, for {
      nh <- Gen.choose(1, 2)
      hits <- Gen.listOfN(nh, Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, bHspGen)))
    } yield hits)
  } yield qs.zipWithIndex.map { case (hits, qi) =>
    s"q$qi" -> hits.zipWithIndex.map { case (hs, hi) => (s"subj${qi}_$hi", hs) }
  }

  /** Render one HSP's wrapped Query:/Sbjct: chunk pairs with BLAST's
    * coordinate bookkeeping: 1-based inclusive letter positions,
    * ascending on the query, DESCENDING on a minus-strand subject. */
  private def renderHsp(sb: StringBuilder, h: BHsp): Unit = {
    // Double.toString is locale-independent ("54.3"); an %f format
    // could print a comma under a non-US default locale
    sb.append(s" Score = ${h.bits} bits (${(h.bits * 2).toLong}), Expect = ${h.evalue}\n")
    val total = h.segs.map(_.len).sum
    sb.append(s" Identities = ${h.nid}/$total (88%)\n")
    if (h.hasStrandLine) sb.append(" Strand = Plus / Plus\n")
    if (!h.plus) sb.append(" Strand = Plus / Minus\n")
    sb.append("\n")
    val (qTxt, sTxt) = render(h.segs)
    val sLetters = sTxt.count(_ != '-')
    var qPos = h.qStart0 // letters consumed on q
    var sPos = if (h.plus) h.sLo0 else h.sLo0 + sLetters // minus: descend from the top
    var i = 0
    while (i < qTxt.length) {
      val end = math.min(i + h.wrap, qTxt.length)
      val qc = qTxt.substring(i, end); val sc = sTxt.substring(i, end)
      val qn = qc.count(_ != '-'); val sn = sc.count(_ != '-')
      sb.append(s"Query: ${qPos + 1} $qc ${qPos + qn}\n")
      if (h.plus) sb.append(s"Sbjct: ${sPos + 1} $sc ${sPos + sn}\n\n")
      else sb.append(s"Sbjct: $sPos $sc ${sPos - sn + 1}\n\n")
      qPos += qn
      sPos = if (h.plus) sPos + sn else sPos - sn
      i = end
    }
  }

  property("BLAST report render -> parseRunLines == per-HSP run expectation") =
    forAll(bReportGen) { report =>
      val sb = new StringBuilder("BLASTN 2.2.26\n\n")
      val expect = Seq.newBuilder[(String, String, Long, Long, Long, Long, Int, Double, String, Long)]
      report.foreach { case (q, hits) =>
        sb.append(s"Query= $q\n         (50 letters)\n\n")
        hits.foreach { case (hid, hsps) =>
          sb.append(s">$hid\n          Length = 500\n\n")
          hsps.foreach { h =>
            renderHsp(sb, h)
            // subject letters: columns where the SUBJECT has a base —
            // matches (M) and query-gap columns (GA, '-' on the q side)
            val sLetters = h.segs.collect { case M(n) => n.toLong case GA(n) => n.toLong }.sum
            val sHi = h.sLo0 + sLetters // half-open top of the subject span
            runsOf(h.segs).foreach { case (qo, so, len) =>
              val (ss, se) =
                if (h.plus) (h.sLo0 + so, h.sLo0 + so + len)
                else (sHi - so - len, sHi - so)
              expect += ((q, hid, h.qStart0 + qo, h.qStart0 + qo + len,
                ss, se, if (h.plus) 1 else -1, h.bits, h.evalue, h.nid))
            }
          }
        }
      }
      // Tuple10 has no default Ordering — compare as multisets
      val got = BlastText.parseRunLines(sb.toString.split("\n").iterator)
        .map(r => (r.query_id, r.hit_id, r.q_start, r.q_end,
          r.s_start, r.s_end, r.ori, r.bits, r.evalue_str, r.n_ident))
        .toSeq.groupBy(identity).map { case (k, v) => (k, v.size) }
      got == expect.result().groupBy(identity).map { case (k, v) => (k, v.size) }
    }
}
