package graft.seq

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Fuzz properties for the sequence layer: FASTA records rendered
  * with random line wrapping (incl. CRLF, title-less headers, empty
  * sequences) must roundtrip through BOTH readers (the RDD reader and
  * the DataSourceV2 connector), and the chunk-pruned `strslice` (S3)
  * must equal plain substring at small chunk sizes that force every
  * slice across chunk boundaries — the offset arithmetic fixtures
  * barely reach.
  */
object SeqProps extends Properties("graft.seq") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  private val recordGen: Gen[(String, String, String, Int, Boolean)] = for {
    idLen <- Gen.choose(1, 12)
    id <- Gen.listOfN(idLen, Gen.oneOf(('a' to 'z') ++ ('0' to '9') ++ Seq('.', '_', '-')))
      .map(_.mkString)
    title <- Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(20)),
      Gen.const("two words here"))
    seqLen <- Gen.oneOf(Gen.const(0), Gen.choose(1, 200))
    seq <- Gen.listOfN(seqLen, Gen.oneOf('A', 'C', 'G', 'T', 'N', 'a', 'c')).map(_.mkString)
    wrap <- Gen.choose(3, 80)
    crlf <- Gen.oneOf(true, false)
  } yield (id, title, seq, wrap, crlf)

  property("FASTA render -> read roundtrips through both readers") =
    forAll(Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, recordGen))) { recs0 =>
      // distinct ids: duplicate ids are legal FASTA but make the
      // comparison multiset-per-id noise without testing more
      val recs = recs0.groupBy(_._1).map(_._2.head).toList
      val nl = (crlf: Boolean) => if (crlf) "\r\n" else "\n"
      val text = recs.map { case (id, title, seq, wrap, crlf) =>
        val header = if (title.isEmpty) s">$id" else s">$id $title"
        val body = seq.grouped(wrap).mkString(nl(crlf))
        if (seq.isEmpty) header + nl(crlf) else header + nl(crlf) + body + nl(crlf)
      }.mkString
      val dir = java.nio.file.Files.createTempDirectory("fasta_prop")
      java.nio.file.Files.write(dir.resolve("in.fa"), text.getBytes("UTF-8"))
      try {
        val want = recs.map { case (id, title, seq, _, _) =>
          (id, title, seq, seq.length.toLong)
        }.toSet
        val gotRdd = Fasta.read(spark, dir.toString)
          .select("seq_id", "title", "seq", "length").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
        val gotV2 = spark.read.format("fasta").load(dir.toString)
          .select("seq_id", "title", "seq", "length").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
        gotRdd == want && gotV2 == want
      } finally {
        java.nio.file.Files.deleteIfExists(dir.resolve("in.fa"))
        java.nio.file.Files.deleteIfExists(dir)
      }
    }

  property("strslice == substring across chunk boundaries at any chunk size") =
    forAll(for {
      nSeqs <- Gen.choose(1, 4)
      seqs <- Gen.listOfN(nSeqs, for {
        len <- Gen.choose(1, 120)
        s <- Gen.listOfN(len, Gen.oneOf('A', 'C', 'G', 'T')).map(_.mkString)
      } yield s)
      chunkSize <- Gen.oneOf(4, 7, 16, 64, 1024) // incl. > any seq
      nQ <- Gen.choose(1, 12)
      qs <- Gen.listOfN(nQ, for {
        si <- Gen.choose(0, nSeqs - 1)
        a <- Gen.choose(0, seqs(si).length - 1)
        b <- Gen.choose(a + 1, seqs(si).length)
      } yield (si, a.toLong, b.toLong))
    } yield (seqs, chunkSize, qs)) { case (seqs, chunkSize, qs) =>
      import spark.implicits._
      val db = SeqDb.fromSequences(
        seqs.zipWithIndex.map { case (s, i) => (s"s$i", s) }.toDF("seq_id", "seq"),
        chunkSize)
      val queries = qs.zipWithIndex.map { case ((si, a, b), qi) =>
        (qi.toLong, s"s$si", a, b)
      }.toDF("q_id", "seq_id", "start", "stop")
      val got = db.strslice(queries)
        .select("q_id", "sl").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      val want = qs.zipWithIndex.map { case ((si, a, b), qi) =>
        (qi.toLong, seqs(si).substring(a.toInt, b.toInt))
      }.toMap
      got == want
    }
}
