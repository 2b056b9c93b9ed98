package graft.graph

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The xxhash64 production path of `sharedNeighborsSketch` (the
  * library default; the DuckDB-gated j5b query pins the md5 variant)
  * must deliver the same sketch QUALITY as the md5 path: identical
  * neighbor sets always collide and estimate exactly, and estimates
  * for true near-identical pairs stay tight. Both hash families run
  * the same estimate formula, so this is a guard on the wiring, not
  * the math.
  */
class SketchHashParitySpec extends SparkSuite {

  // two cliques of 5 nodes with IDENTICAL neighbor sets (J = 1 within
  // a clique, 0 across), plus a pair at J ~ 18/22
  private def edges = {
    import spark.implicits._
    val cliqueA = for (s <- 1L to 5L; p <- 101L to 120L) yield (s, p)
    val cliqueB = for (s <- 11L to 15L; p <- 201L to 220L) yield (s, p)
    val near = (for (p <- 301L to 320L) yield (21L, p)) ++
      (for (p <- 303L to 322L) yield (22L, p))
    (cliqueA ++ cliqueB ++ near).toDF("src", "dst")
  }

  for (hasher <- Seq("xx", "md5")) {
    test(s"$hasher sketch: identical sets estimate J=1, cross-clique stays low") {
      import spark.implicits._
      val got = MotifQuery.sharedNeighborsSketch(edges, k = 16, bands = 4,
          hasher = hasher)
        .select("s1", "s2", "est_jac_bp", "n_shared_est")
        .as[(Long, Long, Long, Long)].collect()
      val byPair = got.map(r => ((r._1, r._2), (r._3, r._4))).toMap
      // every within-clique pair (identical neighbor sets) must be
      // found — all 16 signature mins agree, so every band collides
      val cliquePairs =
        (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)) ++
          (for (a <- 11L to 15L; b <- a + 1 to 15L) yield (a, b))
      cliquePairs.foreach { p =>
        val (jac, nsh) = byPair.getOrElse(p, fail(s"$hasher: missing clique pair $p"))
        assert(jac === 10000L, s"$hasher: $p est_jac_bp=$jac")
        assert(nsh === 20L, s"$hasher: $p n_shared_est=$nsh")
      }
      // cross-clique sets are disjoint: any accidental candidate must
      // estimate low (a high estimate means the hash wiring is broken)
      got.filter(r => r._1 <= 5L && r._2 >= 11L).foreach { r =>
        assert(r._3 < 5000L, s"$hasher: disjoint pair $r estimates high")
      }
    }
  }

  test("xx and md5 agree on the near-identical pair's estimate within 2 components") {
    import spark.implicits._
    def est(h: String) =
      MotifQuery.sharedNeighborsSketch(edges, k = 16, bands = 4, hasher = h)
        .where(col("s1") === 21L && col("s2") === 22L)
        .select("est_jac_bp").as[Long].collect().headOption
    val xx = est("xx")
    val md = est("md5")
    // J(21,22) = 18/22 ≈ 0.818: both families must find the pair
    // (expected matching components ≈ 13/16; all 4 bands matching by
    // chance each round makes a miss vanishingly unlikely) and land
    // within 2/16 components of each other
    assert(xx.isDefined && md.isDefined, s"near pair missed: xx=$xx md5=$md")
    assert(math.abs(xx.get - md.get) <= 2 * 10000 / 16,
      s"families disagree: xx=$xx md5=$md")
  }

  test("md5 sketch equals a plain-Scala reference row for row") {
    import spark.implicits._
    // 12 communities of 8 sources; each source keeps ~85% of its
    // community's 12 targets plus 0-2 random ones, so same-community
    // pairs sit near J = 0.7 and many collide in some band; duplicate
    // and null-target edges exercise the distinct and the null drop
    val rnd = new scala.util.Random(20261019L)
    val edges: Seq[(Long, Option[Long])] = for {
      c <- 0 until 12
      s <- 0 until 8
      src = 100L * c + s
      dst <- (0 until 12).filter(_ => rnd.nextDouble() < 0.85).map(t => Some(10000L + 100L * c + t)) ++
        Seq.fill(rnd.nextInt(3))(Some(20000L + rnd.nextInt(500))) ++
        (if (rnd.nextInt(4) == 0) Seq(None, Some(10000L + 100L * c)) else Nil)
    } yield (src, dst)
    val k = 16
    val bands = 4

    def md5Hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    val sets: Map[Long, Set[Long]] = edges.collect { case (s, Some(d)) => (s, d) }
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val sigs: Map[Long, IndexedSeq[String]] = sets.map { case (s, ds) =>
      s -> (0 until k).map(i => ds.map(d => md5Hex(s"$i:$d")).min)
    }
    val r = k / bands
    val buckets: Map[Long, Set[(Int, String)]] = sigs.map { case (s, sig) =>
      s -> (0 until bands).map(b => b -> md5Hex(sig.slice(b * r, (b + 1) * r).mkString)).toSet
    }
    val nodes = sets.keys.toSeq.sorted
    val expected = (for {
      i <- nodes
      j <- nodes if i < j && (buckets(i) & buckets(j)).nonEmpty
    } yield {
      val m = (0 until k).count(x => sigs(i)(x) == sigs(j)(x))
      val est = math.floor(10000.0 * m / k).toLong
      val shared = math.floor((est * (sets(i).size + sets(j).size)).toDouble / (10000L + est)).toLong
      (i, j, est, shared)
    }).toSet
    assert(expected.size >= 50, s"only ${expected.size} candidate pairs")

    val got = MotifQuery.sharedNeighborsSketch(edges.toDF("src", "dst"), k = k, bands = bands,
        hasher = "md5")
      .select("s1", "s2", "est_jac_bp", "n_shared_est").as[(Long, Long, Long, Long)].collect()
    assert(got.length === got.toSet.size)
    assert(got.toSet === expected)
  }
}
