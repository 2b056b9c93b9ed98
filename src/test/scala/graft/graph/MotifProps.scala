package graft.graph

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.SparkSession

/** Property check for the subgraph-isomorphism matcher (J5 — pygr
  * `GraphQuery`, `graphquery.py:425-806`): random small directed data
  * graphs x random query motifs (paths, fans, cycles — including
  * motifs whose closure edges become existence filters) against a
  * brute-force backtracking enumerator, in BOTH injective and
  * non-injective modes. The engine's join-chain compilation (closure
  * edges as semi-join filters, injectivity as pairwise inequality)
  * must return exactly the enumerator's solution set — the randomized
  * completion of GraphSpec's reference goldens (`graph_test.py`).
  */
object MotifProps extends Properties("graft.motif") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  // query motifs over variables a/b/c(/d): path, fan-out, fan-in,
  // diamond, triangle, triangle+tail — cyclic shapes exercise the
  // closure-edge filter path, 4-var shapes the deeper join chain
  private val motifs: Seq[(String, Seq[(String, String)])] = Seq(
    "path3" -> Seq("a" -> "b", "b" -> "c"),
    "path4" -> Seq("a" -> "b", "b" -> "c", "c" -> "d"),
    "fan_out" -> Seq("a" -> "b", "a" -> "c"),
    "fan_in" -> Seq("a" -> "c", "b" -> "c"),
    "triangle" -> Seq("a" -> "b", "b" -> "c", "c" -> "a"),
    "diamond" -> Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d"),
    "tri_tail" -> Seq("a" -> "b", "b" -> "c", "c" -> "a", "b" -> "d"))

  private val caseGen: Gen[(List[(Long, Long)], (String, Seq[(String, String)]), Boolean)] =
    for {
      nNodes <- Gen.choose(3, 8)
      nEdges <- Gen.choose(2, 14)
      mk = for {
        s <- Gen.choose(0L, nNodes - 1L)
        d <- Gen.choose(0L, nNodes - 1L)
      } yield (s, d)
      es <- Gen.listOfN(nEdges, mk)
      m <- Gen.oneOf(motifs)
      inj <- Gen.oneOf(true, false)
    } yield (es.distinct.filter(e => e._1 != e._2), m, inj)

  /** Brute-force enumerator: assign data nodes to query variables in
    * order, requiring every motif edge whose endpoints are both
    * assigned to exist (so closure edges check naturally), and
    * pairwise-distinct assignments when injective. */
  private def enumerate(edges: Set[(Long, Long)], vars: Seq[String],
                        motif: Seq[(String, String)],
                        injective: Boolean): Set[Map[String, Long]] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    def go(bound: Map[String, Long], rest: Seq[String]): Set[Map[String, Long]] =
      rest match {
        case Seq() => Set(bound)
        case v +: tail =>
          nodes.iterator.filter { n =>
            (!injective || !bound.values.exists(_ == n)) && {
              val b2 = bound + (v -> n)
              motif.forall { case (f, t) =>
                !(b2.contains(f) && b2.contains(t)) || edges((b2(f), b2(t)))
              }
            }
          }.flatMap(n => go(bound + (v -> n), tail)).toSet
      }
    go(Map.empty, vars)
  }

  property("find == brute-force enumeration (paths, fans, cycles; both injectivity modes)") =
    forAll(caseGen) { case (es, (_, motif), injective) =>
      import spark.implicits._
      val vars = motif.flatMap(e => Seq(e._1, e._2)).distinct
      if (es.isEmpty) true
      else {
        val g = es.toDF("src", "dst")
        val got = MotifQuery
          .find(motif.map { case (f, t) => MotifEdge(f, t, g) }, injective)
          .select(vars.head, vars.tail: _*)
          .collect()
          .map(r => vars.indices.map(i => vars(i) -> r.getLong(i)).toMap)
          .toSet
        got == enumerate(es.toSet, vars, motif, injective)
      }
    }
}
