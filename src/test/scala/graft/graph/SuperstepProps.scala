package graft.graph

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Property check for the block-local superstep driver (`Superstep`):
  * every iterative `EdgeGraph` algorithm, run in the driver (block
  * count 0, auto: these graphs fit one block) and by the distributed
  * loop at block counts 1, 2, 3 and 8, against a scalar in-memory
  * oracle. The random directed graphs mix self-loops, duplicate and
  * reciprocal edges, a chain longer than the largest block count (so a
  * value crosses many blocks), a cycle, and an isolated pair; ids
  * spread over small and above-32-bit values so the block hash splits
  * neighbours apart.
  * Every result must equal the oracle, hence be the same at every
  * block count. SCC at a tight `numIter` is checked against GraphX
  * itself, whose iteration semantics it keeps. Truncated runs: CC at a
  * small `maxIterations` must equal the one-block loop in the driver
  * and stay between the full labels and the vertex ids elsewhere, and
  * k-core at `maxRounds = 1` must throw or return the full core.
  * The properties do not shrink: each shrink candidate would rerun the
  * loop at five block counts, so a falsified property reports its
  * first counterexample instead of shrinking for many minutes.
  */
object SuperstepProps extends Properties("graft.superstep") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = graft.SparkSuite.spark

  /** 0 is the automatic block count, which runs these graphs in the driver. */
  private val blockCounts = Seq(0, 1, 2, 3, 8)

  private type Edges = List[(Long, Long)]

  private val graphGen: Gen[Edges] = for {
    n <- Gen.choose(3, 9)
    pool <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 40L), Gen.choose(1L << 33, (1L << 33) + 40)))
    node = Gen.oneOf(pool)
    random <- Gen.listOfN(n + 4, Gen.zip(node, node)) // self-loops and duplicates
    reciprocal <- Gen.someOf(random).map(_.map(_.swap))
    chainLen <- Gen.choose(9, 14)
    cycleLen <- Gen.choose(2, 5)
  } yield {
    val chain = (100L until 100L + chainLen).map(i => i -> (i + 1))
    val cycle = (0 until cycleLen).map(i => (200L + i) -> (200L + (i + 1) % cycleLen))
    // the chain feeds the cycle and one random node, so components join
    random ++ reciprocal ++ chain ++ cycle ++
      List((100L + chainLen) -> 200L, 200L -> pool.head, 500L -> 501L)
  }

  private def frame(es: Edges): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `f` at every block count, each equal to `expected`. */
  private def atEveryBlockCount[T](expected: T)(f: Int => T): Boolean =
    blockCounts.forall(b => f(b) == expected)

  private def nodes(es: Edges): Set[Long] = es.flatMap(e => Seq(e._1, e._2)).toSet

  private def undirected(es: Edges): Map[Long, Set[Long]] =
    es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }

  /** Vertices reachable from `start` (itself included) along `adj`. */
  private def reach(adj: Map[Long, Seq[Long]], start: Long, maxHops: Int = Int.MaxValue): Map[Long, Int] = {
    var dist = Map(start -> 0)
    var frontier = Seq(start)
    var d = 0
    while (frontier.nonEmpty && d < maxHops) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  private def outAdj(es: Edges) = es.groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2) }
  private def inAdj(es: Edges) = es.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1) }

  private def bruteComponents(es: Edges): Map[Long, Long] = {
    val adj = undirected(es).map { case (n, ns) => n -> ns.toSeq }
    nodes(es).map(n => n -> reach(adj, n).keys.min).toMap
  }

  /** (node, landmark) -> hops from node to landmark along edge direction. */
  private def bruteDistances(es: Edges, landmarks: Seq[Long], maxDist: Int): Map[(Long, Long), Long] = {
    val in = inAdj(es)
    landmarks.filter(nodes(es)).flatMap { l =>
      reach(in, l, maxDist).map { case (n, d) => (n, l) -> d.toLong }
    }.toMap
  }

  private def bruteScc(es: Edges): Map[Long, Long] = {
    val (out, in) = (outAdj(es), inAdj(es))
    nodes(es).map { n =>
      n -> (reach(out, n).keySet intersect reach(in, n).keySet).min
    }.toMap
  }

  /** KCoreSpec's reference peel; a self-loop is one neighbour. */
  private def bruteCore(es: Edges, k: Int): Map[Long, Long] = {
    var adj = undirected(es)
    var changed = true
    while (changed) {
      val dead = adj.collect { case (n, ns) if ns.size < k => n }.toSet
      changed = dead.nonEmpty
      adj = (adj -- dead).map { case (n, ns) => n -> (ns -- dead) }
    }
    adj.map { case (n, ns) => n -> ns.size.toLong }
  }

  /** Synchronous rounds of "most frequent neighbour label, smallest on ties". */
  private def bruteLpa(es: Edges, rounds: Int): Map[Long, Long] = {
    val adj = undirected(es)
    var labels = adj.map { case (n, _) => n -> n }
    for (_ <- 1 to rounds)
      labels = adj.map { case (n, ns) =>
        n -> ns.toSeq.map(labels).groupBy(identity).toSeq
          .minBy { case (l, ls) => (-ls.size, l) }._1
      }
    labels
  }

  property("connectedComponents == union-find oracle at every block count") =
    forAllNoShrink(graphGen) { es =>
      atEveryBlockCount(bruteComponents(es)) { b =>
        pairs(Superstep.connectedComponents(spark, frame(es), blocks = b))
      }
    }

  property("connectedComponents truncated at maxIterations: driver == one block, else coarser") =
    forAllNoShrink(graphGen, Gen.choose(1, 3)) { (es, maxIterations) =>
      val full = bruteComponents(es)
      def run(b: Int) = pairs(Superstep.connectedComponents(spark, frame(es), maxIterations, blocks = b))
      // one block converges in its first superstep; more blocks may stop
      // early with a label of the same component between the full one and the id
      run(0) == full && run(1) == full && Seq(2, 3, 8).forall { b =>
        val got = run(b)
        got.keySet == full.keySet && got.forall { case (n, l) =>
          full(n) <= l && l <= n && full.get(l).contains(full(n))
        }
      }
    }

  property("shortestPaths == BFS oracle, with and without maxDist") =
    forAllNoShrink(graphGen, Gen.choose(1, 4)) { (es, maxDist) =>
      val landmarks = Seq(nodes(es).min, 200L, 999L) // 999 is not a vertex
      def run(b: Int, cap: Int) =
        Superstep.shortestPaths(spark, frame(es), landmarks, cap, blocks = b).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      atEveryBlockCount(bruteDistances(es, landmarks, Int.MaxValue))(run(_, Int.MaxValue)) &&
        atEveryBlockCount(bruteDistances(es, landmarks, maxDist))(run(_, maxDist))
    }

  property("stronglyConnected == mutual-reachability oracle at every block count") =
    forAllNoShrink(graphGen) { es =>
      atEveryBlockCount(bruteScc(es)) { b =>
        pairs(Superstep.stronglyConnected(spark, frame(es), numIter = 50, blocks = b))
      }
    }

  property("stronglyConnected == GraphX at a tight numIter at every block count") =
    forAllNoShrink(graphGen, Gen.choose(1, 3)) { (es, numIter) =>
      val graphx = org.apache.spark.graphx.Graph
        .fromEdgeTuples(spark.sparkContext.parallelize(es), 0)
        .stronglyConnectedComponents(numIter).vertices.collect().toMap
      atEveryBlockCount(graphx) { b =>
        pairs(Superstep.stronglyConnected(spark, frame(es), numIter, blocks = b))
      }
    }

  property("kCore == brute-force peel at every block count") =
    forAllNoShrink(graphGen, Gen.choose(1, 3)) { (es, k) =>
      atEveryBlockCount(bruteCore(es, k)) { b =>
        pairs(Superstep.kCore(spark, frame(es), k, blocks = b))
      }
    }

  property("kCore at maxRounds = 1: the full core, or a throw, never a truncated peel") =
    forAllNoShrink(graphGen, Gen.choose(1, 3)) { (es, k) =>
      val core = bruteCore(es, k)
      def run(b: Int) =
        try Right(pairs(Superstep.kCore(spark, frame(es), k, maxRounds = 1, blocks = b)))
        catch { case e: IllegalStateException if e.getMessage.contains("raise maxRounds") => Left(e) }
      run(0) == Right(core) && run(1) == Right(core) &&
        Seq(2, 3, 8).forall(b => run(b).forall(_ == core))
    }

  property("labelPropagation == synchronous scalar rounds at every block count") =
    forAllNoShrink(graphGen, Gen.choose(1, 4)) { (es, rounds) =>
      atEveryBlockCount(bruteLpa(es, rounds)) { b =>
        pairs(Superstep.labelPropagation(spark, frame(es), rounds, blocks = b))
      }
    }
}
