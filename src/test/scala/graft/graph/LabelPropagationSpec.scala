package graft.graph

import graft.SparkSuite

/** Deterministic synchronous LPA (EdgeGraph.labelPropagation): mode
  * label with smallest-label tie-break, pinned round count.
  */
class LabelPropagationSpec extends SparkSuite {

  private def edgesDF(es: (Long, Long)*) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  private def lpa(g: org.apache.spark.sql.DataFrame, rounds: Int): Map[Long, Long] =
    new EdgeGraph(g).labelPropagation(spark, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two triangles joined by a bridge settle into two communities") {
    // triangle {1,2,3} — bridge 3-4 — triangle {4,5,6}. After enough
    // rounds each triangle converges to its minimum label; the bridge
    // endpoints keep their own side's majority.
    val g = edgesDF((1L, 2L), (2L, 3L), (1L, 3L),
                    (3L, 4L),
                    (4L, 5L), (5L, 6L), (4L, 6L))
    val labels = lpa(g, 4)
    assert(labels.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // each triangle is internally uniform
    assert(labels(1L) === labels(2L) && labels(2L) === labels(3L))
    assert(labels(4L) === labels(5L) && labels(5L) === labels(6L))
    assert(labels(1L) !== labels(4L))
  }

  test("round 1 is exactly the neighbor-mode with min tie-break") {
    // star: center 10 with leaves 1,2,3. After one round the center
    // takes the smallest leaf label (all counts tie at 1) and every
    // leaf takes the center's initial label.
    val g = edgesDF((10L, 1L), (10L, 2L), (10L, 3L))
    assert(lpa(g, 1) === Map(10L -> 1L, 1L -> 10L, 2L -> 10L, 3L -> 10L))
  }

  test("result is reproducible across invocations") {
    val g = edgesDF((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
                    (5L, 6L), (6L, 7L), (7L, 5L), (4L, 5L))
    assert(lpa(g, 3) === lpa(g, 3))
  }

  test("rounds must be positive") {
    intercept[IllegalArgumentException] {
      new EdgeGraph(edgesDF((1L, 2L))).labelPropagation(spark, 0)
    }
  }

  test("stronglyConnected: cycle collapses, DAG stays singletons") {
    // directed cycle 1→2→3→1 plus a DAG tail 3→4→5
    val g = edgesDF((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val scc = new EdgeGraph(g).stronglyConnected(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("stronglyConnected matches GraphX at a tight numIter, at every block count") {
    // 5→1→3⇄4: GraphX trims 5 and 1 to a fixpoint before it colours, so
    // 1's colour must never reach 3 and 4. numIter=1 only trims, which
    // leaves the cycles 3⇄4 and 7⇄8 unresolved; the one colouring round
    // of numIter=2 resolves both.
    val es = Seq((5L, 1L), (1L, 3L), (3L, 4L), (4L, 3L), (7L, 8L), (8L, 7L))
    def graphx(numIter: Int): Map[Long, Long] =
      org.apache.spark.graphx.Graph.fromEdgeTuples(spark.sparkContext.parallelize(es), 0)
        .stronglyConnectedComponents(numIter).vertices.collect().toMap
    assert(graphx(1) === Map(5L -> 5L, 1L -> 1L, 3L -> 3L, 4L -> 4L, 7L -> 7L, 8L -> 8L))
    assert(graphx(2) === Map(5L -> 5L, 1L -> 1L, 3L -> 3L, 4L -> 3L, 7L -> 7L, 8L -> 7L))
    for (numIter <- 1 to 3; blocks <- 1 to 4) {
      val got = Superstep.stronglyConnected(spark, edgesDF(es: _*), numIter, blocks).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === graphx(numIter), s"numIter=$numIter blocks=$blocks")
    }
  }
}
