package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph interface over a (src, dst [, edge attrs...]) DataFrame —
  * the Spark form of the reference's graph family: `dictGraph`
  * (pygr `mapping.py:92-235`), `SQLGraph` over a 3-column table
  * (`sqlgraph.py:1391-1554`), FK graphs (`sqlgraph.py:1729-1882`).
  * SURVEY.md §2.3 J4/J9.
  *
  * Node ids are caller-chosen (string-prefix heterogeneous ids or
  * disjoint long ranges); the graph analytics require long ids.
  *
  * The iterative analytics (connected components, shortest paths,
  * strongly connected components, k-core, label propagation) all run
  * on one block-local superstep loop, `Superstep`: about one Spark job
  * per superstep. A graph under 65 536 edges fits one block and runs
  * in the driver after one Spark job that takes its edges; its result
  * is a local relation. Only a multi-block result is a reliable
  * checkpoint. None leaves a cached RDD behind. Only `triangleCounts`
  * uses GraphX.
  */
object EdgeGraph {
  def load(spark: SparkSession, path: String,
           src: String = "src", dst: String = "dst"): EdgeGraph =
    new EdgeGraph(spark.read.parquet(path), src, dst)

  /** Partition count for an iteration over `rows` edges: ~64k rows
    * per partition, capped at the session's
    * `spark.sql.shuffle.partitions`. An iteration pins its partitioning
    * for every round, so AQE's post-shuffle coalescing never gets to
    * fix it, and a small graph at the session's cluster-sized width
    * pays (rounds × partitions) near-empty tasks per query: pure
    * scheduler and GC churn (g7 at sf0.1: ~1000 tasks, 15.2 s task
    * time for 3.2 s CPU, 1.1 s GC, measured). On a big graph the cap
    * leaves the session value in charge, which is the at-scale
    * behaviour. `Superstep` takes its block count from here; same
    * right-size-the-loop contract as `StreamOps.replaySized`.
    */
  private[graph] def sizedPartitions(spark: SparkSession, rows: Long): Int = {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(width, rows / BlockRows + 1L)).toInt
  }

  /** Edge rows per partition of `sizedPartitions`: fewer edges than
    * this are one block, whatever the session width. */
  private[graph] val BlockRows = 65536

  /** Ensure a checkpoint dir exists for iterative algorithms. A
    * driver-local tmpdir is only a valid checkpoint target in local
    * mode; on a real cluster Spark requires a shared (e.g.
    * HDFS/object-store) directory — require one via
    * spark.graft.checkpointDir rather than checkpoint somewhere
    * executors can't read.
    */
  private[graph] def ensureCheckpointDir(spark: SparkSession, who: String): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val configured = sc.getConf.getOption("spark.graft.checkpointDir")
      val dir = configured.getOrElse {
        require(sc.isLocal,
          s"$who needs a cluster-visible checkpoint dir: " +
            "set spark.graft.checkpointDir (or SparkContext.setCheckpointDir) " +
            "to a shared filesystem path")
        // local mode: prefer tmpfs — iterative-algorithm checkpoints
        // are small (superstep loop state) but fsync per round, so on a
        // contended disk they dominate round latency (r7 driver run:
        // g6 10.9 s vs 2 s clean); removed at JVM exit
        val local = s"${graft.tools.Scratch.fastLocalBase}/graft_ckpt_${sc.applicationId}"
        graft.tools.Scratch.removeAtExit(local)
        local
      }
      sc.setCheckpointDir(dir)
    }
  }
}

class EdgeGraph(val edges: DataFrame, src: String = "src", dst: String = "dst") {

  /** g[node] → {target: edgeInfo} (pygr `mapping.py:137-195`). */
  def adjacency(node: Any): DataFrame =
    edges.filter(col(src) === lit(node))

  /** Inverse graph = alias swap (pygr `sqlgraph.py:1466-1480`). */
  def inverse: EdgeGraph = {
    val others = edges.columns.filterNot(c => c == src || c == dst).map(col)
    new EdgeGraph(
      edges.select(Seq(col(dst).as(src), col(src).as(dst)) ++ others: _*), src, dst)
  }

  /** Out-degree per source node. */
  def outDegrees: DataFrame =
    edges.groupBy(col(src).as("node")).agg(count(lit(1)).as("out_deg"))

  /** Undirected edge set (both directions, deduped). */
  def undirected: DataFrame = {
    val e = edges.select(col(src), col(dst))
    e.union(e.select(col(dst).as(src), col(src).as(dst))).distinct()
  }

  /** Read-mostly mutation (pygr's `g[n][t]=e` / `+=` surface,
    * `mapping.py:92-235`, re-expressed for immutable storage,
    * SURVEY.md §7.4): append edges → a NEW graph snapshot; persist
    * writes the snapshot for `load`.
    */
  def append(more: DataFrame): EdgeGraph =
    new EdgeGraph(edges.unionByName(more, allowMissingColumns = true), src, dst)

  def save(path: String): Unit =
    edges.write.mode("overwrite").parquet(path)

  /** The edges as the (src, dst) long pairs `Superstep` iterates over. */
  private def longPairs: DataFrame =
    edges.select(col(src).cast("long"), col(dst).cast("long"))

  /** Connected components: returns (node, comp) where comp is the
    * smallest vertex id in the (undirected) component, by min-label
    * propagation to a fixpoint. `maxIterations` bounds supersteps on
    * pathological graphs (diameter ≈ N chains); a truncated run
    * returns a coarser labeling. Requires long ids.
    */
  def connectedComponents(spark: SparkSession,
                          maxIterations: Int = Int.MaxValue): DataFrame =
    Superstep.connectedComponents(spark, longPairs, maxIterations)

  /** Per-node triangle participation counts via GraphX TriangleCount.
    * Edges are canonicalized (src<dst, self-loops dropped, deduped)
    * first — TriangleCount requires canonical direction — and
    * vertex-cut partitioned as its neighbor-set intersection expects.
    * Requires long ids. Exact integer counts, so the result is
    * engine-deterministic despite the distributed intersection order.
    */
  def triangleCounts(spark: SparkSession): DataFrame = {
    import org.apache.spark.graphx.{Graph => XGraph, PartitionStrategy}
    val pairs = edges
      .select(col(src).cast("long").as("s"), col(dst).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val tc = XGraph.fromEdgeTuples(pairs, defaultValue = 1)
      .partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices
    spark.createDataFrame(tc).toDF("node", "n_tri")
      .select(col("node"), col("n_tri").cast("long").as("n_triangles"))
  }

  /** Hop distances from a set of landmark nodes (BFS) — the
    * multi-source traversal query of the reference's graph surface
    * (pygr `graphquery.py` walks / `mapping.py` BFS-ish iteration),
    * in its scalable form: messages only along cross-block edges, no
    * all-pairs anything. Distances follow edge direction (node → … →
    * landmark, the GraphX ShortestPaths convention); pass `undirected`
    * edges for the symmetric metric. Results are exact integer hop
    * counts — deterministic regardless of message order. No distance
    * is propagated past `maxDist`, so the cap bounds the work on a
    * high-diameter graph and keeps vertex state at |landmarks| entries.
    *
    * Returns (node, landmark, dist) for every reachable pair with
    * dist <= maxDist.
    */
  def shortestPaths(spark: SparkSession, landmarks: Seq[Long],
                    maxDist: Int = Int.MaxValue): DataFrame =
    Superstep.shortestPaths(spark, longPairs, landmarks, maxDist)

  /** Strongly connected components (directed reachability
    * equivalence — the directed twin of connectedComponents) by
    * forward-backward colouring with trimming, GraphX's algorithm:
    * returns (node, scc) with scc = the smallest vertex id in the
    * component; acyclic nodes are singletons. `numIter` bounds the
    * iterations as in GraphX (each trims, all but the last also
    * colour) — size it above the depth of the component DAG
    * (the oracle gate catches an undersized bound as a wrong result,
    * not a hang); an unresolved node keeps its own id.
    */
  def stronglyConnected(spark: SparkSession, numIter: Int = 20): DataFrame =
    Superstep.stronglyConnected(spark, longPairs, numIter)

  /** Community detection by label propagation (Raghavan et al. 2007)
    * in its deterministic synchronous form: every node starts with its
    * own id as label; each round, every node simultaneously adopts the
    * most frequent label among its (undirected, deduplicated)
    * neighbors, ties broken toward the smallest label; a self-loop
    * makes a node its own neighbor. `rounds` is fixed by the caller —
    * LPA has no monotone convergence guarantee (synchronous updates
    * can 2-cycle on bipartite structures), so a pinned round count is
    * the reproducible contract, matching how the reference iterates
    * its graph updates a fixed number of steps. One round is one
    * superstep; a round that changes no label ends the loop early,
    * since every later round would repeat it.
    *
    * Returns (node, label). Requires long ids.
    */
  def labelPropagation(spark: SparkSession, rounds: Int): DataFrame =
    Superstep.labelPropagation(spark, longPairs, rounds)

  /** k-core: the maximal induced subgraph in which every node has
    * undirected degree >= k (a self-loop counts once), by peeling
    * nodes of lower degree to a fixpoint (Matula–Beck 1983). Returns
    * (node, deg) for core members with their degree INSIDE the core.
    * Each block peels to its local fixpoint within a superstep, so the
    * superstep count is at most the synchronous peel depth.
    *
    * Throws if `maxRounds` supersteps end before the peel reaches its
    * fixpoint — a truncated peel is NOT a k-core, so fail loudly
    * rather than return a superset.
    */
  def kCore(spark: SparkSession, k: Int, maxRounds: Int = 50): DataFrame =
    Superstep.kCore(spark, longPairs, k, maxRounds)
}
