package graft.graph

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Block-centric superstep driver for `EdgeGraph`'s iterative
  * algorithms ("think like a graph", Tian et al., VLDB 2013; the
  * Pregelix loop, VLDB 2014).
  *
  * Vertices are hash-partitioned into blocks. Each block holds its own
  * vertices plus read-only "ghost" copies of the remote endpoints of
  * its cross-block edges, all in one persisted RDD partition. One
  * superstep is one Spark job: every block applies its inbox to its
  * ghosts, runs the vertex program over its vertices (to a local
  * fixpoint for the monotone programs, one synchronous round for LPA),
  * and sends each vertex whose value changed to the blocks that hold
  * it as a ghost. Only cross-block edges carry messages. For the
  * monotone programs (CC, BFS, k-core and each SCC phase) a superstep
  * sees its remote neighbours as of the previous superstep, as a
  * synchronous round does, and its local ones as of the current
  * superstep, so a phase never takes more supersteps than a
  * synchronous loop takes rounds; how many fewer depends on how the
  * blocks cut the graph.
  *
  * The block count is `EdgeGraph.sizedPartitions` of the edge count.
  * An edge set that fits one block (fewer than 65 536 edge rows) runs
  * in the driver: one Spark job takes the rows, the same `advance`
  * loop runs the program on the one `Topology`, where no message is
  * ever sent (CC, BFS and k-core finish in one superstep, SCC in three
  * per colouring iteration plus a last trim), and the result is a
  * local relation. So is a `shortestPaths` call whose result bound
  * (vertices × landmarks) fits two blocks' rows; a larger one, and
  * every call at an explicit block count, takes the distributed loop.
  * There, every `spark.graphx.pregel.checkpointInterval` (session
  * conf) supersteps the loop state is reliably checkpointed (into
  * `EdgeGraph.ensureCheckpointDir`) so lineage stays bounded; only
  * this multi-block result is a reliable checkpoint. Either way every
  * loop cache is released before returning.
  *
  * Edges arrive as a two-column (src, dst) DataFrame of longs; each
  * program decides which directions it follows. Duplicate edges are
  * collapsed; a self-loop makes a vertex its own neighbour.
  */
private[graph] object Superstep {
  import EdgeGraph.BlockRows

  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          maxIterations: Int = Int.MaxValue, blocks: Int = 0): DataFrame = {
    require(maxIterations >= 1, s"connectedComponents: maxIterations must be >= 1, got $maxIterations")
    run(spark, edges, new MinLabel(maxIterations), "connectedComponents", blocks)
  }

  def shortestPaths(spark: SparkSession, edges: DataFrame, landmarks: Seq[Long],
                    maxDist: Int = Int.MaxValue, blocks: Int = 0): DataFrame =
    run(spark, edges, new HopDistance(landmarks.distinct.toArray, maxDist),
      "shortestPaths", blocks)

  def stronglyConnected(spark: SparkSession, edges: DataFrame,
                        numIter: Int = 20, blocks: Int = 0): DataFrame = {
    require(numIter >= 1, s"stronglyConnected: numIter must be >= 1, got $numIter")
    run(spark, edges, new Colouring(numIter), "stronglyConnected", blocks)
  }

  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
            maxRounds: Int = 50, blocks: Int = 0): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    run(spark, edges, new Peel(k, maxRounds), "kCore", blocks)
  }

  def labelPropagation(spark: SparkSession, edges: DataFrame, rounds: Int,
                       blocks: Int = 0): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    run(spark, edges, new ModeLabel(rounds), "labelPropagation", blocks)
  }

  /** Block of a vertex: the `HashPartitioner` slot of its id. */
  def blockOf(id: Long, blocks: Int): Int = {
    val h = java.lang.Long.hashCode(id) % blocks
    if (h < 0) h + blocks else h
  }

  /** One block's slice of the graph: every distinct edge with at least
    * one endpoint in the block. Index space: `[0, nLocal)` are the
    * block's own vertices, `[nLocal, ids.length)` its ghosts, each
    * range sorted by id. `out(x)`/`in(x)` list x's distinct out- and
    * in-neighbours; a ghost's lists hold only its local neighbours.
    * `mirrors(v)` are the other blocks holding local vertex v as a
    * ghost.
    */
  final class Topology(val ids: Array[Long], val nLocal: Int,
                       val out: Array[Array[Int]], val in: Array[Array[Int]],
                       val mirrors: Array[Array[Int]]) extends Serializable {
    def size: Int = ids.length

    /** Distinct undirected neighbours (out ∪ in). */
    lazy val both: Array[Array[Int]] = Array.tabulate(size)(x => (out(x) ++ in(x)).distinct)

    def ghost(id: Long): Int = java.util.Arrays.binarySearch(ids, nLocal, size, id)
  }

  object Topology {
    def apply(block: Int, blocks: Int, edges: Iterator[(Long, Long)]): Topology = {
      val es = edges.toArray.distinct
      val (local, ghosts) = es.flatMap(e => Array(e._1, e._2)).distinct.sorted
        .partition(blockOf(_, blocks) == block)
      val ids = local ++ ghosts
      val nLocal = local.length
      def index(id: Long): Int =
        if (blockOf(id, blocks) == block) java.util.Arrays.binarySearch(ids, 0, nLocal, id)
        else java.util.Arrays.binarySearch(ids, nLocal, ids.length, id)
      val src = es.map(e => index(e._1))
      val dst = es.map(e => index(e._2))
      val out = group(ids.length, src, dst)
      val in = group(ids.length, dst, src)
      val mirrors = Array.tabulate(nLocal)(v =>
        (out(v) ++ in(v)).filter(_ >= nLocal).map(g => blockOf(ids(g), blocks)).distinct)
      new Topology(ids, nLocal, out, in, mirrors)
    }

    /** Adjacency lists: `to(i)` appended to the list of `from(i)`. */
    private def group(n: Int, from: Array[Int], to: Array[Int]): Array[Array[Int]] = {
      val deg = new Array[Int](n)
      from.foreach(f => deg(f) += 1)
      val lists = Array.tabulate(n)(x => new Array[Int](deg(x)))
      java.util.Arrays.fill(deg, 0)
      for (i <- from.indices) {
        val f = from(i)
        lists(f)(deg(f)) = to(i)
        deg(f) += 1
      }
      lists
    }
  }

  /** Per-superstep totals: messages sent, local values changed, and
    * local vertices the program still counts as live. */
  final case class Stats(messages: Long, changed: Long, live: Long) {
    def +(o: Stats): Stats = Stats(messages + o.messages, changed + o.changed, live + o.live)
  }

  /** A block's values after a superstep (locals and ghosts) and the
    * messages it sends: (target block, (vertex id, value)). */
  final case class Step[V](vals: Array[V], out: Array[(Int, (Long, V))], stats: Stats)

  /** A vertex program. Every vertex, local or ghost, holds a value of
    * type V. Values are replaced, never mutated in place: a superstep
    * starts from a copy of the previous one's array, which stays cached
    * until the new one is materialised.
    */
  abstract class Program[V](implicit val tag: ClassTag[V]) extends Serializable {
    def init(id: Long): V

    /** Applied to every value, local and ghost alike, at a phase's first
      * superstep. Every block applies it identically, so it sends no
      * messages. */
    def begin(phase: Int, id: Long, v: V): V = v

    /** One superstep in one block: update the local entries of `vals`,
      * whose ghosts already carry the inbox. `touched` is every vertex
      * at a phase's first superstep, else the ghosts the inbox changed.
      */
    def run(t: Topology, vals: Array[V], touched: Iterator[Int], phase: Int): Unit

    def same(a: V, b: V): Boolean = a == b

    /** Whether a local value counts toward `Stats.live`. */
    def live(v: V): Boolean = false

    /** The phase of the next superstep, or -1 to stop. */
    def next(superstep: Int, phase: Int, s: Stats): Int

    def columns: Seq[String]

    /** An upper bound on the result rows of `vertices` vertices. */
    def resultRows(vertices: Int): Long = vertices

    /** Result rows of a block: (id, value) of each local vertex. */
    def rows(t: Topology, vals: Array[V]): Iterator[Row] =
      Iterator.range(0, t.nLocal).map(v => Row(t.ids(v), vals(v)))
  }

  /** FIFO of vertex indices; a vertex already queued is not queued twice. */
  private final class Worklist(n: Int) {
    private val q = new Array[Int](math.max(n, 1))
    private val queued = new java.util.BitSet(n)
    private var head = 0
    private var size = 0

    def push(x: Int): Unit = if (!queued.get(x)) {
      queued.set(x)
      q((head + size) % q.length) = x
      size += 1
    }

    def drain(f: Int => Unit): Unit = while (size > 0) {
      val x = q(head)
      head = (head + 1) % q.length
      size -= 1
      queued.clear(x)
      f(x)
    }
  }

  private def run[V](spark: SparkSession, edges: DataFrame, program: Program[V],
                     who: String, blocks: Int): DataFrame = {
    val pairs = edges.rdd.map(r => (r.getLong(0), r.getLong(1))).persist()
    try {
      if (blocks > 0) distributed(spark, pairs, program, who, blocks)
      else edgeRows(pairs) match {
        case Left(rows) => distributed(spark, pairs, program, who, EdgeGraph.sizedPartitions(spark, rows))
        case Right(es) =>
          val t = Topology(0, 1, es)
          // the driver holds at most one block's state and result rows
          if (program.resultRows(t.size) <= 2L * BlockRows) inDriver(spark, program, t)
          else distributed(spark, pairs, program, who, 1)
      }
    } finally pairs.unpersist()
  }

  /** The edge rows of `pairs` when there are fewer than `BlockRows`
    * (Right), else their count (Left), from one Spark job that reads
    * every partition through, so the loop finds `pairs` cached. A
    * partition ships its rows only below its share of the bound (at
    * least 4096), which bounds what a large graph sends the driver;
    * a small edge set spread unevenly past the shares is collected by
    * a second job over the cached rows. */
  private def edgeRows(pairs: RDD[(Long, Long)]): Either[Long, Iterator[(Long, Long)]] = {
    val share = math.max(BlockRows / math.max(pairs.getNumPartitions, 1), 4096)
    val parts = pairs.sparkContext.runJob(pairs, (it: Iterator[(Long, Long)]) => {
      val flat = Array.newBuilder[Long]
      var n = 0L
      it.foreach { case (s, d) =>
        if (n < share) { flat += s; flat += d }
        n += 1
      }
      (n, if (n < share) flat.result() else null)
    })
    val rows = parts.map(_._1).sum
    if (rows >= BlockRows) Left(rows)
    else if (parts.exists(_._2 == null)) Right(pairs.collect().iterator)
    else Right(parts.iterator.flatMap(p => Iterator.range(0, p._2.length, 2).map(i => (p._2(i), p._2(i + 1)))))
  }

  /** Supersteps until the program stops: `step(superstep, phase, fresh)`
    * runs one and returns its totals. */
  private def loop(program: Program[_])(step: (Int, Int, Boolean) => Stats): Unit = {
    var superstep = 0
    var phase = 0
    var fresh = true
    while (phase >= 0) {
      superstep += 1
      val p = phase
      phase = program.next(superstep, p, step(superstep, p, fresh))
      fresh = phase != p
    }
  }

  private def schema(program: Program[_]): StructType =
    StructType(program.columns.map(StructField(_, LongType, nullable = false)))

  /** The loop over one block, in the driver: the block has no ghosts,
    * so it gets no inbox and sends no message, and the result is a
    * local relation (no Spark job, no checkpoint). */
  private def inDriver[V](spark: SparkSession, program: Program[V], t: Topology): DataFrame = {
    implicit val tag: ClassTag[V] = program.tag
    var cur = Step[V](Array.tabulate(t.size)(x => program.init(t.ids(x))), Array.empty, Stats(0, 0, 0))
    loop(program) { (_, phase, fresh) =>
      cur = advance(program, t, cur, Iterator.empty, phase, fresh)
      cur.stats
    }
    spark.createDataFrame(program.rows(t, cur.vals).toList.asJava, schema(program))
  }

  /** The loop over `nb` blocks, one Spark job per superstep; the
    * result is a reliable checkpoint. */
  private def distributed[V](spark: SparkSession, pairs: RDD[(Long, Long)], program: Program[V],
                             who: String, nb: Int): DataFrame = {
    EdgeGraph.ensureCheckpointDir(spark, who)
    val part = new HashPartitioner(nb)
    val topo = pairs
      .flatMap { case e @ (s, d) =>
        val (bs, bd) = (blockOf(s, nb), blockOf(d, nb))
        if (bs == bd) Iterator(bs -> e) else Iterator(bs -> e, bd -> e)
      }
      .partitionBy(part)
      .mapPartitionsWithIndex((b, es) => Iterator(Topology(b, nb, es.map(_._2))),
        preservesPartitioning = true)
      .persist()
    val interval = spark.conf.get("spark.graphx.pregel.checkpointInterval", "-1").toInt
    var cur: RDD[Step[V]] = topo.mapPartitions(_.map { t =>
      implicit val tag: ClassTag[V] = program.tag
      Step(Array.tabulate(t.size)(x => program.init(t.ids(x))), Array.empty, Stats(0, 0, 0))
    }, preservesPartitioning = true)
    try {
      loop(program) { (superstep, phase, fresh) =>
        val prev = cur
        val inbox = prev.flatMap(_.out).partitionBy(part)
        cur = topo.zipPartitions(prev, inbox, preservesPartitioning = true) {
          (ts, ss, msgs) => Iterator(advance(program, ts.next(), ss.next(), msgs.map(_._2), phase, fresh))
        }.persist()
        if (interval > 0 && superstep % interval == 0) cur.checkpoint()
        // prev is released whether or not the job succeeds; cur by the finally below
        val stats = try cur.map(_.stats).reduce(_ + _) finally prev.unpersist()
        if (superstep == 1) pairs.unpersist()
        stats
      }
      val rows = topo.zipPartitions(cur, preservesPartitioning = true) {
        (ts, ss) => program.rows(ts.next(), ss.next().vals)
      }
      spark.createDataFrame(rows, schema(program)).checkpoint()
    } finally {
      topo.unpersist()
      cur.unpersist()
    }
  }

  private def advance[V](program: Program[V], t: Topology, prev: Step[V],
                         inbox: Iterator[(Long, V)], phase: Int, fresh: Boolean): Step[V] = {
    val vals = prev.vals.clone()
    if (fresh) for (x <- vals.indices) vals(x) = program.begin(phase, t.ids(x), vals(x))
    val base = if (fresh) vals.clone() else prev.vals
    val touched = ArrayBuffer.empty[Int]
    inbox.foreach { case (id, v) =>
      val g = t.ghost(id)
      if (!program.same(vals(g), v)) {
        vals(g) = v
        touched += g
      }
    }
    program.run(t, vals, if (fresh) Iterator.range(0, t.size) else touched.iterator, phase)
    val out = ArrayBuffer.empty[(Int, (Long, V))]
    var changed = 0L
    var live = 0L
    for (v <- 0 until t.nLocal) {
      if (!program.same(vals(v), base(v))) {
        changed += 1
        t.mirrors(v).foreach(b => out += (b -> (t.ids(v) -> vals(v))))
      }
      if (program.live(vals(v))) live += 1
    }
    Step(vals, out.toArray, Stats(out.length.toLong, changed, live))
  }

  /** Connected components: every vertex takes the smallest label among
    * its undirected neighbours, to a fixpoint. */
  private final class MinLabel(maxSupersteps: Int) extends Program[Long] {
    def init(id: Long): Long = id

    def run(t: Topology, vals: Array[Long], touched: Iterator[Int], phase: Int): Unit = {
      val work = new Worklist(t.size)
      touched.foreach(work.push)
      work.drain { x =>
        val l = vals(x)
        for (w <- t.both(x) if w < t.nLocal && l < vals(w)) {
          vals(w) = l
          work.push(w)
        }
      }
    }

    def next(superstep: Int, phase: Int, s: Stats): Int =
      if (s.messages == 0 || superstep >= maxSupersteps) -1 else 0

    def columns: Seq[String] = Seq("node", "comp")
  }

  /** Hop distance from each vertex to each landmark along edge
    * direction (a vertex learns its distance from its out-neighbours),
    * never propagated past `maxDist`. A value is the distance per
    * landmark index, `Int.MaxValue` where unknown. */
  private final class HopDistance(landmarks: Array[Long], maxDist: Int)
      extends Program[Array[Int]] {
    private val slot = landmarks.zipWithIndex.toMap

    def init(id: Long): Array[Int] = {
      val d = Array.fill(landmarks.length)(Int.MaxValue)
      slot.get(id).foreach(d(_) = 0)
      d
    }

    override def same(a: Array[Int], b: Array[Int]): Boolean = java.util.Arrays.equals(a, b)

    def run(t: Topology, vals: Array[Array[Int]], touched: Iterator[Int], phase: Int): Unit = {
      val work = new Worklist(t.size)
      touched.foreach(work.push)
      work.drain { x =>
        val dx = vals(x)
        for (u <- t.in(x) if u < t.nLocal) {
          var du = vals(u)
          for (l <- dx.indices if dx(l) < maxDist && dx(l) + 1 < du(l)) {
            if (du eq vals(u)) du = du.clone()
            du(l) = dx(l) + 1
          }
          if (du ne vals(u)) {
            vals(u) = du
            work.push(u)
          }
        }
      }
    }

    def next(superstep: Int, phase: Int, s: Stats): Int = if (s.messages == 0) -1 else 0

    def columns: Seq[String] = Seq("node", "landmark", "dist")

    override def resultRows(vertices: Int): Long = vertices.toLong * landmarks.length

    override def rows(t: Topology, vals: Array[Array[Int]]): Iterator[Row] =
      for {
        v <- Iterator.range(0, t.nLocal)
        l <- landmarks.indices.iterator
        d = vals(v)(l) if d != Int.MaxValue && d <= maxDist
      } yield Row(t.ids(v), landmarks(l), d.toLong)
  }

  /** k-core by peeling: a vertex with fewer than k live undirected
    * neighbours dies, to a fixpoint. A value is "alive". */
  private final class Peel(k: Int, maxSupersteps: Int) extends Program[Boolean] {
    def init(id: Long): Boolean = true

    private def degrees(t: Topology, vals: Array[Boolean]): Array[Int] =
      Array.tabulate(t.nLocal)(v => t.both(v).count(vals(_)))

    def run(t: Topology, vals: Array[Boolean], touched: Iterator[Int], phase: Int): Unit = {
      val deg = degrees(t, vals)
      val work = new Worklist(t.nLocal)
      for (v <- 0 until t.nLocal if vals(v) && deg(v) < k) work.push(v)
      work.drain { v =>
        vals(v) = false
        for (w <- t.both(v) if w < t.nLocal && vals(w)) {
          deg(w) -= 1
          if (deg(w) < k) work.push(w)
        }
      }
    }

    def next(superstep: Int, phase: Int, s: Stats): Int =
      if (s.messages == 0) -1
      else if (superstep >= maxSupersteps)
        throw new IllegalStateException(
          s"kCore: peel did not converge within $maxSupersteps supersteps " +
            s"(${s.changed} vertices still peeling); raise maxRounds")
      else 0

    def columns: Seq[String] = Seq("node", "deg")

    override def rows(t: Topology, vals: Array[Boolean]): Iterator[Row] = {
      val deg = degrees(t, vals)
      Iterator.range(0, t.nLocal).filter(vals(_)).map(v => Row(t.ids(v), deg(v).toLong))
    }
  }

  /** Synchronous label propagation, one round per superstep: every
    * vertex adopts the most frequent label among its undirected
    * neighbours, ties toward the smallest label. Stops after `rounds`
    * rounds, or earlier once a round changes nothing. */
  private final class ModeLabel(rounds: Int) extends Program[Long] {
    def init(id: Long): Long = id

    def run(t: Topology, vals: Array[Long], touched: Iterator[Int], phase: Int): Unit = {
      val labels = Array.tabulate(t.nLocal) { v =>
        val ls = t.both(v).map(vals(_)).sorted
        var (best, bestN, i) = (ls(0), 0, 0)
        while (i < ls.length) {
          var j = i
          while (j < ls.length && ls(j) == ls(i)) j += 1
          if (j - i > bestN) { best = ls(i); bestN = j - i }
          i = j
        }
        best
      }
      Array.copy(labels, 0, vals, 0, t.nLocal)
    }

    def next(superstep: Int, phase: Int, s: Stats): Int =
      if (superstep >= rounds || s.changed == 0) -1 else 0

    def columns: Seq[String] = Seq("node", "label")
  }

  /** A strongly-connected-components vertex: its colour and state. A
    * dead vertex's colour is its component id. */
  private final case class Scc(colour: Long, state: Int)
  private final val Alive = 0
  private final val Final = 1
  private final val Dead = 2

  /** Strongly connected components by forward-backward colouring, the
    * GraphX algorithm with its `numIter` semantics. Iteration i
    * (1-based) runs phases 3(i-1) to 3(i-1)+2, each to a global
    * fixpoint before the next starts:
    *  - trim: retire the previous iteration's final vertices, with
    *    their colour as the component id, then repeatedly retire live
    *    vertices with no live in- or out-neighbour (singletons);
    *  - forward (only while i < numIter): each live vertex takes the
    *    smallest id among its live ancestors as its colour;
    *  - backward: a root (colour = own id) is final, and so is every
    *    live vertex with a final out-neighbour of its own colour.
    * The loop stops after a trim when no vertex is live or i = numIter;
    * a vertex still live keeps its own id.
    */
  private final class Colouring(numIter: Int) extends Program[Scc] {
    def init(id: Long): Scc = Scc(id, Alive)

    override def begin(phase: Int, id: Long, v: Scc): Scc = (phase % 3, v.state) match {
      case (0, Final) => Scc(v.colour, Dead)
      case (1, Alive) => Scc(id, Alive)
      case _ => v
    }

    override def live(v: Scc): Boolean = v.state == Alive

    def run(t: Topology, vals: Array[Scc], touched: Iterator[Int], phase: Int): Unit =
      phase % 3 match {
        case 0 => trim(t, vals)
        case 1 => forward(t, vals, touched)
        case _ => backward(t, vals, touched)
      }

    private def trim(t: Topology, vals: Array[Scc]): Unit = {
      val n = t.nLocal
      def alive(x: Int) = vals(x).state == Alive
      val indeg = Array.tabulate(n)(v => t.in(v).count(alive))
      val outdeg = Array.tabulate(n)(v => t.out(v).count(alive))
      val work = new Worklist(n)
      for (v <- 0 until n if alive(v) && (indeg(v) == 0 || outdeg(v) == 0)) work.push(v)
      work.drain { v =>
        if (alive(v)) {
          vals(v) = Scc(t.ids(v), Dead)
          for (w <- t.out(v) if w < n && alive(w)) {
            indeg(w) -= 1
            if (indeg(w) == 0) work.push(w)
          }
          for (w <- t.in(v) if w < n && alive(w)) {
            outdeg(w) -= 1
            if (outdeg(w) == 0) work.push(w)
          }
        }
      }
    }

    private def forward(t: Topology, vals: Array[Scc], touched: Iterator[Int]): Unit = {
      val n = t.nLocal
      val work = new Worklist(t.size)
      touched.foreach(work.push)
      work.drain { x =>
        if (vals(x).state == Alive) {
          val c = vals(x).colour
          for (w <- t.out(x) if w < n && vals(w).state == Alive && c < vals(w).colour) {
            vals(w) = Scc(c, Alive)
            work.push(w)
          }
        }
      }
    }

    private def backward(t: Topology, vals: Array[Scc], touched: Iterator[Int]): Unit = {
      val n = t.nLocal
      def isFinal(x: Int) = vals(x).state == Final ||
        (vals(x).state == Alive && vals(x).colour == t.ids(x))
      val work = new Worklist(t.size)
      touched.foreach(work.push)
      work.drain { x =>
        if (isFinal(x)) {
          val c = vals(x).colour
          if (x < n) vals(x) = Scc(c, Final)
          for (u <- t.in(x) if u < n && vals(u).state == Alive && vals(u).colour == c) {
            vals(u) = Scc(c, Final)
            work.push(u)
          }
        }
      }
    }

    def next(superstep: Int, phase: Int, s: Stats): Int =
      if (s.messages > 0) phase
      else if (phase % 3 == 0 && (s.live == 0 || phase / 3 + 1 >= numIter)) -1
      else phase + 1

    def columns: Seq[String] = Seq("node", "scc")

    override def rows(t: Topology, vals: Array[Scc]): Iterator[Row] =
      Iterator.range(0, t.nLocal).map { v =>
        Row(t.ids(v), if (vals(v).state == Alive) t.ids(v) else vals(v).colour)
      }
  }
}
