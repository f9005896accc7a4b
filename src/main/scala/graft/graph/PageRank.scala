package graft.graph

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative PageRank, two semantic modes (SURVEY.md §7.1.2):
  *
  *  - '''compat''': the reference's intended semantics
  *    (pageRank_v2.java:32-43,116-223): each node sends its WHOLE rank
  *    to every out-neighbor (no out-degree division — mass-conserving
  *    only on out-degree ≤ 1 graphs like the k-chain fixture), state
  *    column is the raw incoming-contribution sum, the rank-update
  *    formula `(1−β)(c + D/N) + β/N` is applied lazily at the start of
  *    the NEXT pass, N = k², and the dangling sink node 0's row is
  *    diverted into a driver-side scalar (the reference's Hadoop
  *    counter, pageRank_v2.java:216-222) instead of the output.
  *
  *  - '''standard''': textbook PageRank — contributions divided by
  *    out-degree, dangling mass redistributed uniformly every
  *    iteration, every node updated. Correct on arbitrary graphs.
  *
  * Scale notes (SCALE.md, "The PageRank block loop"): all modes share one
  * fixed-plan loop over cached node blocks (hash partitions by node id)
  * with an `Array[Double]` state per block. A round is ONE job of two
  * stages and plans no query; DataFrames exist only at the API boundary.
  * Lineage is truncated with `localCheckpoint` every `checkpointEvery`
  * passes (on a cluster, swap for `checkpoint` with a reliable dir).
  */
object PageRank {

  /** Per-node state after a compat pass + the dangling scalar the
    * reference kept in its DanglingMass counter. */
  final case class CompatState(state: DataFrame, danglingMass: Double) {
    /** The reference's counter encoding: ceil(D·10⁸) as long
      * (pageRank_v2.java:63,218-222, RoundingMode.UP).
      */
    def counterValue: Long =
      new java.math.BigDecimal(String.valueOf(danglingMass))
        .multiply(new java.math.BigDecimal("100000000"))
        .setScale(0, java.math.RoundingMode.UP).longValue()
  }

  /** Compat-mode PageRank. `passes` ≥ 1; pass 1 is the init pass
    * (ranks 1/N seeded from the raw edge list), passes 2..n are
    * iteration passes. Returns state (node, contrib, adj) with the
    * dangling sink's row diverted to `danglingMass`. `onPass` fires
    * after every completed pass (1-based) — the CLI's per-iteration
    * output-dir hook (pageRank_v2.java:96-98); read or write the state
    * inside the callback, the loop releases it afterwards.
    */
  def compat(edges: DataFrame, k: Long, passes: Int, beta: Double = 0.15,
             checkpointEvery: Int = 5,
             onPass: (Int, CompatState) => Unit = (_, _) => ()): CompatState = {
    require(passes >= 1, "compat needs at least the init pass")
    // Init pass (pageRank_v2.java:153-169): every RAW in-edge carries
    // 1/N, duplicates included (later passes use the deduplicated
    // adjacency); every src or dst node forms a group, 0.0 by default.
    val inEdges = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).cast("double").as("x0"))
    val g = new Graph(GraphOps.adjacency(edges).withColumn("x0", lit(0.0))
      .union(inEdges.select(col("node"), noAdj, col("x0"))), beta, Some(k))
    val (init, d1) = g.initial(1.0 / g.n)
    val state1 = CompatState(g.compatFrame(init), d1)
    onPass(1, state1)
    if (passes == 1) state1
    else g.compat(init, d1, passes - 1, checkpointEvery, onPass, 1)
  }

  /** Advance an existing compat state by `steps` iteration passes —
    * the reference's resume-from-prior-output branch
    * (pageRank_v2.java:118-126): state rows come back in via
    * [[GraphIO.readCompatCsv]] and the dangling mass via the counter
    * (here a plain double in [[CompatState.danglingMass]]).
    * `onPass` receives `passOffset + step` so a resumed run's pass
    * numbering can continue the original run's.
    */
  def compatSteps(state0: CompatState, k: Long, steps: Int,
                  beta: Double = 0.15, checkpointEvery: Int = 5,
                  onPass: (Int, CompatState) => Unit = (_, _) => (),
                  passOffset: Int = 0): CompatState =
    if (steps <= 0) state0
    else {
      // Close the node set under contribution targets: a missing target
      // joins with 0.0 and no out-edges, as the reference's outer join.
      val st = state0.state.select(col("node"),
        coalesce(col("adj"), noAdj).as("adj"), col("contrib"))
      val g = new Graph(st.union(st.select(explode(col("adj")), noAdj, lit(0.0))),
        beta, Some(k))
      g.compat(g.initial(1.0)._1, state0.danglingMass, steps, checkpointEvery,
        onPass, passOffset)
    }

  /** Standard PageRank: returns (node, rank) after `iters` iterations.
    * r'(v) = β/N + (1−β)·(Σ_{u→v} r(u)/outdeg(u) + D/N),
    * D = Σ_{dangling u} r(u).
    */
  def standard(edges: DataFrame, iters: Int, beta: Double = 0.15,
               checkpointEvery: Int = 5): DataFrame =
    standardConverged(edges, 0.0, iters, beta, checkpointEvery).ranks

  /** Result of [[standardConverged]]: final ranks, passes actually run,
    * and the last pass's L1 delta Σ_v |r′(v) − r(v)|. */
  final case class Converged(ranks: DataFrame, iters: Int, delta: Double)

  /** Standard PageRank iterated to convergence: stops once the L1 rank
    * delta Σ_v |r′(v) − r(v)| drops below `eps`, or after `maxIters`
    * passes. The reference iterates a fixed trip count
    * (pageRank_v2.java:78-103) because testing convergence under MR costs
    * a whole extra job; here the round's own job returns the delta. At
    * `eps = 0` the stop test (`delta < eps`) never fires: this is
    * [[standard]] (pinned in PageRankSpec).
    */
  def standardConverged(edges: DataFrame, eps: Double, maxIters: Int,
                        beta: Double = 0.15,
                        checkpointEvery: Int = 5): Converged = {
    // Each node with its deduplicated out-neighbors, dst-only ones too.
    val g = new Graph(GraphOps.adjacency(edges).withColumn("x0", lit(0.0))
      .union(GraphOps.nodes(edges).select(col("node"), noAdj, lit(1.0))),
      beta, None)
    val (x0, d0) = g.initial(1.0 / g.n)
    val (x, _, iters, delta) = g.iterate(x0, d0, maxIters, eps, checkpointEvery, 0)()
    Converged(g.rankFrame(x), iters, delta)
  }

  private def noAdj: Column = array().cast("array<long>")

  /** A block's state, aligned to its ids, and its partial sums. */
  private final case class State(x: Array[Double], sink: Double, delta: Double)

  /** One hash partition of the graph, built once and cached: ascending
    * ids, deduplicated adjacency `adj(off(i) until off(i + 1))`, each
    * out-edge's combine slot, the distinct targets per target block
    * (`tgt(q)`, ascending, slots `base(q) until base(q + 1)`), and x0. */
  private final class Block(val ids: Array[Long], val off: Array[Int],
                            val adj: Array[Long], val slot: Array[Int],
                            val tgt: Array[Array[Long]], val base: Array[Int],
                            val x0: Array[Double]) extends Serializable {
    def deg(i: Int): Int = off(i + 1) - off(i)
    /** `x` over the dangling scalar's nodes: no out-edges, compat's 0. */
    def sinkSum(x: Array[Double], compat: Boolean): Double =
      ids.indices.filter(i => if (compat) ids(i) == 0 else deg(i) == 0).map(x(_)).sum
  }

  /** One partition's rows (node, adj, x0) → its block. Rows of a node
    * merge: adjacencies concatenate (at most one is non-empty), x0 adds. */
  private def block(rows: Iterator[(Long, (Array[Long], Double))],
                    part: HashPartitioner): Block = {
    val merged = rows.toSeq.groupMapReduce(_._1)(_._2) {
      case ((a1, x1), (a2, x2)) => (a1 ++ a2, x1 + x2)
    }
    val ids = merged.keys.toArray.sorted
    val adj = ids.flatMap(merged(_)._1)
    val byPart = adj.distinct.sorted.groupBy(part.getPartition)
    val tgt = Array.tabulate(part.numPartitions)(byPart.getOrElse(_, Array.emptyLongArray))
    val base = tgt.scanLeft(0)(_ + _.length)
    val slot = adj.map { t =>
      val q = part.getPartition(t)
      base(q) + java.util.Arrays.binarySearch(tgt(q), t)
    }
    new Block(ids, ids.scanLeft(0)(_ + merged(_)._1.length), adj, slot, tgt,
      base, ids.map(merged(_)._2))
  }

  /** The blocks of `rows` (node, adj, x0), one per shuffle partition;
    * compat with N = k² when `k` is given, else standard with N = the
    * node count. One job builds them and returns N and x0's sink sum. */
  private final class Graph(rows: DataFrame, beta: Double, k: Option[Long]) {
    private val part = new HashPartitioner(
      rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    private val blocks: RDD[Block] = {
      val p = part
      rows.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd
        .map(r => (r.getLong(0), (r.getArray(1).toLongArray(), r.getDouble(2))))
        .partitionBy(p)
        .mapPartitions(it => Iterator(block(it, p)), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    private val (nodes, sink0) = {
      val c = k.isDefined
      val s = blocks.map(b => (b.ids.length.toDouble, b.sinkSum(b.x0, c))).collect()
      (s.map(_._1).sum, s.map(_._2).sum)
    }
    val n: Double = k.fold(nodes)(k => k.toDouble * k.toDouble)

    /** The initial state, x0 scaled, and its dangling scalar. */
    def initial(scale: Double): (RDD[State], Double) =
      (blocks.map(b => State(b.x0.map(_ * scale), 0.0, 0.0)), sink0 * scale)

    /** One round from `x`: the next state, cached (checkpointed when
      * `cp`), with partial sums; one job computes it. */
    private def round(x: RDD[State], d: Double, cp: Boolean): RDD[State] = {
      val (compat, beta, n) = (k.isDefined, this.beta, this.n)
      val msgs = blocks.zipPartitions(x) { (bs, xs) =>
        val (b, s) = (bs.next(), xs.next().x)
        val sums = new Array[Double](b.base.last)
        // compat sends its whole rank, updated lazily from its raw sum
        // (the diverted sink 0 sends nothing); standard rank/out-degree
        for (i <- b.ids.indices if b.deg(i) > 0 && !(compat && b.ids(i) == 0)) {
          val v = if (compat) (1 - beta) * (s(i) + d / n) + beta / n else s(i) / b.deg(i)
          for (e <- b.off(i) until b.off(i + 1)) sums(b.slot(e)) += v
        }
        val src = TaskContext.getPartitionId()
        b.tgt.indices.iterator.filter(b.tgt(_).nonEmpty).map(q => (q,
          (src, b.tgt(q), java.util.Arrays.copyOfRange(sums, b.base(q), b.base(q + 1)))))
      }
      val next = blocks.zipPartitions(msgs.partitionBy(part), x) { (bs, ms, xs) =>
        val (b, prev) = (bs.next(), xs.next().x)
        val sum = new Array[Double](b.ids.length)
        // Target ids arrive ascending, so one merge walk over the block's
        // ids indexes them; sorting by source block fixes the sum order.
        ms.map(_._2).toArray.sortBy(_._1).foreach { case (_, ids, v) =>
          var j = 0
          for (m <- ids.indices) {
            while (b.ids(j) != ids(m)) j += 1
            sum(j) += v(m)
          }
        }
        val y = if (compat) sum else sum.map(c => beta / n + (1 - beta) * (c + d / n))
        Iterator(State(y, b.sinkSum(y, compat),
          y.indices.map(i => math.abs(y(i) - prev(i))).sum))
      }
      if (cp) next.localCheckpoint() else next.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Up to `rounds` rounds from `x0`, dangling scalar `d0`, until
      * `delta < eps`; `each(pass, state, d)` follows every round. A state
      * is released once its successor is materialized, except the newest
      * checkpoint (the lineage root; the last of `rounds` is one).
      * Returns (state, d, rounds run, delta). */
    def iterate(x0: RDD[State], d0: Double, rounds: Int,
                eps: Double, checkpointEvery: Int, passOffset: Int)(
                each: (Int, RDD[State], Double) => Unit = (_, _, _) => ()
              ): (RDD[State], Double, Int, Double) = {
      var (x, d, delta, i) = (x0, d0, Double.PositiveInfinity, 0)
      var root: RDD[State] = null
      while (i < rounds && !(delta < eps)) {
        val cp = (passOffset + i + 1) % checkpointEvery == 0 || i + 1 == rounds
        val next = round(x, d, cp)
        val s = next.map(st => (st.sink, st.delta)).collect()
        d = s.map(_._1).sum
        delta = s.map(_._2).sum
        if (cp) { if (root != null) root.unpersist(false); root = next }
        if (x ne root) x.unpersist(false)
        x = next
        i += 1
        each(passOffset + i, x, d)
      }
      (x, d, i, delta)
    }

    /** `rounds` compat passes numbered from `passOffset + 1`. */
    def compat(x0: RDD[State], d0: Double, rounds: Int, checkpointEvery: Int,
               onPass: (Int, CompatState) => Unit, passOffset: Int): CompatState = {
      val (x, d, _, _) = iterate(x0, d0, rounds, 0.0, checkpointEvery,
        passOffset)((pass, x, d) => onPass(pass, CompatState(compatFrame(x), d)))
      CompatState(compatFrame(x), d)
    }

    def rankFrame(x: RDD[State]): DataFrame =
      rows.sparkSession.createDataFrame(blocks.zipPartitions(x) { (bs, xs) =>
        bs.next().ids.iterator.zip(xs.next().x.iterator)
      }).toDF("node", "rank")

    /** The compat state (node, contrib, adj), sink row diverted. */
    def compatFrame(x: RDD[State]): DataFrame =
      rows.sparkSession.createDataFrame(blocks.zipPartitions(x) { (bs, xs) =>
        val (b, s) = (bs.next(), xs.next().x)
        b.ids.indices.iterator.filter(b.ids(_) != 0)
          .map(i => (b.ids(i), s(i), b.adj.slice(b.off(i), b.off(i + 1))))
      }).toDF("node", "contrib", "adj")
  }
}
