package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-insensitive 64-bit content hash of a result: the wrapping sum of
  * a 64-bit hash per row, so equal multisets of rows hash equal.
  */
object RowHash {
  def apply(rows: Array[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    val vs = r.toSeq
    val hi = MurmurHash3.seqHash(vs).toLong
    val lo = MurmurHash3.orderedHash(vs, 0x2f7e3a9b).toLong & 0xffffffffL
    acc + ((hi << 32) | lo)
  }
}

/** The PageRank operations of the `pagerank` workload and their
  * reference: a plain-Scala power iteration over ONE chain plus the sink.
  * All k chains are identical, so every node at chain position p must
  * carry the reference's value for p, wherever the relabeling put it.
  */
object PageRankOps {
  val Iterations = 10
  val Beta = 0.15
  val Tolerance = 1e-9

  def edges(s: SparkSession, g: Relabel): DataFrame =
    s.read.format("kchain").option("k", g.k)
      .option("numPartitions", s.sparkContext.defaultParallelism).load()
      .select(g.column("src").as("src"), g.column("dst").as("dst"))

  def apply(g: Relabel, iterations: Int = Iterations): Seq[Op] = {
    @volatile var dangling = Double.NaN
    Seq(
      Op("pagerank.standard",
        s => graft.graph.PageRank.standard(edges(s, g), iterations),
        Some(rows => checkStandard(g, rows)), iterations),
      Op("pagerank.compat", { s =>
        val st = graft.graph.PageRank.compat(edges(s, g), g.k, iterations)
        dangling = st.danglingMass
        st.state
      }, Some(rows => checkCompat(g, rows, dangling)), iterations))
  }

  /** The GraphX implementation of standard PageRank, checked against the
    * same reference. A one-shot record, not a benchmark workload.
    */
  def graphx(g: Relabel, iterations: Int = Iterations): Seq[Op] = Seq(
    Op("graphx.standard",
      s => graft.graph.PageRankGraphX.standard(edges(s, g), iterations),
      Some(rows => checkStandard(g, rows, iterations)), iterations))

  /** The untimed warm-up: the loop's plans on a small graph, for enough
    * iterations to pass one lineage checkpoint.
    */
  val WarmUpK = 30L
  val WarmUpIterations = 5
  def warmUp(seed: Long): Seq[Op] = apply(Relabel(WarmUpK, seed), WarmUpIterations)

  /** Standard ranks by chain position 1..k, then the sink (index 0). */
  def referenceStandard(k: Long, iterations: Int = Iterations): Array[Double] = {
    val n = (k * k + 1).toDouble
    var r = Array.fill(k.toInt + 1)(1.0 / n)
    for (_ <- 1 to iterations) {
      val d = r(0)
      val next = new Array[Double](k.toInt + 1)
      next(0) = Beta / n + (1 - Beta) * (k * r(k.toInt) + d / n)
      for (p <- 1 to k.toInt) {
        val in = if (p == 1) 0.0 else r(p - 1)
        next(p) = Beta / n + (1 - Beta) * (in + d / n)
      }
      r = next
    }
    r
  }

  /** Compat contributions by chain position 1..k and the dangling mass. */
  def referenceCompat(k: Long): (Array[Double], Double) = {
    val n = k.toDouble * k.toDouble
    var c = Array.tabulate(k.toInt + 1)(p => if (p <= 1) 0.0 else 1.0 / n)
    var d = k / n
    for (_ <- 2 to Iterations) {
      val rank = c.map(x => (1 - Beta) * (x + d / n) + Beta / n)
      c = Array.tabulate(k.toInt + 1)(p => if (p <= 1) 0.0 else rank(p - 1))
      d = k * rank(k.toInt)
    }
    (c, d)
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tolerance * math.max(math.abs(a), math.abs(b))

  private def position(g: Relabel, node: Long): Int = {
    val orig = g.inverse(node)
    if (orig == 0) 0 else ((orig - 1) % g.k + 1).toInt
  }

  def checkStandard(g: Relabel, rows: Array[Row],
                    iterations: Int = Iterations): Option[String] = {
    val ref = referenceStandard(g.k, iterations)
    if (rows.length != g.n + 1) return Some(s"${rows.length} rows, want ${g.n + 1}")
    val bad = rows.iterator.map(r => (r.getLong(0), r.getDouble(1)))
      .find { case (node, rank) => !close(rank, ref(position(g, node))) }
    val total = rows.iterator.map(_.getDouble(1)).sum
    bad.map { case (node, rank) =>
      s"node $node rank $rank, want ${ref(position(g, node))}"
    }.orElse(if (math.abs(total - 1.0) > 1e-9) Some(s"ranks sum to $total")
      else None)
  }

  def checkCompat(g: Relabel, rows: Array[Row], dangling: Double): Option[String] = {
    val (ref, d) = referenceCompat(g.k)
    if (rows.length != g.n) return Some(s"${rows.length} rows, want ${g.n}")
    if (!close(dangling, d)) return Some(s"dangling mass $dangling, want $d")
    rows.iterator.map { r =>
      val node = r.getLong(0)
      val orig = g.inverse(node)
      val p = position(g, node)
      val succ = if (p == g.k) 0L else g(orig + 1)
      val adj = r.getSeq[Long](2)
      if (node == 0) Some("sink row not diverted")
      else if (!close(r.getDouble(1), ref(p)))
        Some(s"node $node contrib ${r.getDouble(1)}, want ${ref(p)}")
      else if (adj != Seq(succ)) Some(s"node $node adj $adj, want [$succ]")
      else None
    }.collectFirst { case Some(e) => e }
  }

  /** The checks must reject a perturbed rank vector and a perturbed row:
    * run on exact reference rows, then on the same rows with one value
    * moved by one part in a million.
    */
  def selfCheck(): Option[String] = {
    val g = Relabel(5, 7)
    val ref = referenceStandard(g.k)
    val rows = (0L to g.n).map(v => Row(v, ref(position(g, v)))).toArray
    val bumped = rows.updated(3, Row(rows(3).getLong(0), rows(3).getDouble(1) * (1 + 1e-6)))
    val (cref, d) = referenceCompat(g.k)
    val crows = (1L to g.n).map { v =>
      val p = position(g, v)
      Row(v, cref(p), Seq(if (p == g.k) 0L else g(g.inverse(v) + 1)))
    }.toArray
    if (checkStandard(g, rows).nonEmpty) Some("reference ranks rejected")
    else if (checkStandard(g, bumped).isEmpty) Some("perturbed ranks accepted")
    else if (checkCompat(g, crows, d).nonEmpty) Some("reference compat state rejected")
    else if (checkCompat(g, crows, d * (1 + 1e-6)).isEmpty)
      Some("perturbed dangling mass accepted")
    else if (RowHash(rows) == RowHash(bumped)) Some("perturbed row hashes equal")
    else if (RowHash(rows) != RowHash(rows.reverse)) Some("row hash depends on order")
    else None
  }
}
