package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, when}

/** One operation: a call into the engine that returns a DataFrame, which
  * the harness then materializes in full. `check` judges the collected
  * rows; registry results are judged against the DuckDB oracle instead,
  * outside the JVM, so their `check` is None. A write-path operation runs
  * cold, in a session of its own; `buildsLayout` marks one whose build a
  * traced run splits from its read.
  */
final case class Op(name: String, call: SparkSession => DataFrame,
                    check: Option[Array[Row] => Option[String]] = None,
                    iterations: Int = 0, ownSession: Boolean = false,
                    buildsLayout: Boolean = false)

/** A workload: the operations of one run, in the seeded order. */
final case class Workload(name: String, ops: Seq[Op], warmUp: Seq[Op])

object Workloads {
  /** Short read-only batch queries: aggregate, joins (sort-merge, star,
    * range), windows, grouped top-k, text and pipeline operators.
    */
  val queryMix: Seq[String] = Seq("q03", "q05", "q07", "q22", "q24", "q29",
    "q39", "t03", "p05")

  /** The write paths and the reads that use what they wrote: a
    * hive-partitioned layout with partition pruning, a schema-merged
    * write, a stats sidecar with file skipping; and a streaming backfill
    * (windowed aggregation over RocksDB state, checkpoint logs, file
    * sink).
    */
  val versioned: Seq[String] = Seq("q47", "q53", "q55")
  val streams: Seq[String] = Seq("st05")

  /** Registry entries whose name starts with one of `prefixes`. */
  def registry(prefixes: Seq[String], data: String, ownSession: Boolean = false,
               buildsLayout: Boolean = false): Seq[Op] = {
    val reg = graft.SparkEntry.queries
    prefixes.map { p =>
      val hits = reg.keys.filter(_.startsWith(p + "_")).toSeq
      require(hits.size == 1, s"registry prefix $p matches ${hits.sorted}")
      val fn = reg(hits.head)
      Op(hits.head, s => fn(s, data), ownSession = ownSession,
        buildsLayout = buildsLayout)
    }
  }

  /** The read-only mix, then the write paths, each cold in its own session. */
  def registryOps(data: String): Seq[Op] =
    registry(queryMix, data) ++
      registry(versioned, data, ownSession = true, buildsLayout = true) ++
      registry(streams, data, ownSession = true)

  /** The workload `name`; `seed` fixes the order of its operations and,
    * for PageRank, the node labels.
    */
  def apply(name: String, seed: Long, data: String, k: Long): Workload = {
    name match {
      case "pagerank" =>
        Workload(name, PageRankOps(Relabel(k, seed)), PageRankOps.warmUp(seed))
      case "graphx" =>
        Workload(name, PageRankOps.graphx(Relabel(k, seed)),
          PageRankOps.graphx(Relabel(PageRankOps.WarmUpK, seed),
            PageRankOps.WarmUpIterations))
      case "prime" =>
        // no timed runs: the warm-up touches every workload's code once, so
        // the class-data-sharing archive dumped at exit covers them all
        Workload(name, Seq.empty, PageRankOps.warmUp(seed) ++ registryOps(data))
      case "registry" =>
        val order = new scala.util.Random(seed).shuffle(registryOps(data))
        Workload(name, order, order)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** A seeded bijection on node ids 1..k² that keeps the sink 0 fixed:
  * id ↦ ((a·(id−1) + b) mod k²) + 1 with a coprime to k². It changes no
  * work, but a result that leaned on contiguous ids would break.
  */
final case class Relabel(k: Long, seed: Long) {
  val n: Long = k * k
  private val rnd = new scala.util.Random(seed ^ 0x5eed)
  val a: Long = Iterator.continually(1L + rnd.nextLong(n max 2))
    .find(x => BigInt(x).gcd(BigInt(n)) == 1).get
  val b: Long = rnd.nextLong(n max 1)
  private val aInv: Long = BigInt(a).modInverse(BigInt(n max 2)).toLong
  def apply(id: Long): Long = if (id == 0) 0 else
    (BigInt(a) * (id - 1) + b).mod(n).toLong + 1
  def inverse(id: Long): Long = if (id == 0) 0 else
    (BigInt(aInv) * (id - 1 - b)).mod(n).toLong + 1
  /** The same map as a column expression (a·(id−1) fits in a long). */
  def column(c: String): org.apache.spark.sql.Column =
    when(col(c) === 0, lit(0L))
      .otherwise(pmod((col(c) - 1) * lit(a) + lit(b), lit(n)) + 1)
}
