package graft.graph

import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The block loop behind [[PageRank]]: what a call leaves pinned, how
  * many Spark jobs a round costs, and independence of the block count.
  */
class PageRankLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cachedRelations: Int =
    org.apache.spark.sql.graft.CachedRelations.count(spark)

  /** Cached relations and newly persisted RDDs left behind by `run`,
    * once its result has been collected.
    */
  private def leftBehind(run: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val (relations, rdds) = (cachedRelations, sc.getPersistentRDDs.keySet)
    val result = run
    result.collect()
    val left = (cachedRelations - relations,
      (sc.getPersistentRDDs.keySet -- rdds).size)
    assert(result.columns.nonEmpty) // keeps the result reachable until here
    left
  }

  test("what a call leaves pinned does not grow with the pass count") {
    val edges = GraphIO.kChainEdges(spark, 4)
    val calls = Seq[(String, Int => DataFrame)](
      "standard" -> (n => PageRank.standard(edges, n)),
      "standardConverged" -> (n => PageRank.standardConverged(edges, 0.0, n).ranks),
      "compat" -> (n => PageRank.compat(edges, 4, n).state),
      "compatSteps" -> (n => PageRank.compatSteps(
        PageRank.compat(edges, 4, 2), 4, n).state))
    for ((name, call) <- calls) {
      val short = leftBehind(call(3))
      val long = leftBehind(call(12))
      assert(long === short, s"$name: (cached relations, persisted RDDs)")
      assert(short._1 === 0, s"$name caches a relation")
    }
  }

  /** Spark jobs started by `body` on this thread, counted by a listener;
    * a marker job run afterwards proves every earlier event was seen.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, done) = ("pagerank-jobs", "pagerank-jobs-done")
    val jobs = new AtomicInteger
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`done`) => marked = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(done, "marker")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(30.seconds))(assert(marked))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a round is one Spark job") {
    val edges = spark.read.format("kchain").option("k", 30).load()
    val standard = jobsOf(PageRank.standard(edges, 10).collect())
    assert(standard <= 10 + 4, s"standard(iters = 10): $standard jobs")
    val compat = jobsOf(PageRank.compat(edges, 30, 10).state.collect())
    assert(compat <= 10 + 4, s"compat(passes = 10): $compat jobs")
  }

  test("results do not depend on the block count") {
    // non-contiguous ids, a duplicated edge, a dst-only node (424242),
    // a self-loop and the sink 0
    val raw = Seq((10L, 3000000000L), (10L, 3000000000L), (10L, 77L),
      (77L, 10L), (3000000000L, 0L), (77L, 0L), (5L, 10L), (5L, 424242L),
      (99L, 99L), (99L, 5L))
    def at(parts: Int) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val edges = s.createDataFrame(raw).toDF("src", "dst")
      def ranks(df: DataFrame) =
        df.as[(Long, Double)].collect().toMap
      def states(st: PageRank.CompatState) =
        (st.state.select("node", "contrib", "adj").collect()
          .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Long](2))).toMap,
          st.danglingMass)
      val conv = PageRank.standardConverged(edges, 1e-6, 50)
      (ranks(PageRank.standard(edges, 7)), ranks(conv.ranks), conv.iters,
        states(PageRank.compat(edges, 3, 4)),
        states(PageRank.compatSteps(PageRank.compat(edges, 3, 2), 3, 3)))
    }
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    def same(a: Map[Long, Double], b: Map[Long, Double], what: String) = {
      assert(a.keySet === b.keySet, what)
      a.foreach { case (v, x) => assert(close(x, b(v)), s"$what node $v: $x vs ${b(v)}") }
    }
    def sameState(a: (Map[Long, (Double, Seq[Long])], Double),
                  b: (Map[Long, (Double, Seq[Long])], Double), what: String) = {
      same(a._1.map { case (v, s) => v -> s._1 }, b._1.map { case (v, s) => v -> s._1 }, what)
      assert(a._1.map { case (v, s) => v -> s._2 } === b._1.map { case (v, s) => v -> s._2 }, what)
      assert(close(a._2, b._2), s"$what dangling mass")
    }
    val base = at(1)
    assert(base._1.size === 7 && base._4._1.size === 6)
    for (parts <- Seq(4, 7)) {
      val got = at(parts)
      same(got._1, base._1, s"standard at $parts")
      same(got._2, base._2, s"standardConverged at $parts")
      assert(got._3 === base._3, s"standardConverged passes at $parts")
      sameState(got._4, base._4, s"compat at $parts")
      sameState(got._5, base._5, s"compatSteps at $parts")
    }
  }
}
