package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The measuring process behind `perfbench/run.py`: one JVM, one client in
  * a closed loop. It sets the session up, then runs the workload again
  * and again, each run in a fresh session with fresh scratch roots, until
  * the time is up, and writes what it saw as JSON.
  * `run.py` checks registry results against the DuckDB oracle and turns
  * the record into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <data dir>
  *             <work dir> <out file> <k>
  */
object Main {
  /** A traced process alternates traced and untraced runs, at least one of
    * each, so their difference is the tracing overhead. It starts traced:
    * what warm-up drift remains then inflates the overhead, never hides it.
    */
  val TracedPattern = Seq(true, false)

  final case class OpRecord(run: Int, name: String, callS: Double,
                            materializeS: Double, error: Option[String],
                            work: Map[String, Double] = Map.empty) {
    def totalS: Double = callS + materializeS
  }

  final case class Result(rows: Array[Row], schema: StructType)
  object Result { val empty: Result = Result(Array.empty, new StructType()) }

  final case class RunRecord(index: Int, traced: Boolean, wallS: Double,
                             counters: Map[String, Double],
                             extra: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, out, kS) = args
    val traceMode = traceS == "1"
    val epoch = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(epoch)
    val host = Host.annotate()
    val selfCheck = PageRankOps.selfCheck()
    val w = Workloads(workload, seedS.toLong, data, kS.toLong)

    // Set-up, from process start until the first timed run can begin:
    // the session build, then one untimed pass of the workload's own
    // operations, so that timed runs see loaded classes and compiled code.
    val t0 = epoch * 1000000L - wallToNano()
    val spark = Posture.session(work)
    val meter = new Meter(tracer)
    spark.sparkContext.addSparkListener(meter)
    val t1 = System.nanoTime()
    val warm = spark.newSession()
    warm.conf.set("graft.layout.root", new File(work, "warmup/layout").getAbsolutePath)
    warm.conf.set("graft.stream.root", new File(work, "warmup/stream").getAbsolutePath)
    w.warmUp.foreach(op => op.call(warm).collect())
    graft.queries.SharedRelations.evict(warm)
    deleteTree(new File(work, "warmup"))
    val t2 = System.nanoTime()
    val setup = Map("session.start_s" -> (t1 - t0) / 1e9,
      "session.warmup_s" -> (t2 - t1) / 1e9, "setup_s" -> (t2 - t0) / 1e9)
    if (w.ops.isEmpty) { spark.stop(); return }
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val runs = mutable.ArrayBuffer.empty[RunRecord]
    val firstHash = mutable.Map.empty[String, (Long, Long)]
    val dumps = mutable.LinkedHashMap.empty[String, Result]
    // (run, operation or "*" for the whole run, reason)
    val failures = mutable.ArrayBuffer.empty[(Int, String, String)]
    val guardBase = mutable.Map.empty[Boolean, Map[String, Double]]
    val scratch = new File(work, "scratch")

    def freshSession(dir: File): SparkSession = {
      val s = spark.newSession()
      s.conf.set("graft.layout.root", new File(dir, "layout").getAbsolutePath)
      s.conf.set("graft.stream.root", new File(dir, "stream").getAbsolutePath)
      meter.register(s)
      s
    }
    def release(s: SparkSession): Unit = {
      graft.queries.SharedRelations.evict(s)
      s.catalog.clearCache()
    }

    val budgetNs = (secondsS.toDouble * 1e9).toLong
    var measuredNs = 0L
    var index = 0
    var lastNs = 0L
    while (index < (if (traceMode) TracedPattern.size else 1) ||
           measuredNs + lastNs <= budgetNs) {
      val traced = traceMode && TracedPattern(index % TracedPattern.size)
      val runDir = new File(scratch, s"run$index")
      deleteTree(runDir)
      meter.reset()
      meter.tracing = traced
      meter.runId = index
      val runSpan = tracer.nextId()
      val session = freshSession(runDir)
      val collected = mutable.ArrayBuffer.empty[(Op, Result)]
      val layouts = mutable.ArrayBuffer.empty[(Op, SparkSession)]
      var streamOpS = 0.0
      val t0 = System.nanoTime()
      val spanStart = tracer.now()
      w.ops.zipWithIndex.foreach { case (op, i) =>
        val opSession =
          if (op.ownSession) freshSession(new File(runDir, s"op$i")) else session
        // a traced run also attributes the guarded counts to each operation
        val before = if (traced) workCounts(sc, meter) else Map.empty[String, Double]
        val (rec0, res) = runOp(opSession, meter, tracer, index, runSpan, traced, op)
        val rec = if (!traced) rec0 else {
          val after = workCounts(sc, meter)
          rec0.copy(work = after.map { case (k, v) => k -> (v - before(k)) })
        }
        ops += rec
        if (op.name.startsWith("st")) streamOpS += rec.totalS
        rec.error.foreach(e => failures += ((index, op.name, e)))
        if (rec.error.isEmpty) collected += op -> res
        if (traced && op.buildsLayout && rec.error.isEmpty) layouts += op -> opSession
        else if (op.ownSession) release(opSession)
      }
      val wallNs = System.nanoTime() - t0
      if (traced) tracer.add(Span(index, runSpan, 0, "run", w.name, spanStart, tracer.now()))
      org.apache.spark.graftbench.Bus.drain(sc)
      val counters = meter.snapshot()
      // After the snapshot, a traced run calls each layout entry again,
      // warm, in the session that built it: cold minus warm is the build,
      // warm is the read.
      var buildS = 0.0
      var readS = 0.0
      layouts.foreach { case (op, s) =>
        val cold = ops.find(o => o.run == index && o.name == op.name).get
        val (warm, _) = runOp(s, meter, tracer, index, runSpan, traced = false, op)
        buildS += cold.totalS - warm.totalS
        readS += warm.totalS
        release(s)
      }
      release(session)
      val filesWritten = countFiles(runDir)
      deleteTree(runDir)

      // Untimed checks: own reference for PageRank, content hashes for
      // registry entries (the first result of each goes to the oracle).
      collected.foreach { case (op, Result(rows, _)) =>
        val err = op.check match {
          case Some(check) => check(rows)
          case None =>
            val h = (RowHash(rows), rows.length.toLong)
            val first = firstHash.getOrElseUpdate(op.name, h)
            if (first != h) Some(s"result (hash, rows) $h differs from the first run's $first")
            else None
        }
        err.foreach(e => failures += ((index, op.name, e)))
      }
      recordDumps(collected.toSeq, dumps)
      collected.clear()

      // Work-equality guard: the deterministic counts of every run must
      // equal the first run's; a difference means a memo hit or reuse.
      val mine = Guarded.map(k => k -> counters(k)).toMap
      val base = guardBase.getOrElseUpdate(traced, mine)
      if (base != mine)
        failures += ((index, "*", s"work differs from the first run: $mine vs $base"))

      val iterations = w.ops.map(_.iterations).sum
      runs += RunRecord(index, traced, wallNs / 1e9, counters, Map(
        "files_written" -> filesWritten.toDouble,
        "stream_op_s" -> streamOpS,
        "build_s" -> buildS, "read_s" -> readS,
        "iterations" -> iterations.toDouble, "cores" -> cores.toDouble))
      measuredNs += wallNs
      lastNs = wallNs
      index += 1
    }
    writeDumps(spark, dumps, new File(work, "dumps"))
    spark.stop()
    deleteTree(scratch)

    val spansFile = if (traceMode) {
      val f = new File(work, "trace.jsonl")
      Json.writeLines(f, tracer.spans.asScala.toSeq.sortBy(_.startMs).map(Json.span))
      Some(f.getPath)
    } else None
    val result = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seedS, "trace" -> traceS,
      "host" -> Json.obj(host.toSeq ++ Host.end().toSeq: _*),
      "self_check" -> Json.str(selfCheck.getOrElse("ok")),
      "setup" -> Json.nums(setup),
      "runs" -> Json.arr(runs.toSeq.map(r => Json.obj(
        "index" -> r.index.toString, "traced" -> r.traced.toString,
        "wall_s" -> Json.num(r.wallS),
        "counters" -> Json.nums(r.counters), "extra" -> Json.nums(r.extra)))),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(
        "run" -> o.run.toString, "name" -> Json.str(o.name),
        "call_s" -> Json.num(o.callS), "materialize_s" -> Json.num(o.materializeS),
        "ok" -> o.error.isEmpty.toString, "work" -> Json.nums(o.work)))),
      "failures" -> Json.arr(failures.toSeq.map { case (run, name, why) =>
        Json.obj("run" -> run.toString, "name" -> Json.str(name), "why" -> Json.str(why))
      }),
      "dumps" -> Json.arr(dumps.keys.toSeq.map(Json.str)),
      "oracle_sql" -> Json.obj(dumps.keys.toSeq.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(q => n -> Json.str(q))): _*),
      "spans" -> Json.str(spansFile.getOrElse("")),
      "peak_rss_mb" -> Json.num(Host.peakRssMb()))
    Files.writeString(Paths.get(out), result)
  }

  /** Counts that depend only on the work done, not on timing. */
  val Guarded = Seq("sources.input_records", "sources.output_records",
    "shuffle.write_records", "exec.jobs")

  private def workCounts(sc: org.apache.spark.SparkContext, meter: Meter): Map[String, Double] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val c = meter.snapshot()
    Guarded.map(k => k -> c(k)).toMap
  }

  /** Offset that turns `System.nanoTime` into wall-clock nanoseconds. */
  private def wallToNano(): Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** One operation: the engine call, then full materialization. Returns
    * the timing record and the collected result with its schema.
    */
  def runOp(s: SparkSession, meter: Meter, tracer: Tracer, run: Int,
            runSpan: Long, traced: Boolean, op: Op): (OpRecord, Result) = {
    val span = tracer.nextId()
    meter.enterOp(s, span)
    val spanStart = tracer.now()
    val t0 = System.nanoTime()
    var t1 = t0
    val out = try {
      val df = op.call(s)
      t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      (OpRecord(run, op.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None),
        Result(rows, df.schema))
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        (OpRecord(run, op.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          Some(e.toString.linesIterator.take(1).mkString)), Result.empty)
    }
    if (traced) tracer.add(Span(run, span, runSpan, "op", op.name, spanStart, tracer.now()))
    meter.enterOp(s, 0)
    out
  }

  /** Keeps the first result of every registry entry for the oracle. */
  private def recordDumps(collected: Seq[(Op, Result)],
                          dumps: mutable.Map[String, Result]): Unit =
    collected.foreach { case (op, res) =>
      if (op.check.isEmpty && !dumps.contains(op.name)) dumps(op.name) = res
    }

  private def writeDumps(spark: SparkSession, dumps: mutable.Map[String, Result],
                         dir: File): Unit = {
    deleteTree(dir)
    dumps.foreach { case (name, Result(rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(dir, name).getPath)
    }
  }

  def countFiles(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles).map(_.iterator.map(countFiles).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
