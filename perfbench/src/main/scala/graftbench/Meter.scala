package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. `parent` is the span that caused it
  * (0 for a workload run); every span of one run carries that run's id.
  */
final case class Span(run: Long, id: Long, parent: Long, kind: String,
                      name: String, startMs: Double, endMs: Double)

/** Spans kept in memory for the whole process and written once at exit. */
final class Tracer(epochMs: Long) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  /** Milliseconds since process start, from a wall-clock epoch time. */
  def rel(wallMs: Long): Double = (wallMs - epochMs).toDouble
  def now(): Double = rel(System.currentTimeMillis())
  def add(s: Span): Unit = spans.add(s)
}

/** Counters for one workload run, fed by Spark's listener buses.
  *
  * The scheduler counters (jobs, tasks, shuffle, input/output, spill,
  * cached blocks) are always on: the work-equality guard needs them on
  * every run. Planning phases, streaming progress and spans are the
  * tracing layer and are on only for traced runs.
  */
final class Meter(tracer: Tracer) extends SparkListener {
  @volatile var tracing = false
  @volatile var runId = 0L

  private val longs = mutable.LinkedHashMap.empty[String, AtomicLong]
  private val doubles = mutable.LinkedHashMap.empty[String, DoubleAdder]
  private def l(n: String) = longs.getOrElseUpdate(n, new AtomicLong)
  private def d(n: String) = doubles.getOrElseUpdate(n, new DoubleAdder)
  // Declared up front so every snapshot has every key, and so the maps
  // are never written concurrently after construction.
  Seq("exec.jobs", "exec.stages", "exec.tasks", "plan.actions",
    "sources.input_bytes", "sources.input_records", "sources.output_bytes",
    "sources.output_records", "shuffle.write_bytes", "shuffle.write_records",
    "shuffle.read_bytes", "spill.memory_bytes", "spill.disk_bytes",
    "stream.batches", "stream.state_rows").foreach(l)
  Seq("exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "shuffle.fetch_wait_s", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "stream.batch_s", "stream.add_batch_s",
    "stream.query_planning_s", "stream.get_batch_s", "stream.latest_offset_s",
    "stream.wal_commit_s", "stream.commit_offsets_s", "stream.state_commit_s",
    "exec.job_busy_s").foreach(d)

  // job → (span id, parent op span); stage → job span
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Double)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val queryOp = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
  private val activeJobs = new AtomicLong(0)
  @volatile private var busySince = 0L
  // cached RDD blocks: id → bytes (memory + disk); peak of the sum
  private val blocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val cachedBytes = new AtomicLong(0)
  private val cachedPeak = new AtomicLong(0)

  def reset(): Unit = {
    longs.values.foreach(_.set(0))
    doubles.values.foreach(_.reset())
    cachedPeak.set(cachedBytes.get)
  }

  def snapshot(): Map[String, Double] =
    longs.map { case (k, v) => k -> v.get.toDouble }.toMap ++
      doubles.map { case (k, v) => k -> v.sum }.toMap +
      ("cache.peak_mb" -> cachedPeak.get / 1048576.0)

  private def opParent(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Meter.OpProperty)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    l("exec.jobs").incrementAndGet()
    if (activeJobs.getAndIncrement() == 0) busySince = e.time
    if (tracing) {
      val id = tracer.nextId()
      jobSpans.put(e.jobId, (id, opParent(e.properties), tracer.rel(e.time)))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (activeJobs.decrementAndGet() == 0)
      d("exec.job_busy_s").add((e.time - busySince) / 1000.0)
    Option(jobSpans.remove(e.jobId)).foreach { case (id, parent, start) =>
      tracer.add(Span(runId, id, parent, "job", s"job ${e.jobId}", start,
        tracer.rel(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    l("exec.stages").incrementAndGet()
    val si = e.stageInfo
    Option(stageJob.remove(si.stageId)).foreach { job =>
      for (s <- si.submissionTime; c <- si.completionTime)
        tracer.add(Span(runId, tracer.nextId(), job, "stage",
          s"stage ${si.stageId}", tracer.rel(s), tracer.rel(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    l("exec.tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      d("exec.task_run_s").add(m.executorRunTime / 1000.0)
      d("exec.task_cpu_s").add(m.executorCpuTime / 1e9)
      d("exec.gc_s").add(m.jvmGCTime / 1000.0)
      l("shuffle.write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      l("shuffle.write_records").addAndGet(m.shuffleWriteMetrics.recordsWritten)
      l("shuffle.read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      d("shuffle.fetch_wait_s").add(m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      l("spill.memory_bytes").addAndGet(m.memoryBytesSpilled)
      l("spill.disk_bytes").addAndGet(m.diskBytesSpilled)
      l("sources.input_bytes").addAndGet(m.inputMetrics.bytesRead)
      l("sources.input_records").addAndGet(m.inputMetrics.recordsRead)
      l("sources.output_bytes").addAndGet(m.outputMetrics.bytesWritten)
      l("sources.output_records").addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = if (size > 0) blocks.put(key, size) else blocks.remove(key)
      val now = cachedBytes.addAndGet(size - Option(prev).map(_.longValue).getOrElse(0L))
      cachedPeak.accumulateAndGet(now, math.max(_, _))
    }
  }

  /** Planning phases of every Dataset action on a registered session. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (tracing) {
      l("plan.actions").incrementAndGet()
      val p = qe.tracker.phases
      def add(phase: String, metric: String): Unit =
        p.get(phase).foreach(s => d(metric).add(s.durationMs / 1000.0))
      add("analysis", "plan.analysis_s")
      add("optimization", "plan.optimization_s")
      add("planning", "plan.planning_s")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  /** Micro-batch progress of every streaming query on a registered session. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryOp.put(e.id, currentOp)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracing) {
        val p = e.progress
        val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        def add(phase: String, metric: String): Unit =
          d(metric).add(ms.getOrElse(phase, 0L) / 1000.0)
        l("stream.batches").incrementAndGet()
        add("triggerExecution", "stream.batch_s")
        add("addBatch", "stream.add_batch_s")
        add("queryPlanning", "stream.query_planning_s")
        add("getBatch", "stream.get_batch_s")
        add("latestOffset", "stream.latest_offset_s")
        add("walCommit", "stream.wal_commit_s")
        add("commitOffsets", "stream.commit_offsets_s")
        p.stateOperators.foreach { s =>
          d("stream.state_commit_s").add(s.commitTimeMs / 1000.0)
          l("stream.state_rows").addAndGet(s.numRowsUpdated)
        }
        val start = tracer.rel(java.time.Instant.parse(p.timestamp).toEpochMilli)
        tracer.add(Span(runId, tracer.nextId(),
          queryOp.getOrDefault(p.id, 0L), "batch", s"batch ${p.batchId}",
          start, start + ms.getOrElse("triggerExecution", 0L)))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      queryOp.remove(e.id)
  }

  /** Attach the per-session listeners to a fresh session. */
  def register(s: SparkSession): Unit = {
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  /** Mark `op` as the cause of the jobs and streams it starts. */
  def enterOp(s: SparkSession, op: Long): Unit = {
    s.sparkContext.setLocalProperty(Meter.OpProperty, op.toString)
    currentOp = op
  }
  @volatile private var currentOp = 0L
}

object Meter {
  val OpProperty = "graftbench.op"
}
