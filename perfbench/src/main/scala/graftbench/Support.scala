package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The session posture `graft.Bench` runs the registry under, at
  * local[nproc] with one shuffle partition per core. Spark's own scratch
  * space goes under the benchmark's work directory.
  */
object Posture {
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val local = new File(work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Host facts recorded with every result. */
object Host {
  def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq.empty }

  def annotate(): Map[String, String] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors.toString,
    "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
    "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
    "java" -> Json.str(System.getProperty("java.version")),
    "loadavg_start" -> Json.arr(loadAvg().map(Json.num)))

  def end(): Map[String, String] = {
    val la = loadAvg()
    Map("loadavg_end" -> Json.arr(la.map(Json.num)))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .linesIterator.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }
}

/** Just enough JSON writing for the result record; values are passed in
  * already rendered.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
  def span(s: Span): String = obj("run" -> s.run.toString, "id" -> s.id.toString,
    "parent" -> s.parent.toString, "kind" -> str(s.kind), "name" -> str(s.name),
    "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs))
  def writeLines(f: File, lines: Seq[String]): Unit =
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
}
