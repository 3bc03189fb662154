package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by the benchmark's JVM entry points. */
object Harness {

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Parses `--key value` pairs. */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** A local session with `cores` task threads; every scratch path Spark
    * or the program touches lives under `tmpDir`. */
  def session(cores: Int, tmpDir: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmpDir)
      .config("spark.sql.warehouse.dir", s"$tmpDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session's Spark confs, for the artifact. */
  def confs(spark: SparkSession): Map[String, String] =
    spark.sparkContext.getConf.getAll.toMap
      .filter { case (k, _) => k.startsWith("spark.") && !k.contains("id") && !k.contains("host") }

  /** Executes a frame's own plan to its full output rows (a bare `count()`
    * lets Catalyst prune away columns the plan would compute). */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Order-independent digest of a triple frame: row count, sum of the
    * row hashes mod a prime, and their xor. */
  def tripleDigest(df: DataFrame): String = {
    val h = xxhash64(col("subj"), col("pred"), col("objValue"),
      col("objIsUri").cast("string"), coalesce(col("objLang"), lit("")),
      coalesce(col("objDatatype"), lit("")))
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Logs the seconds since `sinceMs` at the end of a set-up phase. */
  def phase(sinceMs: Long, what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - sinceMs) / 1e3}%.2f s: $what")

  def loadAvg(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
    s.split("\\s+")(0).toDouble
  }

  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def writeJson(path: String, value: Any): Unit =
    Files.write(Paths.get(path), json.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(value))

  def deleteRecursively(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** One timed operation, with the load average around it. */
  final case class Op(kind: String, seconds: Double, loadBefore: Double, loadAfter: Double,
                      ok: Boolean, detail: String)

  def timedOp(kind: String)(body: => (Boolean, String)): Op = {
    val lb = loadAvg()
    val t0 = System.nanoTime()
    val (ok, detail) =
      try body
      catch { case e: Throwable =>
        e.printStackTrace()
        (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val s = (System.nanoTime() - t0) / 1e9
    Op(kind, s, lb, loadAvg(), ok, detail)
  }

  def opJson(o: Op): Map[String, Any] = Map("kind" -> o.kind, "seconds" -> o.seconds,
    "load_before" -> o.loadBefore, "load_after" -> o.loadAfter, "ok" -> o.ok, "detail" -> o.detail)
}

/** A span: one call into a layer, timed from the benchmark. Jobs, task time
  * and shuffle bytes are those of the Spark jobs the call submitted. */
final class Span(val id: Int, @volatile var name: String, val parent: Int, val run: String,
                 val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var jobs: Int = 0
  @volatile var tasks: Int = 0
  @volatile var taskRunMs: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
  @volatile var shuffleReadBytes: Long = 0L
  val taskDurationsMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def seconds: Double = (endMs - startMs) / 1e3

  def toJson: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "run" -> run, "start_ms" -> startMs, "end_ms" -> endMs, "jobs" -> jobs, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes)
}

/** Span recorder. Jobs are attributed to the span that was open on the
  * submitting thread (a local property Spark copies to every job it
  * starts for that thread, broadcast and AQE stages included). Spans stay in
  * memory until [[Tracer.write]]. Tracing is off until [[enabled]] is set. */
final class Tracer(spark: SparkSession, runId: String) extends SparkListener {
  import Tracer.SpanProp

  @volatile var enabled: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private def sc = spark.sparkContext

  /** Opens a span as a child of the innermost open span. */
  def open(name: String): Span = {
    val s = new Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), runId,
      System.currentTimeMillis())
    spans += s
    byId.put(s.id, s)
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  def close(s: Span): Span = {
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    stack.pop()
    s.endMs = System.currentTimeMillis()
    sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    s
  }

  def span[A](name: String)(body: => A): (A, Span) = {
    val s = open(name)
    val a = try body finally close(s)
    (a, s)
  }

  /** Waits until every event already posted has reached the listener. */
  def drain(): Unit = ListenerBusDrain.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
    id.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val s = stageSpan.get(e.stageId)
    if (s != null && e.taskMetrics != null) s.synchronized {
      s.tasks += 1
      s.taskRunMs += e.taskMetrics.executorRunTime
      s.shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += e.taskMetrics.shuffleReadMetrics.totalBytesRead
      s.taskDurationsMs += e.taskInfo.duration
    }
  }

  def write(path: String): Unit = Harness.writeJson(path, spans.map(_.toJson).toSeq)
}

object Tracer {
  private val SpanProp = "perfbench.span"
  private val registered = new ConcurrentHashMap[SparkSession, Tracer]()

  /** Registers the tracer once per session; later calls return the same one. */
  def setup(spark: SparkSession, runId: String): Tracer =
    registered.computeIfAbsent(spark, { _ =>
      val t = new Tracer(spark, runId)
      spark.sparkContext.addSparkListener(t)
      t
    })
}
