package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

/** Everything one run shares: the session, the tracer, the timed window
  * and the result it reports.
  */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val work: Path, val t0EpochMs: Long) {

  val tracer = new Tracer(trace)
  val listeners: Option[Listeners] = if (trace) Some(new Listeners(tracer)) else None

  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  /** Metrics named in BENCHMARK.json's end_to_end list. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Metrics named in BENCHMARK.json's per_layer list. */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Everything else the artifact records (raw JSON values). */
  val extra = mutable.LinkedHashMap[String, String]()

  def fail(op: String, why: String): Unit = synchronized {
    failed += 1
    if (failures.length < 20) failures += s"$op: ${why.take(300)}"
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val marks = mutable.LinkedHashMap[String, String]()

  /** Seconds from process start to the end of a named set-up or
    * check phase, recorded in the artifact.
    */
  def mark(phase: String): Unit =
    marks(phase) = Json.num((System.currentTimeMillis() - t0EpochMs) / 1000.0)

  private var winStartNs = 0L
  private var cpu0 = 0L
  private var gc0 = 0L
  private var jit0 = 0L
  var windowSec = 0.0

  /** Marks the first timed op: set-up ends here. */
  def windowStart(): Unit = {
    winStartNs = System.nanoTime()
    e2e("setup_s") = (System.currentTimeMillis() - t0EpochMs) / 1000.0
    mark("window_start")
    extra("setup_jit_ms") = jitMs.toString
    cpu0 = os.getProcessCpuTime
    gc0 = gcMs
    jit0 = jitMs
  }

  /** Ends the timed window. `ops` is the op count CPU is charged to;
    * `loadThreads` are the benchmark's own client threads, whose CPU is
    * taken out so the figure is the engine's.
    */
  def windowEnd(ops: Double, loadCpuNs: Long): Unit = {
    val cpu = os.getProcessCpuTime - cpu0 - loadCpuNs
    windowSec = (System.nanoTime() - winStartNs) / 1e9
    mark("window_end")
    layer("jvm.gc_ms") = (gcMs - gc0).toDouble
    layer("jvm.jit_ms") = (jitMs - jit0).toDouble
    e2e("cpu_ms_per_op") = cpu / 1e6 / math.max(ops, 1.0)
    // the lower of two forced collections: the first may leave garbage
    // that a concurrent thread was still reaching
    val rt = Runtime.getRuntime
    e2e("heap_live_mb") = (0 until 2).map { _ =>
      System.gc()
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  /** CPU the calling thread has used so far; load threads report it as
    * they exit, since a finished thread's CPU can no longer be read.
    */
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime

  def resultJson(host: String): String = Json.obj(Seq(
    "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
    "attempted" -> attempted.toString, "failed" -> failed.toString,
    "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
    "window_s" -> Json.num(windowSec), "phases_s" -> Json.obj(marks),
    "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
    "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
    "extra" -> Json.obj(extra), "host" -> host))
}

/** One benchmark run inside the engine's JVM: build the workload's
  * inputs, run its timed window, check every answer, write
  * `result.json` (and `spans.jsonl` when traced) into the work
  * directory. `run.py` launches it and turns the result into the
  * benchmark's output line.
  */
object Main {

  val Workloads: Seq[String] = Seq("serve_read", "ingest_write", "batch_heavy")

  /** Fixed pure-CPU sample: a single-threaded integer loop whose time
    * tracks how much of a core the run actually got.
    */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString("[", ",", "]")
    catch { case _: Exception => "[]" }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val calibStart = calibrationMs()
    val loadStart = loadavg()

    val spark = graft.core.GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    graft.core.GraftSession.registerFunctions(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, workload, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", work, opts("t0-ms").toLong)
    ctx.mark("spark_started")
    ctx.listeners.foreach(_.register(spark))
    val outcome = scala.util.Try(workload match {
      case "serve_read" => Serve.run(ctx)
      case "ingest_write" => Ingest.run(ctx)
      case "batch_heavy" => Batch.run(ctx)
    })
    outcome.failed.foreach { e =>
      ctx.attempted = math.max(ctx.attempted, 1L)
      ctx.fail("run", s"${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
    ctx.listeners.foreach(_.unregister(spark))
    val host = Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "master" -> Json.str(spark.sparkContext.master),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "calibration_ms_start" -> Json.num(calibStart),
      "calibration_ms_end" -> Json.num(calibrationMs())))
    Files.writeString(work.resolve("result.json"), ctx.resultJson(host))
    spark.stop()
    // a stream or server thread left behind by a failed run must not
    // keep the JVM alive
    sys.exit(0)
  }
}
