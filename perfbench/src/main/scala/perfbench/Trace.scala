package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import perfbench.Stats.Span

/** In-memory span recorder. Spans are timed on one clock (epoch-aligned
  * nanoseconds) so they line up with the millisecond timestamps Spark's
  * listeners report. With `enabled` off nothing is recorded and no
  * listener is registered: the untraced runs measure the engine alone.
  */
final class Tracer(val enabled: Boolean) {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()

  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) recorded.add(s): Unit

  /** Times `body` as span `id` under `parent`; records it when tracing. */
  def span[T](parent: Long, op: String, layer: String, name: String)(body: Long => T): T = {
    val id = newId()
    val s = nowNs
    try body(id)
    finally add(Span(id, parent, op, layer, name, s, nowNs))
  }

  def spans: Seq[Span] = recorded.asScala.toSeq

  /** Re-parents listener spans (those with no op yet) under the
    * innermost benchmark span of the root whose interval holds their
    * start, and gives them that root's op id. Listener spans outside
    * every root are dropped.
    */
  def attributed(roots: Seq[Span]): Seq[Span] = {
    val rootIds = roots.map(_.id).toSet
    val mine = spans.filter(s => s.op.nonEmpty && !rootIds(s.id))
    val byOp = mine.groupBy(_.op)
    val sortedRoots = roots.sortBy(_.startNs).toArray
    val rootStarts = sortedRoots.map(_.startNs)
    val listenerSpans = spans.filter(_.op.isEmpty)
    val placed = listenerSpans.flatMap { s =>
      val i = java.util.Arrays.binarySearch(rootStarts, s.startNs)
      val idx = if (i >= 0) i else -i - 2
      if (idx < 0) None
      else {
        val root = sortedRoots(idx)
        if (s.startNs > root.endNs) None
        else {
          val candidates = root +: byOp.getOrElse(root.op, Nil)
            .filter(c => c.startNs <= s.startNs && c.endNs >= s.startNs && c.layer != s.layer)
          val container = candidates.maxBy(c => (c.startNs, -c.durNs))
          Some(s.copy(parent = container.id, op = root.op))
        }
      }
    }
    roots ++ mine ++ placed
  }

  def writeJsonl(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** What the benchmark's own listeners saw. Registered only in traced
  * runs, through Spark's public listener interfaces.
  */
final class Listeners(tracer: Tracer) {
  import Listeners.Task

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentLinkedQueue[Span]()
  val executions = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val events = new AtomicLong(0)

  private def msToNs(ms: Long): Long = ms * 1000000L

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val start = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
      val s = Span(tracer.newId(), 0L, "", "spark", s"job ${e.jobId}", msToNs(start), msToNs(e.time))
      jobs.add(s)
      tracer.add(s)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(msToNs(e.taskInfo.finishTime), m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val id = tracer.newId()
      val ps = qe.tracker.phases
      if (ps.nonEmpty) {
        val start = ps.values.map(_.startTimeMs).min
        val end = ps.values.map(_.endTimeMs).max
        executions.add(Span(id, 0L, "", "catalyst", "execution", msToNs(start), msToNs(end)))
      }
      ps.foreach { case (name, p) =>
        tracer.add(Span(tracer.newId(), 0L, "", "catalyst", name,
          msToNs(p.startTimeMs), msToNs(p.endTimeMs)))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(0L)
      // a micro-batch is an op of its own: the root its jobs attach to
      tracer.add(Span(tracer.newId(), 0L, s"${p.runId.toString.take(8)} batch ${p.batchId}",
        "streaming", s"batch ${p.batchId}",
        msToNs(startMs), msToNs(startMs + trig)))
    }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(sql)
    s.streams.addListener(streaming)
  }

  def unregister(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(sql)
    s.streams.removeListener(streaming)
  }

  /** Listener buses deliver asynchronously; wait until the event count
    * has stopped moving before reading what they saw.
    */
  def settle(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  def tasksWithin(startNs: Long, endNs: Long): Seq[Task] =
    tasks.asScala.filter(t => t.endNs >= startNs && t.endNs <= endNs).toSeq

  def jobsWithin(startNs: Long, endNs: Long): Seq[Span] =
    jobs.asScala.filter(j => j.startNs >= startNs && j.startNs <= endNs).toSeq

  def executionsWithin(startNs: Long, endNs: Long): Seq[Span] =
    executions.asScala.filter(x => x.startNs >= startNs && x.startNs <= endNs).toSeq
}

object Listeners {
  final case class Task(endNs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
}
