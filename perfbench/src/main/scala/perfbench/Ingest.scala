package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.SnapshotCatalog
import graft.query.{Engine, HttpApi}
import graft.streaming.Sinks

/** `ingest_write`: Spark's `rate` source at a fixed rate through
  * `Sinks.icebergLike` with a fixed 1 s trigger, while one thread runs
  * maintenance, one closed-loop reader queries the live table over HTTP
  * and one poller stamps when each snapshot becomes visible.
  */
object Ingest {

  val Rate = 2000
  val TriggerMs = 1000L
  val SourcePartitions = 2
  val MaintainEveryCommits = 5
  val KeepSnapshots = 10
  val TargetFiles = 24
  val PollMs = 25L
  val WarmCommits = 2
  /** Where in the trigger interval each source second ends: 300 ms
    * before the next trigger, so a start landing up to 300 ms late still
    * has each second taken by the trigger right after it.
    */
  val SourcePhaseMs = 700L
  val WarmUpNs = 3000000000L
  val Ns = "default_db"
  val Tbl = "purchase_events"
  val WarmTbl = "purchase_events_warm"

  final case class Poll(atMs: Long, snapshotId: Long, rows: Long, describeMs: Double)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val catalog = new SnapshotCatalog(spark, ctx.work.resolve("warehouse").toString)
    val engine = new Engine(spark, catalog)
    val sqlApi = new HttpApi(engine, HttpApi.Kind.Sql)
    val catApi = new HttpApi(engine, HttpApi.Kind.Catalog)
    sqlApi.start()
    catApi.start()

    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", Rate.toString)
      .option("numPartitions", SourcePartitions.toString).load()
      .select(unix_millis(col("timestamp")).as("ts_ms"))
    val events = graft.ingest.PurchaseEvents.fromTimestampMs(rate, "ts_ms")

    // The rate source releases each second of events when that second
    // ends, counted from the source's creation; the trigger fires on
    // epoch multiples of its interval. The gap between the two is fixed
    // for the life of a stream and adds up to one trigger interval to
    // every event's latency. So throwaway streams into scratch tables
    // warm the path and measure how long after start() the source is
    // created, and the measured stream is started so that its seconds
    // end at SourcePhaseMs within the trigger interval.
    def startAt(table: String, checkpoint: String): (org.apache.spark.sql.streaming.StreamingQuery, Long) = {
      val called = System.currentTimeMillis()
      val q = Sinks.icebergLike(events, catalog, Ns, table, ctx.work.resolve(checkpoint).toString,
        Trigger.ProcessingTime(TriggerMs)).start()
      (q, called)
    }
    def firstEventMs(q: org.apache.spark.sql.streaming.StreamingQuery, table: String): Long = {
      val deadline = System.currentTimeMillis() + 60000L
      def landed: Boolean = catalog.tableExists(Ns, table) &&
        catalog.describe(Ns, table).currentSnapshot.exists(s => liveRows(s) > 0)
      while (!landed && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(q.isActive && catalog.tableExists(Ns, table), s"stream did not commit: ${q.exception}")
      catalog.read(Ns, table).agg(org.apache.spark.sql.functions.min("timestamp")).head().getLong(0)
    }
    def startInPhase(table: String, checkpoint: String, delay: Long) = {
      Thread.sleep(Math.floorMod(SourcePhaseMs - delay - System.currentTimeMillis(), TriggerMs))
      startAt(table, checkpoint)
    }
    // the first start is cold; the second measures the warm delay
    var startDelay = 0L
    (0 until 2).foreach { i =>
      val (q, called) = startInPhase(s"$WarmTbl$i", s"checkpoint-warm-$i", startDelay)
      startDelay = firstEventMs(q, s"$WarmTbl$i") - called
      stopBetweenTriggers(q)
    }
    val (query, called) = startInPhase(Tbl, "checkpoint", startDelay)
    val created = firstEventMs(query, Tbl)
    ctx.extra("source_phase_ms") = Math.floorMod(created, TriggerMs).toString
    ctx.extra("source_start_delay_ms") = Json.obj(Seq("warm" -> startDelay.toString,
      "measured" -> (created - called).toString))

    // the visibility poller: the current-snapshot pointer every 25 ms
    val polls = new java.util.concurrent.ConcurrentLinkedQueue[Poll]()
    val commits = new AtomicLong(0)
    @volatile var polling = true
    val poller = new Thread(() => {
      var last = -1L
      while (polling) {
        val t0 = System.nanoTime()
        if (catalog.tableExists(Ns, Tbl)) {
          val snap = catalog.describe(Ns, Tbl).currentSnapshot
          val ms = (System.nanoTime() - t0) / 1e6
          snap.filter(_.snapshotId != last).foreach { s =>
            last = s.snapshotId
            polls.add(Poll(System.currentTimeMillis(), s.snapshotId, liveRows(s), ms))
            if (!s.operation.contains("replace")) commits.incrementAndGet()
          }
        }
        Thread.sleep(PollMs)
      }
    }, "perfbench-poller")
    poller.setDaemon(true)
    poller.start()

    try {
      val warmDeadline = System.currentTimeMillis() + 60000L
      while (commits.get() < WarmCommits && query.isActive && System.currentTimeMillis() < warmDeadline)
        Thread.sleep(PollMs)
      require(commits.get() >= WarmCommits, s"stream did not commit $WarmCommits batches: ${query.exception}")
      catalog.updateProperties(Ns, Tbl, Map(SnapshotCatalog.BloomColumnsProp -> "timestamp"))
      ctx.mark("stream_warm")

      val reader = new Reader(engine, sqlApi.boundPort, catApi.boundPort)
      val warm = new Load.Clients(ctx, 1, ctx.seed ^ 0x77L, _ => reader.next)
      warm.start(WarmUpNs)
      ctx.attempted += warm.join().size

      // maintenance: compaction + snapshot expiry every few commits
      val maint = mutable.ArrayBuffer[(Double, Int, Int)]()
      @volatile var maintaining = true
      val maintainer = new Thread(() => {
        var next = commits.get() + MaintainEveryCommits
        while (maintaining) {
          if (commits.get() >= next) {
            val t0 = System.nanoTime()
            val rep = catalog.maintain(Ns, Tbl, keepLast = KeepSnapshots, targetFiles = TargetFiles)
            maint.synchronized(maint += (((System.nanoTime() - t0) / 1e6, rep.filesBefore, rep.filesAfter)))
            next = commits.get() + MaintainEveryCommits
          }
          Thread.sleep(PollMs)
        }
      }, "perfbench-maintenance")
      maintainer.setDaemon(true)

      val load = new Load.Clients(ctx, 1, ctx.seed, _ => reader.next)
      ctx.windowStart()
      val t0Ms = System.currentTimeMillis()
      val w0 = ctx.tracer.nowNs
      maintainer.start()
      load.start(ctx.seconds * 1000000000L)
      val reads = load.join()
      val t1Ms = t0Ms + ctx.seconds * 1000L
      val w1 = ctx.tracer.nowNs
      maintaining = false
      maintainer.join()
      ctx.windowEnd(ctx.seconds * 1000.0 / TriggerMs, load.cpuNs)

      // let events due before the window's end land: two more commits
      val drainTo = commits.get() + 2
      val drainDeadline = System.currentTimeMillis() + 15000L
      while (commits.get() < drainTo && System.currentTimeMillis() < drainDeadline) Thread.sleep(PollMs)
      stopBetweenTriggers(query)
      polling = false
      poller.join()
      query.exception.foreach(e => ctx.fail("stream", e.toString))
      ctx.mark("stream_stopped")

      // exactly once: every row the source handed to a completed batch
      val offered = query.recentProgress.map(_.numInputRows).sum
      val table = catalog.read(Ns, Tbl)
      val committed = table.count()
      if (committed != offered) ctx.fail("exactly-once", s"committed $committed rows, batches took $offered")
      table.createOrReplaceTempView("perfbench_ingested")
      val bad = spark.sql(Gen.eventMismatchSql("perfbench_ingested")).head().getLong(0)
      if (bad != 0) ctx.fail("derived fields", s"$bad committed rows disagree with the generator")

      val due = table.select(col("timestamp")).orderBy("timestamp").collect().map(_.getLong(0))
      val pollSeq = polls.asScala.toSeq
      val (lat, missed) = Stats.visibilityMs(due, pollSeq.map(p => (p.atMs, p.rows)), t0Ms, t1Ms)
      missed.take(5).foreach(i => ctx.fail(s"event $i", s"due at ${due(i)} never became visible"))
      ctx.failed += math.max(0, missed.size - 5)
      ctx.attempted += lat.size + missed.size + reads.size
      require(lat.nonEmpty, "no event was due in the window")
      ctx.mark("checked")

      ctx.e2e("latency_p50_ms") = Stats.median(lat)
      ctx.e2e("latency_p90_ms") = Stats.percentile(lat, 90)
      // the sink's processing rate while busy, median over the window's
      // batches: the offered rate is fixed, so headroom is what can move
      val windowBatches = inWindow(query.recentProgress.toSeq, t0Ms, t1Ms)
      require(windowBatches.nonEmpty, "no micro-batch started in the window")
      ctx.e2e("throughput_per_s") = Stats.median(windowBatches.map(_.processedRowsPerSecond))
      ctx.extra("reader_per_s") = Json.num(reads.size / ctx.windowSec)
      ctx.extra("latency_samples") = lat.size.toString
      ctx.extra("latency_p95_ms") = Json.num(Stats.percentile(lat, 95))
      ctx.extra("ingest_read_p50_ms") = Json.num(Stats.median(reads.map(_.ms)))
      val tableDir = java.nio.file.Paths.get(catalog.warehouse, Ns, Tbl)
      ctx.extra("bytes_per_event") = Json.num(dirBytes(tableDir).toDouble / math.max(1L, committed))
      ctx.extra("sizes") = Json.obj(Seq("rate_per_s" -> Rate.toString, "trigger_ms" -> TriggerMs.toString,
        "source_partitions" -> SourcePartitions.toString, "maintain_every_commits" -> MaintainEveryCommits.toString,
        "reader_clients" -> "1", "committed_rows" -> committed.toString))

      if (ctx.trace) {
        val inWindow = pollSeq.filter(p => p.atMs >= t0Ms && p.atMs <= t1Ms)
        // the first describe after a commit parses the new metadata: the miss path
        ctx.layer("catalog.describe_ms_p50") =
          if (inWindow.isEmpty) 0.0 else Stats.median(inWindow.map(_.describeMs))
        val readMs = (0 until 10).map { _ =>
          val t = System.nanoTime(); catalog.read(Ns, Tbl); (System.nanoTime() - t) / 1e6 }
        ctx.layer("catalog.read_ms_p50") = Stats.median(readMs)
        ctx.layer("http.ingest_read_ms_p50") = Stats.median(reads.map(_.ms))
        ctx.layer("catalog.bytes_per_event") = dirBytes(tableDir).toDouble / math.max(1L, committed)
        val m = maint.synchronized(maint.toSeq)
        ctx.layer("catalog.maint_passes") = m.size.toDouble
        if (m.nonEmpty) {
          ctx.layer("catalog.maint_ms") = Stats.median(m.map(_._1))
          ctx.layer("catalog.maint_files_before") = m.map(_._2.toDouble).sum / m.size
          ctx.layer("catalog.maint_files_after") = m.map(_._3.toDouble).sum / m.size
        }
        val meta = catalog.describe(Ns, Tbl)
        ctx.layer("catalog.snapshots_end") = meta.snapshots.size.toDouble
        ctx.layer("catalog.data_files_end") = meta.currentSnapshot.map(_.files.size).getOrElse(0).toDouble
        ctx.layer("catalog.metadata_bytes_end") = dirBytes(tableDir.resolve("metadata")).toDouble
        streamingLayer(ctx, query.recentProgress.toSeq, t0Ms, t1Ms)
        val lis = ctx.listeners.get
        lis.settle()
        Layers.sparkTotals(ctx, w0, w1, ctx.seconds * 1000.0 / TriggerMs)
        val batches = ctx.tracer.spans.filter(_.layer == "streaming")
        Layers.driverGap(ctx, batches.filter(s => s.startNs >= w0 && s.startNs <= w1), lis)
        ctx.tracer.writeJsonl(ctx.work.resolve("spans.jsonl"), ctx.tracer.attributed(batches))
      }
    } finally {
      polling = false
      if (query.isActive) query.stop()
      sqlApi.stop()
      catApi.stop()
    }
  }

  /** The batches with rows that started inside [t0Ms, t1Ms). */
  private def inWindow(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      t0Ms: Long, t1Ms: Long): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.filter { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      s >= t0Ms && s < t1Ms && p.numInputRows > 0
    }

  private def streamingLayer(ctx: Ctx, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      t0Ms: Long, t1Ms: Long): Unit = {
    val ps = inWindow(progress, t0Ms, t1Ms)
    def d(key: String): Seq[Double] = ps.map(p => p.durationMs.asScala.get(key).map(_.doubleValue()).getOrElse(0.0))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def p95(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 95)
    ctx.layer("streaming.batches") = ps.size.toDouble
    ctx.layer("streaming.trigger_ms_p50") = med(d("triggerExecution"))
    ctx.layer("streaming.trigger_ms_p95") = p95(d("triggerExecution"))
    ctx.layer("streaming.add_batch_ms_p50") = med(d("addBatch"))
    ctx.layer("streaming.add_batch_ms_p95") = p95(d("addBatch"))
    ctx.layer("streaming.wal_commit_ms_p50") = med(d("walCommit"))
    ctx.layer("streaming.planning_ms_p50") = med(d("queryPlanning"))
    ctx.layer("streaming.rows_per_batch_p50") = med(ps.map(_.numInputRows.toDouble))
    // a processing-time trigger fires on multiples of its interval
    ctx.layer("streaming.late_ms_p95") = p95(ps.map(p =>
      Math.floorMod(java.time.Instant.parse(p.timestamp).toEpochMilli, TriggerMs).toDouble))
  }

  /** Live rows of a snapshot (its own `rowCount` is the rows it added). */
  def liveRows(s: SnapshotCatalog.SnapshotMeta): Long =
    s.statsRowCount.getOrElse(s.fileStats.map(_.rows).sum)

  /** Stops a stream between triggers: a batch cut short after its
    * commit would have landed rows without reporting its progress.
    */
  def stopBetweenTriggers(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 5000L
    while (q.status.isTriggerActive && System.currentTimeMillis() < deadline) Thread.sleep(2)
    q.stop()
    q.awaitTermination()
  }

  def dirBytes(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  /** The reader beside the stream: point, range and metadata requests
    * against the live table. Answers are checked row by row against the
    * generator's formulas, since the table grows while it reads.
    */
  final class Reader(engine: Engine, sqlPort: Int, catPort: Int) {
    private val seen = new AtomicLong(-1L)

    private def rows(js: com.fasterxml.jackson.databind.JsonNode, a: Long, b: Long): Option[String] = {
      val rs = Check.records(js)
      rs.headOption.foreach(r => seen.set(r.get("timestamp").asLong()))
      Check.all(rs.map { rec =>
        val ts = rec.get("timestamp").asLong()
        if (ts < a || ts > b) Some(s"row $ts outside [$a,$b]") else Check.event(rec)
      })
    }

    /** The reader's mix in shuffled rounds of ten (4 point, 4 range,
      * 2 meta), so every run reads the same proportions.
      */
    private val round = Seq(0, 10, 20, 30, 40, 50, 60, 70, 80, 90)
    private var queue = List.empty[Int]

    def next(r: scala.util.Random): Req = {
      if (queue.isEmpty) queue = r.shuffle(round).toList
      val x = queue.head
      queue = queue.tail
      val t = seen.get()
      if (x < 40 && t >= 0) {
        val q = s"SELECT * FROM $Ns.$Tbl WHERE timestamp = $t"
        Req("point", "sql", sqlPort, "POST", "/query", s"""{"query":${Json.str(q)}}""",
          () => engine.sqlQuery(q), js => {
            val rs = Check.records(js)
            if (rs.isEmpty) Some(s"point $t: no rows") else rows(js, t, t)
          })
      } else if (x < 80 || t < 0) {
        val b = System.currentTimeMillis() - 4000L - r.nextInt(2000)
        val a = b - 500L
        Req("range", "catalog", catPort, "POST", "/query",
          s"""{"namespace":"$Ns","table":"$Tbl","filter_column":"timestamp","min":$a,"max":$b,"limit":100}""",
          () => engine.queryTable(Ns, Tbl, 100, None,
            Some(Engine.RangeFilter("timestamp", Some(a.toDouble), Some(b.toDouble)))),
          js => rows(js, a, b))
      } else if (x < 90)
        Req("meta", "table", catPort, "GET", s"/table?namespace=$Ns&table=$Tbl", "",
          () => engine.describeTable(Ns, Tbl), js =>
            if (js.get("schema").size() == 7) None else Some(s"table: ${js.toString.take(200)}"))
      else
        Req("meta", "tables", catPort, "GET", s"/tables?namespace=$Ns", "",
          () => engine.listTables(Ns), js =>
            if (js.get("tables").elements().asScala.exists(_.asText() == Tbl)) None
            else Some(s"tables: $js"))
    }
  }
}
