package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.catalog.SnapshotCatalog
import graft.query.{Engine, HttpApi}

/** `serve_read`: read-only query serving over HTTP against a static
  * `default_db.purchase_events`, so the catalog's metadata caches always
  * hit and no commit runs.
  */
object Serve {

  val Events = 40000
  val Commits = 2
  val FilesPerCommit = 8
  val Clients = 4
  val Orders = 20000
  val WarmUpNs = 6000000000L
  val Ns = "default_db"
  val Tbl = "purchase_events"
  val Mix: Seq[(String, Int)] =
    Seq("point" -> 35, "range" -> 25, "scan" -> 10, "parquet" -> 15, "meta" -> 15)
  val Kinds: Seq[String] = Mix.map(_._1)

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** The served table, its servers and the answers derived from the seed. */
  final class Fixture(ctx: Ctx) {
    val spark = ctx.spark
    val events: Gen.EventRange = Gen.eventRange(ctx.seed, Events)
    val catalog = new SnapshotCatalog(spark, ctx.work.resolve("warehouse").toString)
    val engine = new Engine(spark, catalog)

    private val per = Events / Commits
    val snapshots: IndexedSeq[Long] = (0 until Commits).map { c =>
      val df = graft.ingest.PurchaseEvents.batch(spark, events.ts(c.toLong * per), per, events.stepMs)
        .repartitionByRange(FilesPerCommit, col("timestamp"))
      if (c == 0) catalog.createTable(Ns, Tbl, df.schema,
        Map(SnapshotCatalog.BloomColumnsProp -> "timestamp"))
      catalog.append(Ns, Tbl, df).currentSnapshotId.get
    }
    val files: Int = catalog.describe(Ns, Tbl).currentSnapshot.get.files.size

    val ordersPath: String = ctx.work.resolve("data/orders.parquet").toString
    val orders: IndexedSeq[Gen.Order] = Gen.orders(ctx.seed, Orders)
    Gen.writeParquet(spark, orders.map(_.row), Gen.ordersSchema, ordersPath, files = 2)
    val ordersParts: Int = java.nio.file.Files.list(java.nio.file.Paths.get(ordersPath))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))

    private val userCount = new Array[Long](1000)
    private val userSum = new Array[Double](1000)
    (0L until Events.toLong).foreach { i =>
      val e = Gen.Event(events.ts(i))
      userCount(e.userNum.toInt) += 1
      userSum(e.userNum.toInt) += e.amount
    }

    private val sqlApi = new HttpApi(engine, HttpApi.Kind.Sql)
    private val catApi = new HttpApi(engine, HttpApi.Kind.Catalog)
    sqlApi.start()
    catApi.start()
    def stop(): Unit = { sqlApi.stop(); catApi.stop() }

    private def sql(kind: String, variant: String, q: String, check: com.fasterxml.jackson.databind.JsonNode => Option[String]): Req =
      Req(kind, variant, sqlApi.boundPort, "POST", "/query",
        s"""{"query":${Json.str(q)}}""", () => engine.sqlQuery(q), check)

    private def catQuery(kind: String, variant: String, fields: String, direct: () => String,
        check: com.fasterxml.jackson.databind.JsonNode => Option[String]): Req =
      Req(kind, variant, catApi.boundPort, "POST", "/query",
        s"""{"namespace":"$Ns","table":"$Tbl",$fields}""", direct, check)

    private def one(js: com.fasterxml.jackson.databind.JsonNode, field: String): com.fasterxml.jackson.databind.JsonNode = {
      val rs = Check.records(js)
      require(rs.size == 1, s"expected one row, got ${rs.size}")
      rs.head.get(field)
    }

    /** A client's request stream: the mix in shuffled rounds of twenty,
      * so every run serves the same proportions of each kind and only
      * the order and the parameters come from the seed.
      */
    def schedule(): scala.util.Random => Req = {
      val round = Mix.flatMap { case (k, w) => Seq.fill(w / 5)(k) }
      var queue = List.empty[String]
      r => {
        if (queue.isEmpty) queue = r.shuffle(round).toList
        val k = queue.head
        queue = queue.tail
        build(k, r)
      }
    }

    def build(kind: String, r: scala.util.Random): Req = kind match {
      case "point" =>
        val t = events.ts(r.nextInt(Events).toLong)
        def check(js: com.fasterxml.jackson.databind.JsonNode): Option[String] = {
          val rs = Check.records(js)
          if (rs.size != 1) Some(s"point $t: ${rs.size} rows")
          else if (rs.head.get("timestamp").asLong() != t) Some(s"point $t: wrong row")
          else Check.event(rs.head)
        }
        if (r.nextBoolean())
          catQuery(kind, "catalog", s""""lookup_column":"timestamp","lookup_value":"$t","limit":10""",
            () => engine.queryTableEquals(Ns, Tbl, "timestamp", t.toString, 10), check)
        else sql(kind, "sql", s"SELECT * FROM $Ns.$Tbl WHERE timestamp = $t", check)
      case "range" =>
        val width = Events / 100
        val a = events.ts(r.nextInt(Events - width).toLong) - r.nextInt(events.stepMs.toInt)
        val b = a + width * events.stepMs
        val (lo, hi) = events.indexRange(a, b)
        val n = hi - lo + 1
        if (r.nextBoolean())
          catQuery(kind, "catalog", s""""filter_column":"timestamp","min":$a,"max":$b,"limit":100""",
            () => engine.queryTable(Ns, Tbl, 100, None,
              Some(Engine.RangeFilter("timestamp", Some(a.toDouble), Some(b.toDouble)))),
            js => {
              val rs = Check.records(js)
              if (rs.size != math.min(100L, n)) Some(s"range [$a,$b]: ${rs.size} rows, want ${math.min(100L, n)}")
              else Check.all(rs.map { rec =>
                val ts = rec.get("timestamp").asLong()
                if (ts < a || ts > b) Some(s"range [$a,$b]: row $ts outside") else Check.event(rec)
              })
            })
        else {
          val sum = (lo to hi).map(i => Gen.Event(events.ts(i)).amount).sum
          sql(kind, "sql", s"SELECT count(*) AS n, sum(amount) AS s, min(timestamp) AS lo, " +
            s"max(timestamp) AS hi FROM $Ns.$Tbl WHERE timestamp BETWEEN $a AND $b", js => {
            val rec = Check.records(js).head
            if (rec.get("n").asLong() != n || !Check.near(rec.get("s").asDouble(), sum) ||
                rec.get("lo").asLong() != events.ts(lo) || rec.get("hi").asLong() != events.ts(hi))
              Some(s"range agg [$a,$b]: got $rec, want n=$n s=$sum")
            else None
          })
        }
      case "scan" =>
        val u = r.nextInt(1000)
        sql(kind, "sql", s"SELECT count(*) AS n, sum(amount) AS s FROM $Ns.$Tbl " +
          s"WHERE user_id = 'user_$u'", js => {
          val rec = Check.records(js).head
          if (rec.get("n").asLong() != userCount(u) || !Check.near(rec.get("s").asDouble(), userSum(u)))
            Some(s"scan user_$u: got $rec, want n=${userCount(u)} s=${userSum(u)}")
          else None
        })
      case "parquet" =>
        if (r.nextBoolean())
          Req(kind, "query_parquet", sqlApi.boundPort, "GET",
            s"/query_parquet?path=${enc(ordersPath)}&limit=5", "",
            () => engine.queryParquet(ordersPath, 5), js => {
              val rs = Check.records(js)
              if (rs.size != 5) Some(s"query_parquet: ${rs.size} rows")
              else Check.all(rs.map { rec =>
                val o = orders(rec.get("o_orderkey").asInt())
                if (rec.get("o_custkey").asLong() != o.cust || rec.get("o_orderstatus").asText() != o.status ||
                    !Check.near(rec.get("o_totalprice").asDouble(), o.price))
                  Some(s"query_parquet: row $rec differs from order ${o.key}") else None
              })
            })
        else {
          val st = Seq("O", "F", "P")(r.nextInt(3))
          val sel = orders.filter(_.status == st)
          sql(kind, "sql", s"SELECT count(*) AS n, sum(o_totalprice) AS s, max(o_orderkey) AS mx " +
            s"FROM read_parquet('$ordersPath') WHERE o_orderstatus = '$st'", js => {
            val rec = Check.records(js).head
            if (rec.get("n").asLong() != sel.size || !Check.near(rec.get("s").asDouble(), sel.map(_.price).sum) ||
                rec.get("mx").asLong() != sel.map(_.key).max)
              Some(s"parquet agg $st: got $rec") else None
          })
        }
      case "meta" => r.nextInt(5) match {
        case 0 => Req(kind, "tables", catApi.boundPort, "GET", s"/tables?namespace=$Ns", "",
          () => engine.listTables(Ns), js =>
            if (js.get("tables").elements().asScala.exists(_.asText() == Tbl)) None
            else Some(s"tables: $js"))
        case 1 => Req(kind, "table", catApi.boundPort, "GET", s"/table?namespace=$Ns&table=$Tbl", "",
          () => engine.describeTable(Ns, Tbl), js =>
            if (js.get("metadata").get("current_snapshot_id").asLong() == snapshots.last &&
                js.get("schema").size() == 7) None
            else Some(s"table: ${js.toString.take(200)}"))
        case 2 =>
          val glob = s"$ordersPath/*.parquet"
          Req(kind, "list_parquet", sqlApi.boundPort, "GET", s"/list_parquet?path=${enc(glob)}", "",
            () => engine.listParquet(glob), js =>
              if (js.get("count").asInt() == ordersParts) None else Some(s"list_parquet: $js"))
        case 3 => sql(kind, "snapshots", s"SELECT count(*) AS n FROM $Ns.$Tbl.snapshots", js =>
          if (one(js, "n").asLong() == Commits) None else Some(s"snapshots: $js"))
        case _ =>
          val back = 1 + r.nextInt(Commits - 1)
          sql(kind, "version_as_of",
            s"SELECT count(*) AS n FROM $Ns.$Tbl VERSION AS OF ${snapshots(back - 1)}", js =>
              if (one(js, "n").asLong() == back.toLong * per) None
              else Some(s"version as of commit $back: $js"))
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    val fx = new Fixture(ctx)
    try {
      ctx.mark("inputs_built")
      // warm-up: the same closed-loop load, checked like the rest but
      // untimed, until the JIT and Spark's codegen caches have settled
      val warm = new Load.Clients(ctx, Clients, ctx.seed ^ 0x77L, _ => fx.schedule())
      warm.start(WarmUpNs)
      ctx.attempted += warm.join().size
      val load = new Load.Clients(ctx, Clients, ctx.seed, _ => fx.schedule(),
        r => r.variant == "catalog" && (r.kind == "point" || r.kind == "range"))
      ctx.windowStart()
      val w0 = ctx.tracer.nowNs
      load.start(ctx.seconds * 1000000000L)
      val samples = load.join()
      val w1 = ctx.tracer.nowNs
      ctx.windowEnd(samples.size, load.cpuNs)
      ctx.attempted += samples.size
      report(ctx, samples)
      ctx.extra("sizes") = Json.obj(Seq("events" -> Events.toString, "commits" -> Commits.toString,
        "files" -> fx.files.toString, "clients" -> Clients.toString, "orders_rows" -> Orders.toString))
      if (ctx.trace) traced(ctx, fx, samples, w0, w1)
    } finally fx.stop()
  }

  private def ms(xs: Seq[Double]): String = Json.obj(Seq(
    "n" -> xs.size.toString,
    "p50" -> Json.num(if (xs.isEmpty) 0 else Stats.median(xs)),
    "p95" -> Json.num(if (xs.isEmpty) 0 else Stats.percentile(xs, 95))))

  def report(ctx: Ctx, samples: Seq[Load.Sample]): Unit = {
    val all = samples.map(_.ms)
    require(all.nonEmpty, "no request completed in the window")
    ctx.e2e("latency_p50_ms") = Stats.median(all)
    ctx.e2e("latency_p90_ms") = Stats.percentile(all, 90)
    ctx.e2e("throughput_per_s") = samples.size / ctx.windowSec
    ctx.extra("latency_samples") = all.size.toString
    ctx.extra("latency_p90_samples_beyond") = Stats.samplesBeyond(all.size, 90).toString
    ctx.extra("latency_p95_ms") = Json.num(Stats.percentile(all, 95))
    ctx.extra("latency_tail_percentile") = Json.num(Stats.tailPercentile(all.size).getOrElse(0.0))
    ctx.extra("latency_by_kind_ms") = Json.obj(Kinds.map(k => k -> ms(samples.filter(_.kind == k).map(_.ms))))
    Seq("point", "range").foreach { k =>
      val audits = samples.filter(s => s.kind == k && s.body.isDefined).map(s => Check.pruned(s.body.get))
      val (kept, total) = (audits.map(_._1).sum, audits.map(_._2).sum)
      ctx.layer(s"catalog.files_kept_frac.$k") = if (total == 0) 0.0 else kept.toDouble / total
    }
  }

  /** The traced run's extra, sequential phase: the same requests once
    * through HTTP and once as direct Engine calls, one at a time, so
    * every listener event belongs to exactly one request.
    */
  private def traced(ctx: Ctx, fx: Fixture, window: Seq[Load.Sample], w0: Long, w1: Long): Unit = {
    val tr = ctx.tracer
    val lis = ctx.listeners.get
    Layers.sparkTotals(ctx, w0, w1, window.size)
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    val client = new Client
    val reqs = for (k <- Kinds; _ <- 0 until 8) yield fx.build(k, rng)
    val roots = reqs.zipWithIndex.flatMap { case (r, i) =>
      def root(via: String, layer: String)(call: => (Option[String], Option[com.fasterxml.jackson.databind.JsonNode])) = {
        val op = s"${r.kind}-$i-$via"
        val id = tr.newId()
        val s = tr.nowNs
        val verdict = tr.span(id, op, layer, s"${r.kind}/${r.variant}")(_ => call)._1
        val root = Stats.Span(id, 0L, op, "unaccounted", r.kind, s, tr.nowNs)
        tr.add(root)
        ctx.attempted += 1
        verdict.foreach(v => ctx.fail(op, v))
        root
      }
      Seq(root("engine", "engine")(Check.direct(r, r.direct())),
        root("http", "http") { val (st, b) = client.send(r); Check.verdict(r, st, b) })
    }
    val catalogDescribe = (0 until 20).map(_ => tr.span(0L, "catalog", "catalog", "describe") { _ =>
      val t = System.nanoTime(); fx.catalog.describe(Ns, Tbl); (System.nanoTime() - t) / 1e6 })
    val catalogRead = (0 until 20).map(_ => tr.span(0L, "catalog", "catalog", "read") { _ =>
      val t = System.nanoTime(); fx.catalog.read(Ns, Tbl); (System.nanoTime() - t) / 1e6 })
    ctx.layer("catalog.describe_ms_p50") = Stats.median(catalogDescribe)
    ctx.layer("catalog.read_ms_p50") = Stats.median(catalogRead)
    lis.settle()
    val spans = tr.attributed(roots)
    val byOp = spans.groupBy(_.op)
    def wallMs(op: String, layer: String): Double =
      byOp(op).filter(_.layer == layer).map(_.durNs).sum / 1e6
    Kinds.foreach { k =>
      val direct = roots.filter(r => r.name == k && r.op.endsWith("-engine"))
      val viaHttp = roots.filter(r => r.name == k && r.op.endsWith("-http"))
      val eng = direct.map(r => wallMs(r.op, "engine"))
      val http = viaHttp.map(r => wallMs(r.op, "http"))
      ctx.layer(s"engine.$k.ms_p50") = Stats.median(eng)
      ctx.layer(s"engine.$k.ms_p95") = Stats.percentile(eng, 95)
      ctx.layer(s"http.$k.overhead_ms_p50") = Stats.median(http) - Stats.median(eng)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        ctx.layer(s"catalyst.$k.${ph}_ms") = direct.map(r =>
          byOp(r.op).filter(s => s.layer == "catalyst" && s.name == ph).map(_.durNs).sum / 1e6).sum / direct.size
      }
      ctx.layer(s"catalyst.$k.executions") =
        direct.map(r => lis.executionsWithin(r.startNs, r.endNs).size).sum.toDouble / direct.size
      ctx.layer(s"spark.$k.jobs") =
        direct.map(r => lis.jobsWithin(r.startNs, r.endNs).size).sum.toDouble / direct.size
    }
    Layers.selfTimes(ctx, roots.filter(_.op.endsWith("-http")), spans)
    Layers.driverGap(ctx, roots.filter(_.op.endsWith("-engine")), lis)
    tr.writeJsonl(ctx.work.resolve("spans.jsonl"), spans)
  }
}
