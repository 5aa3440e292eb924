package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.core.CacheHygiene

/** `batch_heavy`: the slow end of the batch tier, one query at a time
  * with the cache released between queries. The timed action is the
  * full answer collected and fingerprinted, never a `.count()` the
  * optimizer could prune columns from.
  */
object Batch {

  /** A DML lifecycle whose statements go through `Engine.sqlQuery`, a
    * curation query and an ANN operator query: the three kinds of batch
    * work a change to analysis, to curation or to operators would move.
    * Sized so a cold warm pass and two timed passes fit one run.
    */
  val Queries: Seq[String] = Seq("q56_sql_dml", "t38_dsir_weights", "e10_ann_lsh_projected")
  /** The queries whose statements go through `Engine.sqlQuery`. */
  val Dml: Seq[String] = Seq("q56_sql_dml")

  val OrdersRows = 20000
  val DocumentRows = 2000
  val EmbeddingRows = 1000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("data").toString
    Gen.writeParquet(spark, Gen.orders(ctx.seed, OrdersRows).map(_.row), Gen.ordersSchema,
      s"$dir/orders.parquet", files = 2)
    Gen.writeParquet(spark, Gen.documents(ctx.seed, DocumentRows), Gen.documentsSchema,
      s"$dir/documents.parquet")
    Gen.writeParquet(spark, Gen.embeddings(ctx.seed, EmbeddingRows), Gen.embeddingsSchema,
      s"$dir/embeddings.parquet")

    ctx.mark("inputs_built")
    val all = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val specs = Queries.map(q => q -> all.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q")))

    // untimed warm pass: its answers go to the DuckDB oracle check
    val oracleDir = ctx.work.resolve("oracle")
    val warm = specs.map { case (name, fn) =>
      val df = fn(spark, dir)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(oracleDir.resolve(name).toString)
      CacheHygiene.releaseAll(spark, blocking = true)
      name -> Fingerprint.of(rows.toSeq)
    }.toMap
    java.nio.file.Files.writeString(oracleDir.resolve("oracle_sql.json"),
      Json.obj(Queries.map(q => q -> Json.str(oracles.getOrElse(q,
        throw new IllegalArgumentException(s"no oracle SQL for $q"))))))

    val tr = ctx.tracer
    val times = mutable.ArrayBuffer[(String, Double)]()
    val passes = mutable.ArrayBuffer[Double]()
    val releases = mutable.ArrayBuffer[Double]()
    val roots = mutable.ArrayBuffer[Stats.Span]()
    ctx.windowStart()
    val w0 = tr.nowNs
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    // whole passes, stopping where the window ends closest to `seconds`
    while (passes.isEmpty || System.nanoTime() + passes.last * 5e8 <= deadline) {
      val p0 = System.nanoTime()
      specs.foreach { case (name, fn) =>
        val op = s"$name#$pass"
        val rootId = tr.newId()
        val s0 = tr.nowNs
        val t0 = System.nanoTime()
        val rows: Option[Array[Row]] = tr.span(rootId, op, "queries", name) { _ =>
          scala.util.Try(fn(spark, dir).collect()) match {
            case scala.util.Success(r) => Some(r)
            case scala.util.Failure(e) => ctx.fail(op, e.toString); None
          }
        }
        times += name -> (System.nanoTime() - t0) / 1e6
        val r0 = System.nanoTime()
        tr.span(rootId, op, "core", "releaseAll")(_ => CacheHygiene.releaseAll(spark, blocking = true))
        releases += (System.nanoTime() - r0) / 1e6
        val root = Stats.Span(rootId, 0L, op, "unaccounted", name, s0, tr.nowNs)
        tr.add(root)
        roots += root
        ctx.attempted += 1
        rows.foreach { rs =>
          val fp = Fingerprint.of(rs.toSeq)
          if (fp != warm(name)) ctx.fail(op, s"fingerprint ${fp.json} differs from the warm pass ${warm(name).json}")
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val w1 = tr.nowNs
    ctx.windowEnd(times.size, 0L)

    val ms = times.map(_._2).toSeq
    ctx.e2e("latency_p50_ms") = Stats.median(ms)
    ctx.e2e("latency_p90_ms") = Stats.percentile(ms, 90)
    ctx.e2e("throughput_per_s") = times.size / passes.sum
    ctx.extra("latency_samples") = ms.size.toString
    ctx.extra("batch_pass_s") = Json.num(Stats.median(passes.toSeq))
    ctx.extra("passes") = passes.size.toString
    ctx.extra("query_ms") = Json.obj(Queries.map(q => q -> Json.num(Stats.median(times.filter(_._1 == q).map(_._2).toSeq))))
    ctx.extra("fingerprints") = Json.obj(warm.toSeq.sortBy(_._1).map { case (k, v) => k -> v.json })
    ctx.extra("sizes") = Json.obj(Seq("orders" -> OrdersRows.toString,
      "documents" -> DocumentRows.toString, "embeddings" -> EmbeddingRows.toString,
      "queries" -> Queries.size.toString))

    if (ctx.trace) {
      val lis = ctx.listeners.get
      lis.settle()
      Layers.sparkTotals(ctx, w0, w1, times.size)
      val spans = tr.attributed(roots.toSeq)
      val byOp = spans.groupBy(_.op)
      Queries.foreach { q =>
        val qr = roots.filter(_.name == q).toSeq
        ctx.layer(s"queries.$q.s") = Stats.median(times.filter(_._1 == q).map(_._2).toSeq) / 1000.0
        val qSpans = qr.map(r => byOp(r.op).find(s => s.layer == "queries").get)
        ctx.layer(s"spark.$q.driver_gap_ms") = Layers.driverGapMs(qSpans, lis)
        ctx.layer(s"spark.$q.executor_run_ms") =
          qr.map(r => lis.tasksWithin(r.startNs, r.endNs).map(_.runMs).sum).sum.toDouble / qr.size
        if (Dml.contains(q)) Seq("analysis", "planning").foreach { ph =>
          ctx.layer(s"catalyst.$q.${ph}_ms") = qr.map(r => byOp(r.op)
            .filter(s => s.layer == "catalyst" && s.name == ph).map(_.durNs).sum).sum / 1e6 / qr.size
        }
      }
      ctx.layer("core.release_ms") = Stats.median(releases.toSeq)
      ctx.layer("spark.driver_gap_ms") =
        Layers.driverGapMs(roots.toSeq.map(r => byOp(r.op).find(_.layer == "queries").get), lis)
      Layers.selfTimes(ctx, roots.toSeq, spans)
      tr.writeJsonl(ctx.work.resolve("spans.jsonl"), spans)
    }
  }
}
