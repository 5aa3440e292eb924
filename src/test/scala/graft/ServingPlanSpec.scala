package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, rng}

import graft.catalog.SnapshotCatalog
import graft.ingest.PurchaseEvents
import graft.plans.ParamLiteral
import graft.query.Engine

/** The serving path's plan contract: a served request plans with its
  * row cap at the root and no exchange, a repeated request shape
  * compiles nothing, the records JSON is the `toJSON` wire format, and
  * [[graft.plans.ParamLiterals]] never changes a filter's answer.
  */
class ServingPlanSpec extends SparkTestBase {

  private val Ns = "default_db"
  private val Tbl = "purchase_events"
  private val T0 = 1700000000000L
  private val StepMs = 1237L

  private lazy val engine: Engine = {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-serveplan"))
    cat.createTable(Ns, Tbl, PurchaseEvents.schema)
    cat.append(Ns, Tbl, PurchaseEvents.batch(spark, T0, 200, StepMs))
    cat.append(Ns, Tbl, PurchaseEvents.batch(spark, T0 + 200 * StepMs, 200, StepMs))
    new Engine(spark, cat)
  }

  private lazy val parquetPath: String = {
    val p = tmpDir("graft-serveplan-pq") + "/orders"
    spark.range(0, 500).select(col("id").as("o_orderkey"),
      (col("id") * 1.5).as("o_totalprice")).write.parquet(p)
    p
  }

  /** The physical plans of the Dataset actions `body` runs, captured by
    * a QueryExecutionListener (its events arrive asynchronously). */
  private def servedPlans(body: => String): (String, Seq[SparkPlan]) = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") seen.add(qe.executedPlan): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200) // let any further event of the same request land
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def assertCollectLimitAtRoot(label: String, body: => String): Unit = {
    val (out, plans) = servedPlans(body)
    assert(out.startsWith("""{"records":[{"""), s"$label: $out")
    assert(plans.size == 1, s"$label: ${plans.size} collects")
    val plan = plans.head
    assert(plan.isInstanceOf[CollectLimitExec], s"$label root:\n$plan")
    assert(plan.find(_.isInstanceOf[Exchange]).isEmpty, s"$label has an exchange:\n$plan")
  }

  private def paramFilters(plan: SparkPlan): Seq[FilterExec] = plan.collect {
    case f: FilterExec if f.condition.find(_.isInstanceOf[ParamLiteral]).nonEmpty => f
  }

  test("served point, range and query_parquet requests plan as CollectLimitExec " +
      "at the root with no exchange; ORDER BY plans as TakeOrderedAndProjectExec") {
    val t = T0 + 17 * StepMs
    assertCollectLimitAtRoot("catalog point",
      engine.queryTableEquals(Ns, Tbl, "timestamp", t.toString, limit = 10))
    assertCollectLimitAtRoot("sql point",
      engine.sqlQuery(s"SELECT * FROM $Ns.$Tbl WHERE timestamp = $t"))
    assertCollectLimitAtRoot("catalog range", engine.queryTable(Ns, Tbl, limit = 100,
      filter = Some(Engine.RangeFilter("timestamp", Some(t.toDouble),
        Some((t + 40 * StepMs).toDouble)))))
    assertCollectLimitAtRoot("query_parquet", engine.queryParquet(parquetPath, limit = 5))

    val (out, plans) = servedPlans(engine.sqlQuery(
      s"SELECT timestamp, amount FROM $Ns.$Tbl WHERE timestamp >= $t ORDER BY amount DESC",
      limit = 3))
    assert("\"amount\"".r.findAllIn(out).size == 3, out)
    assert(plans.size == 1 && plans.head.isInstanceOf[TakeOrderedAndProjectExec],
      plans.mkString("\n"))
    // the residual filter carries its bound as a parameter, not as code
    assert(paramFilters(plans.head).nonEmpty, plans.head.toString)
  }

  test("a second request of the same shape with a different value compiles nothing") {
    def compiles(body: => String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      assert(out.startsWith("""{"records":["""), out)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def ts(i: Int): Long = T0 + i * StepMs
    val shapes: Seq[(String, Int => String)] = Seq(
      "catalog point" -> (i => engine.queryTableEquals(Ns, Tbl, "timestamp", ts(i).toString)),
      "sql point" -> (i => engine.sqlQuery(s"SELECT * FROM $Ns.$Tbl WHERE timestamp = ${ts(i)}")),
      "catalog range" -> (i => engine.queryTable(Ns, Tbl, filter = Some(Engine.RangeFilter(
        "timestamp", Some(ts(i).toDouble), Some(ts(i + 30).toDouble))))),
      "sql range" -> (i => engine.sqlQuery(s"SELECT count(*) AS n, sum(amount) AS s " +
        s"FROM $Ns.$Tbl WHERE timestamp BETWEEN ${ts(i)} AND ${ts(i + 30)}")),
      "query_parquet" -> (i => engine.queryParquet(parquetPath, limit = 3 + i % 2)))
    shapes.foreach { case (label, request) =>
      request(11): Unit // compiles the shape once
      assert(compiles(request(250)) == 0, s"$label recompiled for a new value")
    }
  }

  /** The former wire rendering, `epochMillisTimestamps(d).toJSON`, with
    * columns addressed by position so duplicate and dotted names work. */
  private def toJsonRows(d: DataFrame): Seq[String] = {
    val byPosition = d.columns.indices.map(i => s"_c$i")
    d.toDF(byPosition: _*).select(d.schema.fields.zip(byPosition).map { case (f, p) =>
      (f.dataType match {
        case TimestampType => unix_millis(col(p))
        case TimestampNTZType => unix_millis(col(p).cast(TimestampType))
        case _ => col(p)
      }).as(f.name)
    }.toSeq: _*).toJSON.collect().toSeq
  }

  test("records JSON equals the toJSON rendering on a row of every awkward value") {
    val row = spark.sql("""SELECT
        CAST(NULL AS INT) AS nothing,
        CAST('NaN' AS DOUBLE) AS nan, CAST('Infinity' AS DOUBLE) AS pinf,
        CAST('-Infinity' AS DOUBLE) AS ninf, CAST('-0.0' AS DOUBLE) AS negzero,
        CAST('-0.0' AS FLOAT) AS negzerof, CAST('NaN' AS FLOAT) AS nanf,
        CAST(12345.6789 AS DECIMAL(18, 4)) AS dec, CAST(-0.5 AS DECIMAL(38, 20)) AS wide_dec,
        'quote " backslash \\ tab \t newline \n bell \u0007 slash /' AS escaped,
        'ünïcødé ✓ 日本 𝄞' AS unicode,
        X'00FF10' AS bin, DATE'2024-02-29' AS day,
        TIMESTAMP'2024-01-02 03:04:05.678' AS ts,
        TIMESTAMP_NTZ'2024-01-02 03:04:05.678912' AS ntz,
        INTERVAL '3' DAY AS days, INTERVAL '1 02:03:04.5' DAY TO SECOND AS dts,
        INTERVAL '7' HOUR AS hours, INTERVAL '2' YEAR AS years,
        INTERVAL '1-2' YEAR TO MONTH AS ym, INTERVAL '5' MONTH AS months,
        array(1, NULL, 3) AS arr, array(INTERVAL '3' DAY) AS arr_days,
        map('a', 1.5D, 'b', NULL) AS m, map(1, array(CAST(NULL AS STRING), 'x')) AS m2,
        named_struct('x', 1, 'y', named_struct('z', CAST(NULL AS STRING),
          'w', array(TIMESTAMP'2024-01-01 00:00:00'), 'iv', INTERVAL '2' MONTH)) AS nested,
        1 AS dup, 'two' AS dup, 'dotted' AS `a.b`, 3L AS `x.y.z`""")
    val byPosition = row.columns.indices.map(i => s"_c$i")
    val nulls = row.toDF(byPosition: _*).select(row.schema.fields.zip(byPosition)
      .map { case (f, p) => lit(null).cast(f.dataType).as(p) }.toSeq: _*)
      .toDF(row.columns.toSeq: _*)
    val d = row.union(nulls)
    val expected = toJsonRows(d)
    assert(expected.size == 2)
    assert(Engine.wireRows(d).collect().toSeq == expected)
    assert(expected.head.contains(""""a.b":"dotted"""") &&
      expected.head.contains(""""dup":1,"dup":"two""""), expected.head)
    assert(expected(1) == "{}")
  }

  test("ParamLiterals: every comparison gives the same answer as an inlined literal, " +
      "for random literals of each primitive type") {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    // per type: edge values, which form the column (plus a null row), and
    // a generator of nearby values; a literal is an edge value or a sample
    case class Typed(name: String, edges: Seq[Any], near: Gen[Any])
    def instant(micros: Long): Instant = Instant.EPOCH.plusNanos(micros * 1000)
    def local(micros: Long): LocalDateTime = LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000).toInt,
      ZoneOffset.UTC)
    val micros = Seq(-62135596800000000L, -1L, 0L, 1700000000123456L, 253402300799999999L)
    val types = Seq(
      Typed("int", Seq(Int.MinValue, -1, 0, 1, 7, Int.MaxValue), Gen.chooseNum(-10, 10)),
      Typed("long", Seq(Long.MinValue, -1L, 0L, 1L, 42L, Long.MaxValue), Gen.chooseNum(-10L, 50L)),
      Typed("double", Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MaxValue, Double.MinPositiveValue), Gen.chooseNum(-3.0, 3.0)),
      Typed("float", Seq(Float.NaN, -0.0f, 0.0f, 2.5f, -2.5f, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MaxValue), Gen.chooseNum(-3.0f, 3.0f)),
      Typed("short", Seq(Short.MinValue, -1, 0, 9, Short.MaxValue).map(_.toShort),
        Gen.chooseNum(-10, 10).map(_.toShort)),
      Typed("byte", Seq(Byte.MinValue, -1, 0, 3, Byte.MaxValue).map(_.toByte),
        Gen.chooseNum(-5, 5).map(_.toByte)),
      Typed("date", Seq(-719162L, -1L, 0L, 19782L, 2932896L).map(LocalDate.ofEpochDay),
        Gen.chooseNum(-3L, 3L).map(LocalDate.ofEpochDay)),
      Typed("timestamp", micros.map(instant), Gen.chooseNum(-5L, 5L).map(instant)),
      Typed("timestamp_ntz", micros.map(local), Gen.chooseNum(-5L, 5L).map(local)))
    val ops: Seq[(String, (Column, Column) => Column)] = Seq(
      "=" -> (_ === _), "<=>" -> (_ <=> _), "<" -> (_ < _), "<=" -> (_ <= _),
      ">" -> (_ > _), ">=" -> (_ >= _))
    types.zipWithIndex.foreach { case (t, ti) =>
      // try_element_at over an array literal, so no optimizer rule can
      // fold the filter away before it reaches a FilterExec
      val frame = spark.range(0, t.edges.size + 1).select(col("id"),
        try_element_at(array(t.edges.map(lit): _*), (col("id") + 1).cast("int")).as("v"))
      val literals = Gen.listOfN(12, Gen.oneOf(Gen.oneOf(t.edges), t.near))
        .apply(Gen.Parameters.default, rng.Seed(7000L + ti))
        .getOrElse(sys.error("gen failed"))
      literals.foreach { v =>
        val l = lit(v)
        // the inlined-literal answer: every operator projected at once
        val projected = frame.select((col("id") +: ops.map { case (_, op) =>
          op(col("v"), l) }): _*).collect()
        ops.zipWithIndex.foreach { case ((name, op), oi) =>
          val inlined = projected.filter(r => !r.isNullAt(oi + 1) && r.getBoolean(oi + 1))
            .map(_.getLong(0)).toSet
          val filtered = frame.filter(op(col("v"), l))
          assert(paramFilters(filtered.queryExecution.executedPlan).nonEmpty,
            s"${t.name} $name: no ParamLiteral in\n${filtered.queryExecution.executedPlan}")
          val got = filtered.select("id").collect().map(_.getLong(0)).toSet
          assert(got == inlined, s"${t.name} v $name $v: filter $got, literal $inlined")
        }
      }
    }
  }
}
