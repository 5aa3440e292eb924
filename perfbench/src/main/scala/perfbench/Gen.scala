package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Every table is a pure function of the seed, written to
  * parquet under the run's work directory, so the same seed always gives
  * the same bytes of input and the expected answers can be derived here
  * without asking the engine.
  */
object Gen {

  // ------------------------------------------------------ purchase events

  /** The reference generator's derived fields for an event stamped
    * `ts` (epoch ms), restated independently of the engine's code.
    */
  final case class Event(ts: Long) {
    def userNum: Long = Math.floorMod(ts, 1000L)
    def userId: String = s"user_$userNum"
    def amount: Double = Math.floorMod(ts / 10L, 1000L) / 100.0
    def name: String = s"User Name $userNum"
    def age: Int = (Math.floorMod(userNum, 50L) + 18L).toInt
    def email: String = s"user$userNum@example.com"
    def previous: Seq[Double] =
      (0 until 3).map(i => Math.floorMod((ts - i * 1000L) * 100L, 1000L) / 100.0)
  }

  /** The same check as SQL over a table of events: the number of rows
    * whose derived fields disagree with the generator.
    */
  def eventMismatchSql(table: String): String =
    s"""SELECT count(*) AS bad FROM $table WHERE NOT (
       |  user_id = concat('user_', CAST(pmod(timestamp, 1000) AS STRING))
       |  AND action = 'purchase'
       |  AND abs(amount - pmod(timestamp div 10, 1000) / 100.0) < 1e-9
       |  AND user_details.name = concat('User Name ', CAST(pmod(timestamp, 1000) AS STRING))
       |  AND user_details.age = pmod(pmod(timestamp, 1000), 50) + 18
       |  AND user_details.email = concat('user', CAST(pmod(timestamp, 1000) AS STRING), '@example.com')
       |  AND size(previous_purchases) = 3
       |  AND abs(previous_purchases[0] - pmod(timestamp * 100, 1000) / 100.0) < 1e-9
       |  AND abs(previous_purchases[2] - pmod((timestamp - 2000) * 100, 1000) / 100.0) < 1e-9
       |  AND purchase_metadata['device'] = 'mobile'
       |  AND size(purchase_metadata) = 4)""".stripMargin

  /** Serve table layout: a seed-chosen start and a step that is not a
    * multiple of 1000 ms, so `user_id = ts % 1000` spreads over all
    * 1,000 users and every file holds every user.
    */
  final case class EventRange(startMs: Long, stepMs: Long, count: Int) {
    def ts(i: Long): Long = startMs + i * stepMs
    /** Index range [lo, hi] of events with ts in [a, b]. */
    def indexRange(a: Long, b: Long): (Long, Long) = {
      val lo = math.max(0L, Math.floorDiv(a - startMs + stepMs - 1, stepMs))
      val hi = math.min(count - 1L, Math.floorDiv(b - startMs, stepMs))
      (lo, hi)
    }
  }

  def eventRange(seed: Long, count: Int): EventRange = {
    val r = new scala.util.Random(seed)
    // 2023-11-14 plus up to ~300 days, on a whole second
    EventRange(1700000000000L + r.nextInt(300) * 86400000L + r.nextInt(86400) * 1000L,
      1237L, count)
  }

  // --------------------------------------------------------- batch tables

  private val Vocab = ("a the data spark stream batch query table column row key value " +
    "group sort hash join merge filter scan window agg order line part customer vector " +
    "fast slow big small").split(' ')
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val Statuses = Seq("O", "F", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private def cents(r: scala.util.Random, max: Double): Double =
    math.round(r.nextDouble() * max * 100) / 100.0

  private def day(r: scala.util.Random): LocalDateTime =
    LocalDateTime.of(1992, 1, 1, 0, 0).plusDays(r.nextInt(3650).toLong)

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      date: LocalDateTime, priority: String) {
    def row: Row = Row(key, cust, status, price, date, priority)
  }

  def orders(seed: Long, n: Int): IndexedSeq[Order] = {
    val r = new scala.util.Random(seed ^ 0x6f72646572L)
    val customers = math.max(10, n / 10)
    (0 until n).map(i => Order(i.toLong, 1L + r.nextInt(customers),
      Statuses(r.nextInt(3)), cents(r, 500000), day(r), Priorities(r.nextInt(5))))
  }

  /** Word-salad documents; one in twenty repeats an earlier document
    * with one word changed, so the dedup queries have pairs to find.
    */
  def documents(seed: Long, n: Int): IndexedSeq[Row] = {
    val r = new scala.util.Random(seed ^ 0x646f6373L)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val text =
        if (i > 20 && r.nextInt(20) == 0) {
          val words = texts(r.nextInt(texts.length)).split(' ')
          words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.length))
          words.mkString(" ")
        } else Seq.fill(10 + r.nextInt(60))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
  }

  /** Unit vectors around ten label centres. */
  def embeddings(seed: Long, n: Int, dim: Int = 64): IndexedSeq[Row] = {
    val r = new scala.util.Random(seed ^ 0x656d62L)
    val centres = Array.fill(10, dim)(r.nextGaussian())
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centres(label)(d) + 0.8 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String, files: Int = 1): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
}
