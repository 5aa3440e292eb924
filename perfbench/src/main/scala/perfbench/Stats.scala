package perfbench

/** The benchmark's own arithmetic: percentiles, due-time latency and
  * per-layer self time. Pure functions, so the tests pin them without
  * starting Spark.
  */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of unsorted values. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val xs = values.sorted
    val rank = (xs.length - 1) * p / 100.0
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    xs(lo) + (xs(hi) - xs(lo)) * (rank - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** The percentiles a tail is reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile that leaves at least `beyond` samples
    * above it, so a tail figure never rests on a handful of requests.
    * None when even the median has fewer than `beyond` samples past it.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.find(p => samplesBeyond(n, p) >= beyond)

  /** Samples strictly above the `p`th percentile of `n` samples (the
    * epsilon absorbs binary rounding of `100 - p`).
    */
  def samplesBeyond(n: Int, p: Double): Int =
    math.floor(n * (100.0 - p) / 100.0 + 1e-9).toInt

  /** Open-loop visibility latency: event `i` (ascending due times
    * `dueMs`, in the order the source emitted them) becomes visible at
    * the first poll whose snapshot holds more than `i` rows. The latency
    * runs from the event's due time, not from when the engine picked it
    * up, so a stall charges every event that waited behind it.
    *
    * `polls` are (poll time ms, rows visible) in poll order. Events whose
    * due time falls outside [fromMs, toMs) are skipped; an event no poll
    * covered is returned in the second list.
    */
  def visibilityMs(dueMs: Array[Long], polls: Seq[(Long, Long)],
      fromMs: Long, toMs: Long): (Seq[Double], Seq[Int]) = {
    val lat = Seq.newBuilder[Double]
    val missed = Seq.newBuilder[Int]
    var p = 0
    var i = 0
    while (i < dueMs.length) {
      while (p < polls.length && polls(p)._2 <= i) p += 1
      if (dueMs(i) >= fromMs && dueMs(i) < toMs) {
        if (p < polls.length) lat += (polls(p)._1 - dueMs(i)).toDouble
        else missed += i
      }
      i += 1
    }
    (lat.result(), missed.result())
  }

  /** One timed interval of a trace. */
  final case class Span(id: Long, parent: Long, op: String, layer: String,
      name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Per-layer self time inside one root span: every instant of the root
    * is charged to the deepest span covering it (the latest-started one
    * among equals), so the layer totals add up to the root's wall time
    * exactly. A span's self time is thus its duration minus the part its
    * children cover; overlapping siblings are not double-counted. Spans
    * are clipped to the root; the root's own share is returned under
    * `rootLayer`.
    */
  def selfTimeNs(root: Span, spans: Seq[Span],
      rootLayer: String = "unaccounted"): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0
      var cur = s
      while (cur.id != root.id && byId.contains(cur.parent) && d < 64) {
        cur = byId(cur.parent); d += 1
      }
      if (cur.id == root.id) d else -1
    }
    val inside = spans.filter(s => s.id != root.id && depth(s) > 0)
      .map(s => (s.copy(startNs = math.max(s.startNs, root.startNs),
        endNs = math.min(s.endNs, root.endNs)), depth(s)))
      .filter { case (s, _) => s.endNs > s.startNs }
    val cuts = (Seq(root.startNs, root.endNs) ++
      inside.flatMap { case (s, _) => Seq(s.startNs, s.endNs) }).distinct.sorted
    val out = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = inside.filter { case (s, _) => s.startNs <= a && s.endNs >= b }
        val layer =
          if (active.isEmpty) rootLayer
          else active.maxBy { case (s, d) => (d, s.startNs) }._1.layer
        out(layer) += b - a
      case _ => ()
    }
    out.toMap
  }

  /** Time inside [startNs, endNs) that no interval covers. */
  def uncoveredNs(startNs: Long, endNs: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, startNs), math.min(b, endNs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (endNs - startNs) - covered
  }
}
