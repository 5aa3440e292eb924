package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Span

/** The benchmark's own arithmetic. Run with `sbt test` in perfbench/. */
class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 95) - 4.8) < 1e-9)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.samplesBeyond(200, 95) == 10)
    assert(Stats.samplesBeyond(199, 95) == 9)
  }

  test("visibility latency runs from each event's due time") {
    val due = Array(0L, 10L, 20L, 30L, 200L)
    // the first snapshot holds two events, the second all five
    val polls = Seq((15L, 2L), (240L, 5L))
    val (lat, missed) = Stats.visibilityMs(due, polls, 0L, 100L)
    // events 2 and 3 waited behind a stall until 240 ms: charged from due time
    assert(lat == Seq(15.0, 5.0, 220.0, 210.0))
    assert(missed.isEmpty)
    // an event due outside the window is not sampled
    assert(Stats.visibilityMs(due, polls, 100L, 300L)._1 == Seq(40.0))
  }

  test("an event no snapshot covered is reported, not dropped") {
    val (lat, missed) = Stats.visibilityMs(Array(0L, 10L, 20L), Seq((15L, 1L)), 0L, 100L)
    assert(lat == Seq(15.0))
    assert(missed == Seq(1, 2))
  }

  test("self time charges each instant to the deepest span and adds up to wall time") {
    val root = Span(1, 0, "op", "unaccounted", "root", 0, 100)
    val spans = Seq(root,
      Span(2, 1, "op", "queries", "a", 10, 50),
      Span(3, 2, "op", "catalyst", "b", 20, 30),
      Span(4, 1, "op", "spark", "c", 40, 70),
      // clipped to the root
      Span(5, 1, "op", "core", "d", 90, 130))
    val self = Stats.selfTimeNs(root, spans)
    assert(self == Map("unaccounted" -> 30L, "queries" -> 20L, "catalyst" -> 10L,
      "spark" -> 30L, "core" -> 10L))
    assert(self.values.sum == root.durNs)
  }

  test("spans of other ops never count") {
    val root = Span(1, 0, "op", "unaccounted", "root", 0, 10)
    val other = Span(9, 8, "other", "spark", "x", 0, 10)
    assert(Stats.selfTimeNs(root, Seq(root, other)) == Map("unaccounted" -> 10L))
  }

  test("uncovered time merges overlapping intervals") {
    assert(Stats.uncoveredNs(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    assert(Stats.uncoveredNs(0, 100, Nil) == 100L)
  }

  test("fingerprint ignores row order but not duplicates or values") {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.5), Row(3L, null, 2.5))
    val fp = Fingerprint.of(rows)
    assert(fp == Fingerprint.of(rows.reverse))
    assert(fp.rows == 3)
    assert(fp != Fingerprint.of(rows :+ rows.head))
    assert(fp != Fingerprint.of(Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.5), Row(3L, "", 2.5))))
    assert(fp != Fingerprint.of(Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.5), Row(3L, null, 2.6))))
  }

  test("fingerprint rounds doubles so summation order cannot change it") {
    assert(0.1 + 0.2 != 0.3)
    assert(Fingerprint.of(Seq(Row(0.1 + 0.2))) == Fingerprint.of(Seq(Row(0.3))))
    assert(Fingerprint.of(Seq(Row(1e6 / 3 * 3))) == Fingerprint.of(Seq(Row(1e6))))
    assert(Fingerprint.roundDouble(-0.0) == Fingerprint.roundDouble(0.0))
    assert(Fingerprint.of(Seq(Row(1.0))) != Fingerprint.of(Seq(Row(1.001))))
  }

  test("fingerprint reaches into nested values and sorts map entries") {
    val a = Row(Seq(0.1 + 0.2, 1.0), Map("x" -> 1, "y" -> 2), Row("n", 3))
    val b = Row(Seq(0.3, 1.0), Map("y" -> 2, "x" -> 1), Row("n", 3))
    assert(Fingerprint.of(Seq(a)) == Fingerprint.of(Seq(b)))
    assert(Fingerprint.of(Seq(a)) != Fingerprint.of(Seq(Row(Seq(1.0, 0.3), a.get(1), a.get(2)))))
  }
}
