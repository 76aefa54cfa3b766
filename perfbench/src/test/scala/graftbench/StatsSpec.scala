package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble).reverse
    val (v, pct) = Stats.tail(xs)
    assert(v == 30.0, "30 has exactly 10 samples above it in 1..40")
    assert(xs.count(_ > v) == 10)
    assert(pct == 75.0)
    // one more sample moves the tail up by one rank
    assert(Stats.tail((1 to 41).map(_.toDouble))._1 == 31.0)
  }

  test("tail of a sample too small to leave ten beyond a point above the median is its maximum") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == ((11.0, 100.0)))
    assert(Stats.tail((1 to 16).map(_.toDouble)) == ((16.0, 100.0)))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == ((21.0, 100.0)))
    // from 22 samples on, the point ten from the top lies above the median
    assert(Stats.tail((1 to 22).map(_.toDouble)) == ((12.0, 100.0 * 12 / 22)))
  }

  test("the tail is never below the median, whatever the sample size") {
    val r = new scala.util.Random(3)
    (1 to 120).foreach { n =>
      val xs = Seq.fill(n)(r.nextDouble() * 100)
      val (v, pct) = Stats.tail(xs)
      assert(v >= Stats.median(xs), s"n=$n: tail $v below median ${Stats.median(xs)}")
      assert(pct > 50.0, s"n=$n: tail at rank $pct")
    }
  }

  test("median and quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(10.0, 20.0, 30.0), 0.25) == 15.0)
  }

  test("self time subtracts the union of child intervals, overlaps counted once") {
    val spans = Seq(
      Span(1, "parent", 0, 0L, 100L),
      Span(2, "a", 1, 10L, 40L),
      Span(3, "b", 1, 30L, 60L), // overlaps a: 10..60 covered once
      Span(4, "c", 1, 90L, 120L), // runs past the parent: only 90..100 counts
      Span(5, "leaf", 2, 15L, 20L))
    val self = Trace.selfNs(spans)
    assert(self(1) == 100L - 50L - 10L)
    assert(self(2) == 30L - 5L)
    assert(self(5) == 5L)
    assert(Trace.selfMs(spans)("a") == 25L / 1e6)
  }
}
