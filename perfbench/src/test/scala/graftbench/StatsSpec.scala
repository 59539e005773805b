package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail percentile is the highest one with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("quantiles interpolate like Python's inclusive statistics.quantiles") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 10.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.quantile(xs, 0.25) == 2.0)
    assert(math.abs(Stats.quantile(xs, 0.9) - 7.6) < 1e-12)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
  }

  test("the Harrell-Davis quantile is a smooth estimate of the same quantile") {
    assert(math.abs(Stats.hdQuantile(Seq.fill(7)(3.0), 0.9) - 3.0) < 1e-9)
    assert(math.abs(Stats.hdQuantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.5) - 3.0) < 1e-9)
    val xs = Seq(5.0, 1.0, 9.0, 2.0, 7.0, 3.0)
    assert(Stats.hdQuantile(xs, 0.5) < Stats.hdQuantile(xs, 0.9))
    assert(Stats.hdQuantile(xs, 0.9) <= xs.max && Stats.hdQuantile(xs, 0.5) >= xs.min)
  }
}

class LedgerSpec extends AnyFunSuite {
  test("a call that throws is a failure and adds no latency sample") {
    val l = new Ledger
    assert(l.run[Int](throw new IllegalStateException("boom"))(_ => true).isEmpty)
    assert(l.attempted == 1 && l.failed == 1 && l.latencies.isEmpty)
  }

  test("a wrong answer is a failure and adds no latency sample") {
    val l = new Ledger
    assert(l.run(41)(_ == 42).isEmpty)
    assert(l.run(42)(_ => throw new RuntimeException("check blew up")).isEmpty)
    assert(l.attempted == 2 && l.failed == 2 && l.latencies.isEmpty)
  }

  test("only checked successes become samples") {
    val l = new Ledger
    assert(l.run(42)(_ == 42).exists(_ >= 0.0))
    l.run(0)(_ == 42)
    assert(l.attempted == 2 && l.failed == 1 && l.latencies.length == 1)
  }
}
