package perfbench

import org.scalatest.funsuite.AnyFunSuite
import Stats.{Interval, Pct}

class StatsSpec extends AnyFunSuite {

  test("percentiles report their sample count") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == Pct(3.0, 5))
    assert(Stats.percentile(xs, 0) == Pct(1.0, 5))
    assert(Stats.percentile(xs, 100) == Pct(5.0, 5))
    assert(Stats.percentile(xs, 90).samples == 5)
    assert(math.abs(Stats.percentile(xs, 90).value - 4.6) < 1e-12)
    val empty = Stats.percentile(Nil, 90)
    assert(empty.samples == 0 && empty.value.isNaN)
  }

  test("interval union counts overlapping time once") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq(Interval(0, 10), Interval(5, 15), Interval(20, 25))) == 20.0)
    assert(Stats.unionLength(Seq(Interval(0, 10), Interval(2, 3))) == 10.0)
    assert(Stats.unionLength(Seq(Interval(4, 4), Interval(7, 5))) == 0.0)
  }

  test("self time is the span minus the union of its children") {
    val span = Interval(100, 200)
    assert(Stats.selfTime(span, Nil) == 100.0)
    // two overlapping children cover [110, 150): 40 ms
    assert(Stats.selfTime(span, Seq(Interval(110, 140), Interval(120, 150))) == 60.0)
    // children overhanging both ends are clipped to the span
    assert(Stats.selfTime(span, Seq(Interval(50, 120), Interval(190, 260))) == 70.0)
    assert(Stats.selfTime(span, Seq(Interval(0, 1000))) == 0.0)
  }

  test("job attribution never gives a span more job time than its wall time") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val start = rnd.nextDouble() * 100
      val span = Interval(start, start + rnd.nextDouble() * 50)
      val jobs = Seq.fill(rnd.nextInt(8)) {
        val s = rnd.nextDouble() * 200 - 25
        Interval(s, s + rnd.nextDouble() * 80)
      }
      val t = Stats.attributedTime(span, jobs)
      assert(t >= 0.0 && t <= span.length + 1e-9)
      assert(math.abs(Stats.selfTime(span, jobs) - (span.length - t)) < 1e-9)
    }
  }
}
