package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int): Seq[Double] = scala.util.Random.shuffle((1 to n).map(_.toDouble))

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("below 20 samples no percentile has 10 beyond it: the median, marked undefined") {
    for (n <- Seq(1, 2, 10, 19)) {
      val t = Stats.tail(ramp(n))
      assert(!t.defined && t.pct == 50.0 && t.n == n && t.value == Stats.median(ramp(n)), s"n=$n")
    }
  }

  test("20 samples: p50 has exactly 10 beyond it") {
    val t = Stats.tail(ramp(20))
    assert(t.defined && t.pct == 50.0 && t.value == 10.0)
  }

  test("39 samples stay at p50, 40 reach p75") {
    val a = Stats.tail(ramp(39))
    assert(a.pct == 50.0 && a.value == 20.0)
    val b = Stats.tail(ramp(40))
    assert(b.pct == 75.0 && b.value == 30.0)
  }

  test("the highest ladder percentile with at least 10 samples beyond it") {
    val cases = Seq(99 -> (75.0, 75.0), 100 -> (90.0, 90.0), 199 -> (90.0, 180.0), 200 -> (95.0, 190.0),
      1000 -> (99.0, 990.0), 10000 -> (99.9, 9990.0))
    for ((n, (pct, v)) <- cases) {
      val t = Stats.tail(ramp(n))
      assert(t.defined && t.pct == pct && t.value == v && t.n == n, s"n=$n got $t")
      val beyond = ramp(n).count(_ > t.value)
      assert(beyond >= Stats.TailBeyond, s"n=$n: $beyond samples beyond")
    }
  }
}
