package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the reported percentile is the highest with ten samples beyond it") {
    assert(Stats.supportedPercentile(40).contains(75))
    assert(Stats.supportedPercentile(100).contains(90))
    assert(Stats.supportedPercentile(1000).contains(99))
    assert(Stats.supportedPercentile(20).contains(50))
    assert(Stats.supportedPercentile(30).contains(66))
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(10).isEmpty)
    // the samples strictly above the chosen quantile really number ≥ 10
    for (n <- 20 to 400) {
      val p = Stats.supportedPercentile(n).get
      val xs = (1 to n).map(_.toDouble)
      val q = Stats.quantile(xs, p / 100.0)
      assert(xs.count(_ > q) >= 10, s"n=$n p=$p")
      if (p < 99) {
        val q1 = Stats.quantile(xs, (p + 1) / 100.0)
        assert(n * (1 - (p + 1) / 100.0) < 10 || xs.count(_ > q1) < 10, s"n=$n p=$p")
      }
    }
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(xs, 0.75) == 3.25)
  }

  test("fail_ratio counts a wrong output as a failure, like an exception") {
    val ctx = new Ctx(null, 1L, java.nio.file.Paths.get("unused"))
    ctx.measuring = true
    ctx.call("good")(1)(v => Check.eq("value", v, 1))
    ctx.call("wrong")(2)(v => Check.eq("value", v, 3))
    intercept[IllegalStateException] {
      ctx.call("throws")(throw new IllegalStateException("boom"))(_ => ())
    }
    assert(ctx.outcomes.map(_.ok) == Seq(true, false, false))
    assert(ctx.outcomes(1).error.get.startsWith("wrong output"))
    assert(Stats.failRatio(ctx.outcomes.toSeq) == 2.0 / 3)
    assert(Stats.failRatio(Nil) == 0.0)
  }
}
