package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate linearly between closest ranks") {
    val xs = Seq(40.0, 10.0, 30.0, 20.0)
    assert(Stats.percentile(xs, 0) == 10.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.median(xs) == 25.0)
    assert(Stats.percentile(xs, 90) == 37.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("percentile rejects no samples and out-of-range ranks") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("geomean is the n-th root of the product and needs positive values") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(5.0)) - 5.0) < 1e-12)
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    intercept[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("result JSON carries correctness, counts and every metric with its unit") {
    val r = new Result
    r.attempted = 3
    r.put("wall_s", 1.25, "s")
    assert(r.json == """{"correct":true,"attempted":3,"failed":0,"metrics":{"wall_s":{"value":1.25,"unit":"s"}}}""")
    r.failed = 1
    assert(r.json.startsWith("""{"correct":false"""))
    intercept[IllegalArgumentException](r.put("wall_s", 2.0, "s"))
  }
}
