package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def beyond(xs: Seq[Double], v: Double): Int = xs.count(_ > v)

  test("tail is the highest whole percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(90, 90.0, 100))
    val twenty = (1 to 20).map(_.toDouble).reverse
    assert(Stats.tail(twenty) == Stats.Tail(50, 10.0, 20))
  }

  test("the tail rule holds for every sample count, and one percentile more breaks it") {
    val rnd = new scala.util.Random(7)
    (20 to 400).foreach { n =>
      val xs = Seq.fill(n)(rnd.nextDouble())
      val t = Stats.tail(xs)
      assert(beyond(xs, t.value) >= 10, s"n=$n")
      if (t.pct < 99) {
        val r = math.max(1, ((t.pct + 1) * n + 99) / 100)
        assert(n - r < 10, s"n=$n: percentile ${t.pct + 1} would also qualify")
      }
    }
  }

  test("with fewer than 20 samples the tail is the median's rank, percentile 50") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(50, 2.0, 3))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == Stats.Tail(50, 10.0, 19))
    assert(Stats.tail((1 to 10).map(_.toDouble)).value == 5.0)
  }

  test("the median is the nearest-rank one, and the tail never reads below it") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.0)
    val rnd = new scala.util.Random(3)
    (1 to 60).foreach { n =>
      val xs = Seq.fill(n)(rnd.nextDouble())
      assert(Stats.tail(xs).value >= Stats.median(xs), s"n=$n")
    }
  }
}
