package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 0.95) == 10.0)
    assert(Stats.percentile(xs.reverse, 0.1) == 1.0)
    assert(Stats.median(xs) == 5.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("samples beyond a percentile") {
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.samplesBeyond(25, 0.6) == 10)
    assert(Stats.samplesBeyond(24, 0.6) == 9)
    assert(Stats.samplesBeyond(200, 0.95) == 10)
    assert(Stats.samplesBeyond(199, 0.95) == 9)
  }

  test("samplesFor is the smallest count at which a percentile is a tail") {
    for (p <- Seq(0.6, 0.75, 0.8, 0.9, 0.95, 0.99)) {
      val n = Stats.samplesFor(p)
      assert(Stats.samplesBeyond(n, p) >= Stats.MinBeyond)
      assert(Stats.samplesBeyond(n - 1, p) < Stats.MinBeyond)
    }
    assert(Stats.samplesFor(0.6) == 25)
    assert(Stats.samplesFor(0.8) == 50)
    assert(Stats.samplesFor(0.95) == 200)
  }

  test("every workload's tails are reportable at its minimum sample counts") {
    for (w <- Workload.all; p <- Seq(w.readTail, w.writeTail))
      assert(Stats.samplesBeyond(Stats.samplesFor(p), p) >= Stats.MinBeyond, s"${w.name} tail $p")
  }
}
