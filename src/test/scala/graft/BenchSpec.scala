package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def at(secs: Double*): Seq[(Double, Double)] =
    secs.zipWithIndex.map { case (s, i) => (i.toDouble, s) }

  test("settle indicator: last-half least-squares slope in percent of the median") {
    // settled reps after a slow first half read 0
    assert(Bench.settlePct(at(5.0, 4.0, 3.0, 2.0, 2.0, 2.0, 2.0), 2.0) == 0.0)
    // still falling by 0.1 s per rep over the last half: -0.1 / 2.0 = -5 %
    val falling = Bench.settlePct(at(3.0, 2.6, 2.4, 2.3, 2.2, 2.1, 2.0), 2.0)
    assert(math.abs(falling + 5.0) < 1e-9, falling)
    // the slope runs over rep indices, so a dropped rep leaves a gap
    val gap = Bench.settlePct(Seq((0.0, 3.0), (1.0, 2.6), (3.0, 2.4), (5.0, 2.0)), 2.0)
    assert(math.abs(gap + 10.0) < 1e-9, gap)
    // fewer than two reps in the last half carry no slope
    assert(Bench.settlePct(at(2.0), 2.0) == 0.0)
  }
}
