package storebench

import org.scalatest.funsuite.AnyFunSuite

/** Pins the two summary rules the benchmark's numbers rest on: the tail
  * percentile and the driver-time interval union. */
class StatsSpec extends AnyFunSuite {

  test("tail: no percentile qualifies below beyond + 1 samples") {
    assert(Stats.tail(Seq.empty) === None)
    assert(Stats.tail((1 to 10).map(_.toDouble)) === None)
  }

  test("tail: 11 samples give the smallest value with exactly 10 beyond") {
    // nearest rank ceil(p·11/100) must be 1 → p ≤ 9
    assert(Stats.tail((1 to 11).map(_.toDouble)) === Some((9, 1.0, 10)))
  }

  test("tail: 100 samples give p90, 1000 give p99") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) === Some((90, 90.0, 10)))
    val thousand = (1 to 1000).map(_.toDouble)
    // p99 has 10 beyond it; no higher whole percentile exists
    assert(Stats.tail(thousand) === Some((99, 990.0, 10)))
  }

  test("tail: order of the input does not matter, and ties count as beyond") {
    val xs = Seq(5.0, 1.0, 3.0) ++ Seq.fill(20)(2.0)
    val Some((p, v, beyond)) = Stats.tail(xs)
    assert(beyond >= 10)
    assert(Stats.tail(scala.util.Random.shuffle(xs)) === Some((p, v, beyond)))
    // 23 samples: rank ceil(p·23/100) ≤ 13 → p = 56, value is a 2.0
    assert((p, v, beyond) === ((56, 2.0, 10)))
  }

  test("median: odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("covered length: disjoint, overlapping, nested and clipped intervals") {
    assert(Stats.coveredLength(Nil, 0, 100) === 0)
    assert(Stats.coveredLength(Seq((10L, 20L), (30L, 40L)), 0, 100) === 20)
    assert(Stats.coveredLength(Seq((10L, 30L), (20L, 40L)), 0, 100) === 30)
    assert(Stats.coveredLength(Seq((10L, 50L), (20L, 30L)), 0, 100) === 40)
    // touching intervals merge without double counting
    assert(Stats.coveredLength(Seq((10L, 20L), (20L, 30L)), 0, 100) === 20)
    // clipped to the window on both sides; fully outside counts nothing
    assert(Stats.coveredLength(Seq((-5L, 5L), (95L, 120L), (200L, 300L)), 0, 100) === 10)
    // unsorted input
    assert(Stats.coveredLength(Seq((60L, 70L), (10L, 20L), (15L, 65L)), 0, 100) === 60)
  }

  test("driver ms: wall minus the union of job intervals inside the span") {
    // span 0..1000, jobs cover 100..400 and 300..600 → 500 covered
    assert(Stats.driverMs(0, 1000, Seq((100L, 400L), (300L, 600L))) === 500)
    // a span with no jobs is all driver time
    assert(Stats.driverMs(0, 250, Nil) === 250)
    // jobs that cover the whole span leave none
    assert(Stats.driverMs(100, 200, Seq((50L, 300L))) === 0)
  }

  test("recall: share of the reference found, empty reference counts as 1") {
    assert(Stats.recall(Seq(1L, 2L, 3L), Seq(1L, 2L, 4L, 5L)) === 0.5)
    assert(Stats.recall(Nil, Nil) === 1.0)
  }
}
