package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest rank picks the smallest sample covering p percent") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.nearestRank(xs, 50) == ((5.0, 5)))
    assert(Stats.nearestRank(xs, 90) == ((9.0, 9)))
    assert(Stats.nearestRank(xs, 91) == ((10.0, 10)))
    assert(Stats.nearestRank(xs, 0) == ((1.0, 1)))
  }

  test("tail is the highest ladder percentile with ten samples beyond it") {
    // too few samples: even the median has only 9 beyond it
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    // 20 samples: p50 has rank 10 and 10 beyond
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((50.0, 10.0, 10)))
    // 40 samples: p75 rank 30, 10 beyond; p90 rank 36 has only 4
    assert(Stats.tail((1 to 40).map(_.toDouble)).contains((75.0, 30.0, 10)))
    // 99 samples: p90 rank 90 has 9 beyond, so it stays at p75
    assert(Stats.tail((1 to 99).map(_.toDouble)).map(_._1).contains(75.0))
    // 100 samples: p90 rank 90, 10 beyond; p95 rank 95 has 5
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains((90.0, 90.0, 10)))
    // 1000 samples: p99 rank 990, 10 beyond
    assert(Stats.tail((1 to 1000).map(_.toDouble)).contains((99.0, 990.0, 10)))
    // the rule is on counts beyond, so sample order does not matter
    val shuffled = new scala.util.Random(7).shuffle((1 to 100).map(_.toDouble))
    assert(Stats.tail(shuffled).contains((90.0, 90.0, 10)))
  }

  test("union length counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (30L, 40L), (35L, 36L))) == 25L)
  }

  test("union length ignores empty and inverted intervals") {
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
    assert(Stats.unionLength(Seq((5L, 5L), (0L, 4L))) == 4L)
  }

  test("union length works at epoch-millisecond magnitudes") {
    val t = 1760000000000L
    assert(Stats.unionLength(Seq((t, t + 500), (t + 200, t + 900), (t + 1000, t + 1100))) == 1000L)
  }

  test("uncovered is the outer length minus the clipped union") {
    assert(Stats.uncovered((0L, 100L), Nil) == 100L)
    assert(Stats.uncovered((0L, 100L), Seq((10L, 20L), (15L, 30L))) == 80L)
    // children reaching outside the outer interval are clipped to it
    assert(Stats.uncovered((0L, 100L), Seq((-50L, 10L), (90L, 200L))) == 80L)
    assert(Stats.uncovered((0L, 100L), Seq((-50L, 200L))) == 0L)
    assert(Stats.uncovered((0L, 100L), Seq((200L, 300L))) == 100L)
  }
}
