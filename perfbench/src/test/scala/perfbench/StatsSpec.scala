package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // 100 samples: p90 leaves exactly 10 above it, p91 only 9
    assert(Stats.tail(xs) == Some((90, 90.0, 100)))
    // 200 samples: p95 leaves 10 above it
    assert(Stats.tail((1 to 200).map(_.toDouble)) == Some((95, 190.0, 200)))
    // order of the samples does not matter
    assert(Stats.tail(xs.reverse) == Stats.tail(xs))
  }

  test("tail: too few samples gives no tail; 11 samples give the 9th percentile") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq.empty).isEmpty)
    val Some((p, v, n)) = Stats.tail((1 to 11).map(_.toDouble))
    assert(n == 11 && p == 9 && v == 1.0)
    assert((1 to 11).count(_ > v) >= 10)
  }

  test("unionLength counts overlapping intervals once, never their sum") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L))) == 20L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (9L, 21L))) == 30L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq.empty) == 0L)
    assert(Stats.unionLength(Seq((5L, 5L))) == 0L)
  }

  test("uncovered: time with no job running, clipped to the window") {
    // two verify branches overlap in [30, 40): the gap is 100 - 60 = 40
    val jobs = Seq((10L, 40L), (30L, 70L))
    assert(Stats.uncovered(0L, 100L, jobs) == 40L)
    // a job sticking out of the window only counts inside it
    assert(Stats.uncovered(20L, 50L, jobs) == 0L)
    assert(Stats.uncovered(0L, 100L, Seq.empty) == 100L)
  }

  test("rowHash ignores row order but sees changed, missing and repeated rows") {
    val rows = Seq(Seq("a", "1"), Seq("b", "2"), Seq("c", "3"))
    val h = Stats.rowHash(rows)
    assert(Stats.rowHash(rows.reverse) == h)
    assert(Stats.rowHash(Seq(rows(2), rows(0), rows(1))) == h)
    assert(Stats.rowHash(rows.init) != h)
    assert(Stats.rowHash(rows :+ rows.head) != h)
    assert(Stats.rowHash(Seq(Seq("a", "1"), Seq("b", "3"), Seq("c", "2"))) != h)
    // cells do not run into each other
    assert(Stats.rowHash(Seq(Seq("ab", "c"))) != Stats.rowHash(Seq(Seq("a", "bc"))))
    assert(Stats.rowHash(Seq.empty) == 0L)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
