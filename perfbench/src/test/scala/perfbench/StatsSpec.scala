package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile keeps at least 10 samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples leave none for a tail")
    val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t11.value == 1.0 && t11.beyond == 10 && t11.n == 11)
    for (n <- Seq(11, 20, 57, 100, 1000)) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs).get
      assert(xs.count(_ > t.value) >= 10, s"n=$n")
      // and it is the highest such: the next rank up would leave only 9
      assert(xs.count(_ > xs.sorted.apply(xs.sorted.indexOf(t.value) + 1)) < 10, s"n=$n")
    }
    val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t100.pct == 90.0 && t100.value == 90.0)
  }

  test("throughput from per-call medians ignores one slow call and stolen time") {
    val calm = Seq(Seq(1.0, 1.0, 1.0).map(_ -> 0.0), Seq(3.0, 3.0, 3.0).map(_ -> 0.0))
    assert(Stats.opsPerS(2, calm) == 0.5)
    val hiccup = Seq(Seq(1.0 -> 0.0, 9.0 -> 0.0, 1.0 -> 0.0), Seq(3.0, 3.0, 3.0).map(_ -> 0.0))
    assert(Stats.opsPerS(2, hiccup) == 0.5)
    val stolen = Seq(Seq(1.2 -> 0.2, 1.5 -> 0.5, 1.0 -> 0.0), Seq(3.0, 3.3, 3.6).map(t => t -> (t - 3.0)))
    assert(math.abs(Stats.opsPerS(2, stolen) - 0.5) < 1e-9)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("interval union and subtraction") {
    assert(Stats.union(Seq((5L, 7L), (1L, 3L), (2L, 4L))) == List((1L, 4L), (5L, 7L)))
    assert(Stats.subtract(Seq((0L, 10L)), Seq((2L, 3L), (5L, 7L), (9L, 12L))) ==
      List((0L, 2L), (3L, 5L), (7L, 9L)))
    assert(Stats.subtract(Seq((0L, 10L)), Seq((0L, 10L))).isEmpty)
    assert(Stats.length(Seq((0L, 4L), (2L, 6L))) == 6L)
  }

  test("self time is span time minus the time its child spans cover") {
    val root = Span(1, "bench", "run", 0, "r", 0, 100)
    val a = Span(2, "app", "a", 1, "r", 10, 50)
    val a1 = Span(3, "catalog", "c", 2, "r", 12, 20)
    val a2 = Span(4, "catalog", "c", 2, "r", 30, 35)
    val b = Span(5, "land", "b", 1, "r", 60, 90)
    val all = Seq(root, a, a1, a2, b)
    val tab = Layers.table(all, Nil, _ => new Counters)
    assert(tab("bench").selfNs == 100 - 40 - 30)
    assert(tab("app").selfNs == 40 - 8 - 5)
    assert(tab("catalog").selfNs == 13 && tab("catalog").calls == 2)
    assert(tab("land").selfNs == 30)
    assert(tab.values.map(_.selfNs).sum == 100, "self times add up to the root span")
    // a job over [15, 40) covers part of app's and catalog's self time
    val job = JobRec(1, 2, 15, 40, Seq((16L, 39L)))
    val withJob = Layers.table(all, Seq(job), _ => new Counters)
    assert(withJob("app").driverNs == (40 - 8 - 5) - (40 - 20 - 5))
    assert(withJob("catalog").driverNs == 13 - 5 - 5)
    assert(Layers.schedWaitNs(Seq(job)) == 2)
  }
}
