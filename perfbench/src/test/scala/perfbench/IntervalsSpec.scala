package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  test("covered sums disjoint intervals and merges overlapping ones") {
    assert(Intervals.covered(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    assert(Intervals.covered(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    assert(Intervals.covered(Seq((0L, 50L), (10L, 20L), (30L, 40L)), 0, 100) == 50)
    assert(Intervals.covered(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
    assert(Intervals.covered(Seq((30L, 40L), (0L, 10L)), 0, 100) == 20)
  }

  test("covered clips to the window and ignores what falls outside") {
    assert(Intervals.covered(Seq((-10L, 10L), (90L, 200L)), 0, 100) == 20)
    assert(Intervals.covered(Seq((200L, 300L), (5L, 5L)), 0, 100) == 0)
    assert(Intervals.covered(Nil, 0, 100) == 0)
    // a job still running when the span closed
    assert(Intervals.covered(Seq((50L, Long.MaxValue)), 0, 100) == 50)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    SpanRec(id, s"s$id", parent, start, end)

  test("self time is wall time minus the union of child spans") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 90), span(3, 2, 60, 70))
    val stats = SpanStats.of(spans, Nil).map(s => s.rec.id -> s).toMap
    assert(stats(0).selfNanos == 100 - 20 - 40)
    assert(stats(1).selfNanos == 20)
    assert(stats(2).selfNanos == 40 - 10)
    assert(stats(3).selfNanos == 10)
  }

  test("driver time is wall time with no job of the subtree running") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 60))
    val jobs = Seq(
      JobRec(span = 1, start = 20, end = 40, tasks = 4, taskNanos = 70),
      JobRec(span = 1, start = 30, end = 50, tasks = 2, taskNanos = 30), // overlaps the first
      JobRec(span = 0, start = 80, end = 90, tasks = 1, taskNanos = 10),
      JobRec(span = -1, start = 0, end = 100, tasks = 9, taskNanos = 99)) // outside any span
    val stats = SpanStats.of(spans, jobs).map(s => s.rec.id -> s).toMap
    assert(stats(1).driverNanos == 50 - 30)
    assert(stats(1).jobs == 2 && stats(1).tasks == 6 && stats(1).taskNanos == 100)
    // the parent counts its child's jobs too
    assert(stats(0).driverNanos == 100 - 30 - 10)
    assert(stats(0).jobs == 3 && stats(0).tasks == 7 && stats(0).taskNanos == 110)
  }

  test("unstolen time scales wall time by the share of asked-for CPU time the process got") {
    assert(ProcessCpu.unstolen(10.0, cpu = 20.0, stolen = 0.0) == 10.0)
    assert(ProcessCpu.unstolen(10.0, cpu = 15.0, stolen = 5.0) == 7.5)
    // no CPU time asked for: nothing to scale by
    assert(ProcessCpu.unstolen(2.0, cpu = 0.0, stolen = 0.0) == 2.0)
    // a counter read out of order cannot make time grow
    assert(ProcessCpu.unstolen(4.0, cpu = 8.0, stolen = -0.01) == 4.0)
    val s = SpanRec(0, "s", -1, 0L, 4000000000L, cpu = 6.0, stolen = 2.0)
    assert(s.unstolenS == 3.0)
  }
}
