package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("the reported tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(99).contains(0.5))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(999).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(Seq(3.0), 0.9) == 3.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("self time is the span minus the union of its children, clipped to it") {
    val spans = Seq(
      Span(1, 0, "harness", "pass", 0, 100),
      Span(2, 1, "sparkentry", "construct", 10, 30),
      Span(3, 1, "exec", "collect", 20, 50), // overlaps construct: counted once
      Span(4, 1, "exec", "late job", 90, 120), // only 90..100 lies inside the pass
      Span(5, 3, "catalyst", "planning", 20, 25))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(3) == 30 - 5)
    assert(self(5) == 5)
    val byLayer = Spans.layerSelfMs(spans, Set(1))
    assert(byLayer == Map("harness" -> 50.0, "sparkentry" -> 20.0, "exec" -> 55.0, "catalyst" -> 5.0))
  }

  test("jobs nest under the call that was running, never under a concurrent job") {
    val spans = Spans.nest(Seq(
      Span(1, 0, "staging", "stageAll", 0, 100),
      Span(2, -1, "exec", "job a", 10, 80, "job"),
      Span(3, -1, "exec", "job b", 20, 30, "job"),
      Span(4, -1, "catalyst", "planning", 5, 6, "phase"),
      Span(5, -1, "exec", "stray job", 200, 210, "job")))
    val parent = spans.map(s => s.id -> s.parent).toMap
    assert(parent(2) == 1 && parent(3) == 1 && parent(4) == 1)
    assert(parent(5) == 0)
  }

  test("open-loop sends follow the schedule; a slow send makes later records late, not later-due") {
    var now = 0.0
    val sent = scala.collection.mutable.ArrayBuffer[(Int, Int, Double, Double)]()
    val due = Seq(0.0, 10.0, 20.0, 30.0, 40.0)
    val run = Schedule.drive(due, () => now, ms => now += ms) { (from, until, d) =>
      sent += ((from, until, d, now))
      now += (if (from == 1) 25.0 else 1.0) // the second send stalls the producer
    }
    // the stall at t=10..35 leaves records due at 20 and 30 to go together at 35
    assert(sent.map(s => (s._1, s._2)) == Seq((0, 1), (1, 2), (2, 4), (4, 5)))
    assert(sent.map(_._3) == Seq(0.0, 10.0, 20.0, 40.0), "due times never shift")
    assert(run.maxLatenessMs == 15.0)
    assert(run.sends == 4)
    // latency runs from the due time: the record due at 30 waited for the stall
    val commits = Pipeline.commitTimes(
      Seq(Pipeline.Batch(0, 50.0, Map("triggerExecution" -> 10L), 5, Map(0 -> 5L))),
      (0 until 5).map(i => (0, i.toLong)))
    assert(due.zip(commits).map { case (d, c) => c.get - d } == Seq(60.0, 50.0, 40.0, 30.0, 20.0))
  }

  test("the schedule offers rows at the given rate and stops at the phase length") {
    val due = Schedule.due(Seq(2, 0, 3, 1, 4, 2), rowsPerS = 1000.0, seconds = 0.008)
    assert(due == Seq(0.0, 2.0, 2.0, 5.0, 6.0))
  }

  test("records belong to the first batch whose end offset passes them") {
    val batches = Seq(
      Pipeline.Batch(0, 1000.0, Map("triggerExecution" -> 200L), 3, Map(0 -> 2L, 1 -> 1L)),
      Pipeline.Batch(1, 2000.0, Map("triggerExecution" -> 300L), 3, Map(0 -> 4L, 1 -> 2L)))
    val got = Pipeline.commitTimes(batches, Seq((0, 0L), (0, 1L), (1, 0L), (0, 3L), (1, 1L), (1, 5L)))
    assert(got == Seq(Some(1200.0), Some(1200.0), Some(1200.0), Some(2300.0), Some(2300.0), None))
  }
}
