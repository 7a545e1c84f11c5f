package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 75) == 3.25)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.samplesBeyond(99, 90) == 9)
    assert(Stats.samplesBeyond(40, 75) == 10)
    assert(Stats.tailLevel(1000).contains(99))
    assert(Stats.tailLevel(200).contains(95))
    assert(Stats.tailLevel(199).contains(90))
    assert(Stats.tailLevel(100).contains(90))
    assert(Stats.tailLevel(99).contains(75))
    assert(Stats.tailLevel(40).contains(75))
    assert(Stats.tailLevel(39).contains(50))
    assert(Stats.tailLevel(20).contains(50))
    assert(Stats.tailLevel(19).isEmpty)
  }

  test("interval union counts overlaps once and clips to the window") {
    assert(Stats.unionLength(Nil, 0, 10) == 0)
    assert(Stats.unionLength(Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0)), 0, 10) == 5)
    assert(Stats.unionLength(Seq((-5.0, 2.0), (9.0, 20.0)), 0, 10) == 3)
    assert(Stats.unionLength(Seq((1.0, 4.0), (1.0, 4.0)), 0, 10) == 3)
    assert(Stats.unionLength(Seq((11.0, 12.0)), 0, 10) == 0)
  }

  test("span self time is the wall not covered by any child") {
    // two overlapping jobs and one disjoint: children cover 2..6 and 8..9
    val kids = Seq((2.0, 5.0), (4.0, 6.0), (8.0, 9.0))
    assert(Stats.selfTime(0, 10, kids) == 5)
    // a child running past the span's end counts only inside it
    assert(Stats.selfTime(0, 10, Seq((9.0, 30.0))) == 9)
    assert(Stats.selfTime(0, 10, Nil) == 10)
  }

  test("an op's driver gap plus its job busy time is its wall") {
    val op = new OpSpan(0, "query", "q", 0)
    op.startMs = 1000
    op.wallMs = 100
    val a = new JobSpan(1, 1010, ""); a.endMs = 1040
    val b = new JobSpan(2, 1030, ""); b.endMs = 1060
    val c = new JobSpan(3, 1090, ""); c.endMs = 1200 // ends after the op
    op.jobs ++= Seq(a, b, c)
    assert(op.jobBusyMs == 60)
    assert(op.driverGapMs == 40)
    assert(op.driverGapMs + op.jobBusyMs == op.wallMs)
  }
}
