package perfbench

/** Self-tests of the tracer's attribution on synthetic listener events
  * (no Spark needed). Exits non-zero on the first failed check. */
object SelfTest {
  private var failures = 0
  private def check(what: String, got: Any, want: Any): Unit =
    if (got == want) println(s"ok   $what")
    else { failures += 1; println(s"FAIL $what: got $got, want $want") }

  def main(args: Array[String]): Unit = {
    check("union of disjoint intervals",
      Intervals.unionLength(Seq((0L, 10L), (20L, 25L)), 0L, 100L), 15L)
    check("union of overlapping and nested intervals",
      Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L), (30L, 40L)), 0L, 100L), 25L)
    check("union clipped to the span",
      Intervals.unionLength(Seq((0L, 10L), (5L, 15L)), 8L, 12L), 4L)

    // Two concurrent jobs (AQE-style) in two spans. Job 2 starts after
    // job 1 but tasks of job 1's stage finish after job 2 started: a
    // "newest unfinished job" rule would charge them to job 2.
    val a = new Attribution
    a.jobStart(1, 100L, Seq(10, 11), span = 7L)
    a.jobStart(2, 120L, Seq(12, 11), span = 8L) // stage 11 already owned by job 1
    a.taskEnd(10, 30L, 1000L, 5L)
    a.taskEnd(12, 20L, 10L, 1L)
    a.taskEnd(11, 40L, 500L, 0L)   // finishes while both jobs run
    a.taskEnd(99, 50L, 0L, 0L)     // unknown stage: attributed to nobody
    a.jobEnd(2, 150L)
    a.jobEnd(1, 180L)
    val w7 = a.workOf(7L).get
    val w8 = a.workOf(8L).get
    check("tasks follow stage → job → span", (w7.tasks, w8.tasks), (2L, 1L))
    check("task time per span", (w7.taskMs, w8.taskMs), (70L, 20L))
    check("shuffle bytes per span", (w7.shuffleBytes, w8.shuffleBytes), (1500L, 10L))

    // Parent span 1 (0..200 ms) with child spans 2 (10..60) and 3
    // (50..100); jobs overlap each other and the children.
    val spans = Seq(
      Span(1L, "parent", 0L, 0L, 200L, 200000000L),
      Span(2L, "child", 1L, 10L, 60L, 50000000L),
      Span(3L, "child", 1L, 50L, 100L, 50000000L))
    val b = new Attribution
    b.jobStart(1, 20L, Seq(1), span = 2L)
    b.jobStart(2, 30L, Seq(2), span = 2L)
    b.jobEnd(1, 40L)
    b.jobEnd(2, 50L)            // jobs 1 and 2 overlap: union 20..50 = 30 ms
    b.jobStart(3, 70L, Seq(3), span = 3L)
    b.jobEnd(3, 90L)
    b.jobStart(4, 150L, Seq(4), span = 1L)
    b.jobEnd(4, 160L)
    b.phase(5L, 9L)             // parent only: before the first child
    b.phase(12L, 18L)           // inside child 2
    val reps = SpanReport.build(spans, b, _ => 0L).map(r => r.span.id -> r).toMap
    check("job time is the union, not the sum", reps(2L).jobMs, 30L)
    check("parent includes children's jobs", (reps(1L).jobs, reps(1L).jobMs), (4L, 60L))
    check("self time subtracts the union of children", reps(1L).selfMs, 110.0)
    check("child self time", reps(2L).selfMs, 50.0)
    check("catalyst phase goes to the innermost span",
      (reps(1L).catalystMs, reps(2L).catalystMs, reps(3L).catalystMs), (10L, 6L, 0L))
    check("gap is wall minus busy time", reps(2L).gapMs, 50.0 - 36.0)

    if (failures > 0) { println(s"$failures self-test(s) failed"); System.exit(1) }
    println("all self-tests passed")
  }
}
