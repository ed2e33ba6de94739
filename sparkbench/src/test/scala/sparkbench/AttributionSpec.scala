package sparkbench

class AttributionSpec extends Spec {

  private def span(id: Long, parent: Long, layer: String, t0: Double, t1: Double) =
    SpanRec(id, parent, layer, s"s$id", t0, t1, failed = false)

  private def job(id: Int, s: Long, t0: Double, t1: Double) = JobRec(id, s, t0, t1, failed = false)

  private def stage(s: Long, at: Double, tasks: Long, cpu: Double) =
    StageRec(s, at, tasks, emptyTasks = 0, cpuMs = cpu, schedDelayMs = 1,
      gcMs = 0, shuffleWriteB = 10, spillB = 0)

  // pipelines [0,100] > ml [10,40] > stats [20,30]; io [50,60] under pipelines
  private val spans = Vector(
    span(1, -1, "pipelines", 0, 100),
    span(2, 1, "ml", 10, 40),
    span(3, 2, "stats", 20, 30),
    span(4, 1, "io", 50, 60))

  test("interval arithmetic") {
    assert(Attribution.union(Seq((5.0, 8.0), (0.0, 2.0), (1.0, 3.0))) == Vector((0.0, 3.0), (5.0, 8.0)))
    assert(Attribution.minus((0.0, 10.0), Seq((2.0, 3.0), (5.0, 12.0))) == Vector((0.0, 2.0), (3.0, 5.0)))
    assert(Attribution.overlap(Seq((0.0, 10.0)), Seq((5.0, 7.0), (6.0, 12.0))) == 5.0)
  }

  test("self time of nested spans subtracts direct children only") {
    val self = spans.map(s => s.layer -> Attribution.length(Attribution.selfIntervals(s, spans))).toMap
    assert(self == Map("pipelines" -> 60.0, "ml" -> 20.0, "stats" -> 10.0, "io" -> 10.0))
    // self times partition the root span
    assert(self.values.sum == 100.0)
  }

  test("per-layer counters: self, driver-only time, jobs, tasks, coverage") {
    val r = Recorded(spans,
      Vector(job(0, 3, 22, 28), job(1, 1, 70, 90), job(2, 2, 12, 16)),
      Vector(stage(3, 22, 4, 8.0), stage(1, 70, 2, 3.0)),
      planMs = 5, actions = 3, costMs = 1)
    val m = Attribution.passMetrics(r, 0, 200)
    assert(m("pipelines.self_ms") == 60.0)
    // pipelines' own time [0,10] [40,50] [60,100] minus its job [70,90]
    assert(m("pipelines.driver_ms") == 40.0)
    assert(m("ml.driver_ms") == 16.0)   // [10,20] [30,40] minus [12,16]
    assert(m("stats.driver_ms") == 4.0) // [20,30] minus [22,28]
    assert(m("stats.jobs") == 1 && m("ml.jobs") == 1 && m("pipelines.jobs") == 1)
    assert(m("stats.tasks") == 4 && m("stats.task_cpu_ms") == 8.0)
    assert(m("pipelines.tasks") == 2 && m("io.tasks") == 0)
    assert(m("exec.tasks") == 6 && m("scheduler.jobs") == 3)
    assert(m("trace.unattributed_jobs") == 0)
    assert(m("trace.span_coverage") == 0.5)
    assert(m("trace.overhead_pct") == 0.5)
    assert(m("ml.calls") == 1 && m("text.calls") == 0)
  }

  test("event times are whole milliseconds, rounded down") {
    val s = Map(1L -> span(1, -1, "ml", 10.6, 20.0))
    assert(Attribution.owner(1, 10, s).nonEmpty) // began in [10, 11), after 10.6
    assert(Attribution.owner(1, 9, s).isEmpty)
    assert(Attribution.owner(1, 20, s).nonEmpty && Attribution.owner(1, 21, s).isEmpty)
    assert(Attribution.owner(2, 15, s).isEmpty)
  }

  test("a job whose span was already closed when it started is unattributed") {
    val r = Recorded(spans,
      Vector(job(0, 2, 45, 47), job(1, -1, 5, 6), job(2, 4, 55, 58)),
      Vector(stage(2, 45, 3, 1.0)), planMs = 0, actions = 0, costMs = 0)
    val m = Attribution.passMetrics(r, 0, 100)
    assert(m("trace.unattributed_jobs") == 2)
    assert(m("ml.jobs") == 0 && m("pipelines.jobs") == 0 && m("io.jobs") == 1)
    // its stage is not assigned to the span open at the time either
    assert(m("ml.tasks") == 0 && m("pipelines.tasks") == 0 && m("exec.tasks") == 3)
  }
}
