package sparkbench

/** Pure arithmetic over one pass's recorded spans, jobs and stages. */
object Attribution {

  type Interval = (Double, Double)

  /** Sorted, disjoint cover of `xs`. */
  def union(xs: Seq[Interval]): Vector[Interval] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(Vector.empty[Interval]) {
        case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
        case (acc, x) => acc :+ x
      }

  def length(xs: Seq[Interval]): Double = union(xs).map { case (a, b) => b - a }.sum

  /** `x` minus every interval in `cut`. */
  def minus(x: Interval, cut: Seq[Interval]): Vector[Interval] =
    union(cut).foldLeft(Vector(x)) { (acc, c) =>
      acc.flatMap { case (a, b) =>
        Vector((a, math.min(b, c._1)), (math.max(a, c._2), b)).filter { case (p, q) => q > p }
      }
    }

  /** Length of the overlap between `xs` and `ys`. */
  def overlap(xs: Seq[Interval], ys: Seq[Interval]): Double = {
    val u = union(ys)
    union(xs).map { case (a, b) =>
      u.map { case (c, d) => math.max(0.0, math.min(b, d) - math.max(a, c)) }.sum
    }.sum
  }

  /** A span's own time: its interval minus its direct children's. */
  def selfIntervals(s: SpanRec, all: Seq[SpanRec]): Vector[Interval] =
    minus((s.t0, s.t1), all.filter(_.parent == s.id).map(c => (c.t0, c.t1)))

  /** The span an event counts for: the one its property names, if that
    * span was open when the event started; otherwise none. Spark stamps
    * events in whole milliseconds, rounded down, so an event stamped
    * `start` began in [start, start + 1). */
  def owner(spanId: Long, start: Double, byId: Map[Long, SpanRec]): Option[SpanRec] =
    byId.get(spanId).filter(s => start + 1 > s.t0 && start <= s.t1)

  /** Unit of a per-pass counter, from its name. */
  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_b")) "B"
    else if (name.endsWith("_mb")) "MiB"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("_ratio") || name.endsWith("coverage")) "ratio"
    else "count"

  /** Per-layer and engine-wide counters for one pass that ran from
    * `passStart` to `passEnd`. */
  def passMetrics(r: Recorded, passStart: Double, passEnd: Double)
  : Map[String, Double] = {
    val byId = r.spans.map(s => s.id -> s).toMap
    val jobUnion = union(r.jobs.map(j => (j.start, j.end)))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val jobOwner = r.jobs.map(j => j -> owner(j.span, j.start, byId))
    val stageOwner = r.stages.map(s => s -> owner(s.span, s.submitted, byId))
    for (l <- Spans.Layers) {
      val ss = r.spans.filter(_.layer == l)
      val self = ss.map(s => s -> selfIntervals(s, r.spans))
      val st = stageOwner.collect { case (s, Some(o)) if o.layer == l => s }
      out(s"$l.calls") = ss.size
      out(s"$l.self_ms") = self.map(x => length(x._2)).sum
      out(s"$l.driver_ms") = self.map { case (_, xs) =>
        length(xs) - overlap(xs, jobUnion) }.sum
      out(s"$l.jobs") = jobOwner.count { case (_, o) => o.exists(_.layer == l) }
      out(s"$l.tasks") = st.map(_.tasks).sum.toDouble
      out(s"$l.task_cpu_ms") = st.map(_.cpuMs).sum
      out(s"$l.sched_wait_ms") = st.map(_.schedDelayMs).sum
      out(s"$l.shuffle_b") = st.map(_.shuffleWriteB).sum.toDouble
      out(s"$l.failed") = ss.count(_.failed) +
        jobOwner.count { case (j, o) => j.failed && o.exists(_.layer == l) }
    }
    val tasks = r.stages.map(_.tasks).sum
    val wall = passEnd - passStart
    out("catalyst.plan_ms") = r.planMs
    out("catalyst.actions") = r.actions.toDouble
    out("scheduler.jobs") = r.jobs.size
    out("scheduler.sched_delay_ms") = r.stages.map(_.schedDelayMs).sum
    out("exec.tasks") = tasks.toDouble
    out("exec.task_cpu_ms") = r.stages.map(_.cpuMs).sum
    out("exec.gc_ms") = r.stages.map(_.gcMs).sum
    out("exec.empty_task_ratio") =
      if (tasks == 0) 0.0 else r.stages.map(_.emptyTasks).sum.toDouble / tasks
    out("shuffle.write_b") = r.stages.map(_.shuffleWriteB).sum.toDouble
    out("shuffle.spill_b") = r.stages.map(_.spillB).sum.toDouble
    out("trace.unattributed_jobs") = jobOwner.count(_._2.isEmpty)
    out("trace.span_coverage") =
      if (wall <= 0) 0.0
      else length(r.spans.filter(_.parent < 0).map(s => (s.t0, s.t1))) / wall
    out("trace.overhead_pct") = if (wall <= 0) 0.0 else 100.0 * r.costMs / wall
    out.toMap
  }
}
