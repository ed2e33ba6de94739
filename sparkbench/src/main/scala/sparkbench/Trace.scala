package sparkbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The span helper ops call. Every implementation records each call's
  * latency; untraced runs use [[Spans.Timed]], which touches nothing in
  * Spark, so end-to-end timings carry no tracing cost. */
trait Spans {
  def span[T](layer: String, name: String)(body: => T): T

  private val latencies = new ConcurrentLinkedQueue[java.lang.Double]()

  protected def recordMs(ms: Double): Unit = latencies.add(ms)

  /** Call latencies in milliseconds since the previous call. */
  def takeLatencies(): Vector[Double] = {
    val b = Vector.newBuilder[Double]
    var x = latencies.poll()
    while (x != null) { b += x.doubleValue; x = latencies.poll() }
    b.result()
  }
}

object Spans {
  final class Timed extends Spans {
    def span[T](layer: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally recordMs((System.nanoTime() - t0) / 1e6)
    }
  }

  /** The local property a traced span sets for the jobs its thread runs. */
  val Property = "sparkbench.span"

  /** The module layers, named by their package under `graft`. */
  val Layers: Seq[String] =
    Seq("io", "ops", "stats", "ml", "text", "sim", "pipelines", "queries")
}

/** A closed span. Times are epoch milliseconds on the clock Spark stamps
  * job and stage events with, with sub-millisecond resolution. */
final case class SpanRec(id: Long, parent: Long, layer: String, name: String,
                         t0: Double, t1: Double, failed: Boolean)

/** A job, and the span whose property it carried (-1 when none). */
final case class JobRec(id: Int, span: Long, start: Double, end: Double,
                        failed: Boolean)

/** Task totals of one stage attempt, with the span property of the job
  * that submitted it. */
final case class StageRec(span: Long, submitted: Double, tasks: Long,
                          emptyTasks: Long, cpuMs: Double,
                          schedDelayMs: Double, gcMs: Double,
                          shuffleWriteB: Long, spillB: Long)

/** Span recording plus the listeners that attribute Spark's work to spans.
  *
  * A span sets [[Spans.Property]] on the calling thread for its duration;
  * Spark copies local properties into every job and stage the thread
  * submits. A job or stage counts for the span named by its property only
  * if it started while that span was open; a job with no property (a pool
  * thread created before any span) or with a stale one (a pool thread that
  * inherited the property of a span that has since closed) counts as
  * unattributed. Nothing is assigned to a span by time overlap alone.
  */
final class Tracer(sc: SparkContext) extends Spans {
  private val ids = new AtomicLong(0)
  /** Open span ids on this thread, innermost first. */
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()
  private val planNs = new AtomicLong(0)
  private val actions = new AtomicLong(0)
  /** Nanoseconds spent in span bookkeeping and listener callbacks. */
  private val costNs = new AtomicLong(0)

  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis().toDouble
  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  def span[T](layer: String, name: String)(body: => T): T = {
    val c0 = System.nanoTime()
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val prev = sc.getLocalProperty(Spans.Property)
    sc.setLocalProperty(Spans.Property, id.toString)
    val t0 = nowMs
    stack.set(id :: outer)
    costNs.addAndGet(System.nanoTime() - c0)
    var failed = true
    try { val r = body; failed = false; r }
    finally {
      val t1 = nowMs
      val c1 = System.nanoTime()
      stack.set(outer)
      sc.setLocalProperty(Spans.Property, prev)
      spans.add(SpanRec(id, outer.headOption.getOrElse(-1L), layer, name, t0, t1, failed))
      recordMs(t1 - t0)
      costNs.addAndGet(System.nanoTime() - c1)
    }
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Property)))
      .map(_.toLong).getOrElse(-1L)

  private final class StageAcc(val span: Long, val submitted: Double) {
    var tasks, empty, shuffleW, spill = 0L
    var cpuMs, schedMs, gcMs = 0.0
  }

  private def timed(f: => Unit): Unit = {
    val c0 = System.nanoTime()
    f
    costNs.addAndGet(System.nanoTime() - c0)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobStarts.put(e.jobId, (spanOf(e.properties), e.time.toDouble))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val (s, t0) = Option(jobStarts.remove(e.jobId)).getOrElse((-1L, e.time.toDouble))
      jobs.add(JobRec(e.jobId, s, t0, e.time.toDouble,
        !e.jobResult.isInstanceOf[JobSucceeded.type]))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val i = e.stageInfo
      stageAcc.put((i.stageId, i.attemptNumber()), new StageAcc(spanOf(e.properties),
        i.submissionTime.map(_.toDouble).getOrElse(nowMs)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val acc = stageAcc.get((e.stageId, e.stageAttemptId))
      val m = e.taskMetrics
      if (acc != null && m != null) acc.synchronized {
        val info = e.taskInfo
        acc.tasks += 1
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          acc.empty += 1
        acc.cpuMs += m.executorCpuTime / 1e6
        acc.gcMs += m.jvmGCTime
        acc.shuffleW += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        // the Spark UI's scheduler delay
        acc.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val acc = stageAcc.remove((i.stageId, i.attemptNumber()))
      if (acc != null) acc.synchronized {
        stages.add(StageRec(acc.span, acc.submitted, acc.tasks, acc.empty,
          acc.cpuMs, acc.schedMs, acc.gcMs, acc.shuffleW, acc.spill))
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      actions.incrementAndGet()
      planNs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs)
        .sum * 1000000L)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** Waits for the listener bus, then hands over and forgets everything
    * recorded since the previous drain. */
  def drain(): Recorded = {
    org.apache.spark.sparkbench.Bus.drain(sc)
    def take[A](q: ConcurrentLinkedQueue[A]): Vector[A] = {
      val b = Vector.newBuilder[A]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Recorded(take(spans), take(jobs), take(stages),
      planNs.getAndSet(0) / 1e6, actions.getAndSet(0), costNs.getAndSet(0) / 1e6)
  }
}

/** Everything recorded over one window. */
final case class Recorded(spans: Vector[SpanRec], jobs: Vector[JobRec],
                          stages: Vector[StageRec], planMs: Double,
                          actions: Long, costMs: Double)
