package sparkbench

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.SparkSession

/** Job attribution through a real SparkContext: a job counts for the span
  * whose property it carries only if that span is open, and a job from a
  * pool thread that did not inherit the property is reported, never
  * assigned to whatever span happens to be open. */
class TracerSpec extends Spec {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override protected def afterAll(): Unit = spark.stop()

  private def tracer(): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t.listener)
    spark.listenerManager.register(t.planListener)
    t.drain()
    t
  }

  /** Exactly one Spark job with two tasks. */
  private def job(): Long = spark.sparkContext.parallelize(1L to 100L, 2).reduce(_ + _)

  private def metrics(t: Tracer, t0: Double): Map[String, Double] =
    Attribution.passMetrics(t.drain(), t0, t.nowMs)

  test("jobs count for the innermost open span") {
    val t = tracer()
    val t0 = t.nowMs
    t.span("pipelines", "outer") {
      job()
      t.span("ml", "inner")(job())
      t.span("queries", "sql")(spark.range(10).selectExpr("sum(id)").collect())
    }
    val m = metrics(t, t0)
    assert(m("pipelines.jobs") == 1 && m("ml.jobs") == 1)
    assert(m("pipelines.calls") == 1 && m("ml.calls") == 1)
    assert(m("ml.tasks") >= 2 && m("ml.task_cpu_ms") > 0)
    assert(m("trace.unattributed_jobs") == 0)
    assert(m("queries.jobs") >= 1 && m("catalyst.actions") >= 1)
    spark.listenerManager.unregister(t.planListener)
    spark.sparkContext.removeSparkListener(t.listener)
  }

  test("a job from a pool thread that did not inherit the span is unattributed") {
    val t = tracer()
    // the pool thread exists before any span opens, so it carries no property
    val pool = Executors.newSingleThreadExecutor()
    try {
      pool.submit(new Callable[Int] { def call(): Int = 0 }).get()
      val t0 = t.nowMs
      t.span("queries", "q") {
        job()
        pool.submit(new Callable[Long] { def call(): Long = job() }).get()
      }
      val m = metrics(t, t0)
      assert(m("queries.jobs") == 1)
      assert(m("trace.unattributed_jobs") == 1)
      assert(m("scheduler.jobs") == 2)
    } finally pool.shutdown()
    spark.listenerManager.unregister(t.planListener)
    spark.sparkContext.removeSparkListener(t.listener)
  }

  test("a pool thread's stale inherited span does not claim later jobs") {
    val t = tracer()
    var pool: java.util.concurrent.ExecutorService = null
    val t0 = t.nowMs
    // created inside the first span, the thread inherits that span's property
    t.span("sim", "first") {
      pool = Executors.newSingleThreadExecutor()
      pool.submit(new Callable[Int] { def call(): Int = 0 }).get()
    }
    try {
      t.span("text", "second") {
        pool.submit(new Callable[Long] { def call(): Long = job() }).get()
      }
      val m = metrics(t, t0)
      assert(m("sim.jobs") == 0 && m("text.jobs") == 0)
      assert(m("trace.unattributed_jobs") == 1)
      assert(m("sim.tasks") == 0 && m("text.tasks") == 0 && m("exec.tasks") >= 2)
    } finally pool.shutdown()
    spark.listenerManager.unregister(t.planListener)
    spark.sparkContext.removeSparkListener(t.listener)
  }

  test("a span that throws is counted as failed and restores the property") {
    val t = tracer()
    val t0 = t.nowMs
    intercept[IllegalStateException] {
      t.span("io", "boom")(throw new IllegalStateException("boom"))
    }
    assert(spark.sparkContext.getLocalProperty(Spans.Property) == null)
    val m = metrics(t, t0)
    assert(m("io.failed") == 1 && m("io.calls") == 1)
    spark.listenerManager.unregister(t.planListener)
    spark.sparkContext.removeSparkListener(t.listener)
  }
}
