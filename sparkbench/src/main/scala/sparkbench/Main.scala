package sparkbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run: one workload in one JVM.
  *
  *   sparkbench.Main --workload <name> --seed <n> --trace <0|1>
  *                   --base <dir> --work <dir> --expected <file> [--record]
  *
  * `setup_s` runs from JVM start to the end of set-up (session, listeners
  * when tracing, the first pass's input). Then a cold pass, the
  * workload's untimed warm-up passes and its fixed number of timed
  * passes. The last stdout line is the result object.
  */
object Main {

  final case class Opts(workload: String, seed: Long, trace: Boolean, base: Path, work: Path,
                        expected: Path, record: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--trace") == "1", Paths.get(need("--base")), Paths.get(need("--work")),
      Paths.get(need("--expected")), args.contains("--record"))
  }

  /** A run that could not finish its timed passes within this many
    * seconds after set-up fails rather than end past its time limit. The
    * pass count itself never depends on speed: passes still speed up as the
    * JIT warms, so a faster program given more passes would be measured on
    * warmer ones. */
  private val RunBudgetS = 140.0

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(sys.error(s"unknown workload ${o.workload}"))
    val code = try run(o, w) finally Inputs.deleteTree(o.work)
    sys.exit(code)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Classes Spark's code generator has compiled with Janino so far. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Heap in use after full collections: the data the program still
    * holds. The first collection lets Spark's cleaner drop state whose
    * handles were unreachable; the second, half a second later, frees it
    * (one collection alone read up to 35% more, varying with timing). */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def session(o: Opts, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"sparkbench-${o.workload}")
      .config("spark.sql.shuffle.partitions",
        graft.core.Sizing.shufflePartitions(o.base.toString, cpus).toLong)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.Tables.requiredConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(o: Opts, w: Workload): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(o.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def inDir(p: Int) = o.work.resolve(if (w.freshInputs) s"in-$p" else "in")
    def outDir(p: Int) = o.work.resolve(s"out-$p")
    def passSeed(p: Int) = o.seed * 1000003L + (if (w.freshInputs) p else 0)

    // ---- set-up, timed from JVM start: session, listeners when tracing,
    // the first pass's input (generated while the session starts)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val firstInput = Future {
      val in = new Inputs(o.base, w.tables)
      in.write(inDir(0), passSeed(0))
      in
    }
    val spark = session(o, cpus)
    val tracer = if (!o.trace) None else {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t.listener)
      spark.listenerManager.register(t.planListener)
      Some(t)
    }
    val inputs = Await.result(firstInput, Duration(120, "s"))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    println(s"[sparkbench] ${w.name}: local[$cpus], input rows " +
      inputs.rowCounts.map { case (t, n) => s"$t=$n" }.mkString(" "))

    val check = new Check(o.expected, o.record)
    val spans: Spans = tracer.getOrElse(new Spans.Timed)
    val passWall = ArrayBuffer.empty[Double]
    val passCpu = ArrayBuffer.empty[Double]
    val callMs = ArrayBuffer.empty[Double]
    val layer = ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    val runStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - runStart) / 1e9
    tracer.foreach(_.drain())

    def attempt(f: => Seq[Row]): Either[Throwable, Seq[Row]] =
      try Right(f) catch { case e: Throwable => Left(e) }

    def pass(p: Int): Double = {
      val ctx = new Ctx(spark, spans, inDir(p).toString, outDir(p).toString)
      // by the pass number, not the seed: the order decides how many
      // generated classes Spark's codegen cache still holds, so a seeded
      // order would make the work of a pass depend on the seed
      val order = if (w.shuffle) new scala.util.Random(p).shuffle(w.ops) else w.ops
      val c0 = cpuNs()
      val cg0 = codegenCompiles()
      val t0 = tracer.map(_.nowMs).getOrElse(0.0)
      var wallNs = 0L
      val results = order.map { op =>
        attempted += 1
        val s0 = System.nanoTime()
        val out = attempt(op.run(ctx))
        val ns = System.nanoTime() - s0
        wallNs += ns
        System.err.println(f"[sparkbench] pass $p%d op ${op.name}%s ${ns / 1e6}%.1f ms")
        op -> out
      }
      val lat = spans.takeLatencies()
      val cpu = (cpuNs() - c0) / 1e9
      val wall = wallNs / 1e9
      tracer.foreach { t =>
        val rec = t.drain()
        rec.spans.sortBy(_.t0).foreach { s =>
          val jobs = rec.jobs.count(j => Attribution.owner(j.span, j.start, Map(s.id -> s)).nonEmpty)
          System.err.println(f"[sparkbench] pass $p%d span ${s.layer}%s ${s.name}%s ${s.t1 - s.t0}%.1f ms, $jobs%d jobs")
        }
        val m = Attribution.passMetrics(rec, t0, t0 + wallNs / 1e6)
        layer += m ++ Map(
          "memo.pinned_rdds" -> graft.ops.Leaks.pinnedCount.toDouble,
          "catalyst.codegen_compiles" -> (codegenCompiles() - cg0).toDouble,
          "jvm.heap_after_gc_mb" -> heapAfterGcMb())
      }
      // the output check, after the pass's timing and trace window
      results.foreach { case (op, out) =>
        check(op, p, out.flatMap(rows => attempt(rows ++ op.written(ctx))))
      }
      val timed = p > w.warmupPasses
      if (timed) { passWall += wall; passCpu += cpu; callMs ++= lat }
      val kind = if (p == 0) "cold" else if (timed) "timed" else "warm-up"
      println(f"[sparkbench] pass $p%d $kind%s " +
        f"wall=$wall%.3f s cpu=$cpu%.3f s")
      // between passes, untimed: release cached blocks as the program's
      // long-lived-session contract asks (memo-pinned blocks stay), drop
      // this pass's files, generate the next pass's input
      graft.ops.Leaks.sweep(spark)
      Inputs.deleteTree(outDir(p))
      if (w.freshInputs) {
        Inputs.deleteTree(inDir(p))
        inputs.write(inDir(p + 1), passSeed(p + 1))
      }
      tracer.foreach(_.drain())
      wall
    }

    val cold = pass(0)
    var last = cold
    val passes = w.warmupPasses + w.timedPasses
    for (p <- 1 to passes) {
      if (elapsedS + last > RunBudgetS) {
        System.err.println(f"[sparkbench] ${w.name}: stopped after ${p - 1}%d of " +
          f"$passes%d warm-up and timed passes, $elapsedS%.0f s into the run; a run " +
          f"must finish its passes within $RunBudgetS%.0f s")
        spark.stop()
        return 2
      }
      last = pass(p)
    }
    check.finish()
    // untimed, after the last pass: what the run leaves behind in the
    // session, memo-pinned blocks and memo entries included
    val retainedMb = heapAfterGcMb()

    val failed = check.failures
    val errorRate = failed.toDouble / attempted
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cold_pass_s", cold, "s"),
      ("pass_s", Stats.median(passWall.toSeq), "s"),
      ("cpu_s", Stats.median(passCpu.toSeq), "s"),
      ("retained_heap_mb", retainedMb, "MiB"))
    println(f"[sparkbench] ${w.name}: ${passWall.size}%d timed passes, ${callMs.size}%d call samples")
    e2e.foreach { case (n, v, u) => println(f"[sparkbench] metric $n%-16s $v%.4f $u") }
    // call latencies, printed, not declared (see README): the median, and
    // the tail by the percentile rule, the highest percentile <= 95 with at
    // least 10 samples beyond it
    println(f"[sparkbench] metric op_p50_ms        ${Stats.median(callMs.toSeq)}%.4f ms (${callMs.size}%d samples)")
    Stats.tail(callMs.toSeq).foreach { t =>
      println(f"[sparkbench] metric op_tail_ms       ${t.value}%.4f ms (p${t.percentile}%d of ${t.samples}%d samples)")
    }
    // resident set: printed, not declared, as it follows when the
    // collector grew the heap more than the program's data (see README)
    println(f"[sparkbench] metric peak_rss_mb      ${peakRssMb()}%.4f MiB")
    println(f"[sparkbench] metric error_rate       $errorRate%.4f ratio ($failed%d of $attempted%d ops)")
    val metrics =
      if (!o.trace) e2e.map { case (n, v, u) => n -> (v, u) }
      else {
        val timedLayer = layer.drop(1 + w.warmupPasses)
        val med = layer.head.keys.toSeq.sorted.map(k => k -> Stats.median(timedLayer.map(_(k)).toSeq))
        med.map { case (k, v) => k -> (v, Attribution.unit(k)) }
      }
    println(Json.result(failed == 0, attempted, failed, metrics))
    // stop Spark before the work directory, its scratch space, is deleted
    spark.stop()
    if (failed == 0) 0 else 1
  }
}
