package graft
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

object Bench {

  /** Accumulates task-level shuffle/spill totals; reset per query so
    * bench_full.json can report measured shuffle volume per query (the
    * 100 TB scale story should ride on bytes, not prose).
    *
    * Also accumulates the CONTENTION-ATTRIBUTION triplet (round-10
    * lesson: the driver's loaded run showed 11-34× wall spikes on
    * byte-flat queries while the CPU-throughput calibration probe stayed
    * flat — unattributable without per-query telemetry): job count (a
    * query's wall multiplies with per-job scheduler latency), summed GC
    * time across tasks (pause bursts), and summed executor run time
    * (task-side CPU-seconds — if wall inflates while this stays flat,
    * the time went to scheduling/queueing, not compute). */
  private class MetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    // max per-task execution-memory peak over the query — the memory
    // analogue of the shuffle budget (a query whose per-task peak doubles
    // is one sf-step from spilling or OOMing an executor)
    val memPeak = new AtomicLong
    val jobs = new AtomicLong
    val gcMs = new AtomicLong
    val execRunMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        memPeak.accumulateAndGet(m.peakExecutionMemory,
          (a: Long, b: Long) => math.max(a, b))
        gcMs.addAndGet(m.jvmGCTime)
        execRunMs.addAndGet(m.executorRunTime)
      }
    }
    def reset(): Unit = {
      shuffleRead.set(0); shuffleWrite.set(0); spill.set(0); memPeak.set(0)
      jobs.set(0); gcMs.set(0); execRunMs.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Session.envCpus
    val spark = graft.core.Session.local(sfDir, cpus)
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    // JVM/codegen/parquet-reader warmup outside the timed loop
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
    // Fixed-work calibration probe: a constant synthetic aggregation (no
    // I/O, no shuffle, data-independent) timed per run so cross-round
    // wall-clock comparisons can normalize machine-wide drift instead of
    // hand-adjudicating it (round-9 lesson: a uniform +20% idle-vs-idle
    // drift with bit-identical shuffle budgets). min of 3 — same
    // JIT/GC-noise discipline as the query loop.
    def calibrationRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 28, 1L, cpus)
        .selectExpr("sum((id * 2654435761) % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationRun() // warm the codegen path before measuring
    val calibrationSec = (1 to 3).map(_ => calibrationRun()).min
    // Per-JOB latency probe: 10 minimal jobs, averaged. calibration_sec is
    // pure CPU throughput and stayed flat across a round-10 episode where
    // EVERY query inflated ~1.8× with bit-identical shuffle bytes — the
    // drift was scheduler/virtualization latency per job, which multiplies
    // with job COUNT, not data volume. The pair (throughput, job latency)
    // adjudicates both drift modes without hand-analysis.
    def jobLatencyRun(): Double = {
      val t0 = System.nanoTime()
      (1 to 10).foreach(_ => spark.range(0L, cpus.toLong, 1L, cpus)
        .selectExpr("count(1)").collect())
      (System.nanoTime() - t0) / 1e9 / 10
    }
    jobLatencyRun() // warm
    val jobLatencySec = (1 to 3).map(_ => jobLatencyRun()).min
    // The driver captures only the LAST 2000 chars of run output (measured:
    // BENCH_r01/r02 tail length == 2000), and sbt appends a ~80-char
    // "[success] Total time" line after our println. A per-query map for ~97
    // queries is ~2.8 KB and gets its head truncated, defeating the driver's
    // JSON parse (BENCH_r02 "parsed": null). So: the stdout line carries the
    // total over ALL queries plus a fixed headline subset of per-query times,
    // and the complete map goes to bench_full.json next to the repo.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // n iterations per query, report the MIN: single-shot timings mixed
    // JIT/GC noise into round-3's numbers (9 queries "regressed" 3-9×
    // with no code change); the min of two runs is the stable signal
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // local-iteration-only name filter (regex), mirroring Verify's 3rd
    // arg: a focused timing run on a handful of queries without paying
    // the full catalog
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    def keep(name: String) = nameFilter.forall(_.findFirstIn(name).isDefined)
    // (time_sec, byte+telemetry counters, codegen compiles) per query;
    // the counters come from the min-time iteration
    val results = SparkEntry.queries.filter(kv => keep(kv._1)).map { case (name, fn) =>
      val runs = (1 to iterations).map { _ =>
        // listener events arrive async: drain so a query's last tasks
        // are not attributed to the next one
        Bridge.drainListenerBus(spark.sparkContext)
        listener.reset()
        // Janino compiles are JVM-wide (driver and local task threads);
        // a warm re-run of a query should compile nothing
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        Bridge.drainListenerBus(spark.sparkContext)
        val m = (listener.shuffleRead.get, listener.shuffleWrite.get,
          listener.spill.get, listener.memPeak.get,
          listener.jobs.get, listener.gcMs.get, listener.execRunMs.get)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        // queries are independent; drop whatever a pipeline pinned — BOTH
        // layers: clearCache() alone leaves localCheckpoint RDD blocks
        // resident, and 179 queries of accumulated orphans tax every
        // query that runs later in the shared JVM (round-4 lesson:
        // per-query times inflated 9-26x vs isolated measurement)
        graft.ops.Leaks.sweep(spark)
        // a crashed query reports -1 instead of a normal-looking duration
        (if (ok) dt else -1.0, m, compiles)
      }
      val best = runs.minBy(_._1 match { case d if d < 0 => Double.MaxValue; case d => d })
      val t = if (runs.exists(_._1 < 0)) -1.0 else r3(best._1)
      name -> (t, best._2, best._3)
    }
    val headline = Vector(
      "q_a1_tpch_q1", "q_a_tpch_q6", "q_j_tpch_q3", "q_j_tpch_q12", "q_j_tpch_q14",
      "q_j1_top_revenue", "q_j_asof", "q_j_interval",
      "q_a4_crosstab", "q_a8_describe", "q_a16_corr_prune",
      "q_w1_topk", "q_w3_topn_per_group",
      "q_m1_standard_scale", "q_m4_yeojohnson_lambda", "q_m5_quantile", "q_m11_kfold",
      "q_t3_auroc", "q_t8_spearman", "q_t11_wilcoxon",
      "q_x_exact_dedup", "q_x_minhash_neardup", "q_x_simhash_neardup", "q_x_embed_neardup",
      "q_v_knn_brute", "q_v_lsh_ann", "q_v_ivf_ann",
      "q_x_lang_id", "q_x_corpus_pipeline", "q_x_bm25", "q_x_decontam",
      "q_s_session", "q_mm_features")
    def toJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val times = results.map { case (k, (t, _, _)) => k -> t }
    val nFailed = times.count(_._2 < 0)
    val total = r3(times.values.filter(_ >= 0).sum)
    // full artifact: flat time map (backward-compatible) + per-query
    // {time, shuffle_read, shuffle_write, spill} byte metrics
    val metricsJson = results.map {
      case (k, (t, (sr, sw, sp, mp, nj, gc, er), cg)) =>
        // machine-classified wall attribution (scheduler|gc|exec|
        // idle-consistent) so a spike in a loaded run is adjudicable
        // from the artifact alone — no human cross-reading of three
        // telemetry fields (round-11 judging did this by hand)
        val bound = BenchGates.bound(t, er, gc, nj, cpus, jobLatencySec)
        s""""$k":{"time":$t,"shuffle_read":$sr,"shuffle_write":$sw,"spill":$sp,"mem_peak":$mp,"jobs":$nj,"gc_ms":$gc,"exec_run_ms":$er,"codegen_compiles":$cg,"bound":"$bound"}"""
    }.mkString("{", ",", "}")
    // Budget regression gates: shuffle_budget.json / mem_budget.json hold
    // committed per-query ceilings (seeded from the accepted idle bench of
    // the prior round). A query exceeding 2× its budget (and an absolute
    // slack — tiny queries jitter) is flagged in bench_full.json and on
    // stderr: either the plan regressed, or the change is intentional and
    // the budget must be re-seeded WITH a SCALE.md note in the same commit.
    // Parsing is STRICT on the whole file (flat {"query":bytes} object):
    // a corrupt/missing/foreign-shaped file disables the gate LOUDLY on
    // stderr instead of silently fabricating budgets from stray numbers.
    def loadBudget(path: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) {
        System.err.println(s"[bench] $path missing - budget gate disabled")
        Map.empty
      } else try {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        require(txt.startsWith("{") && txt.endsWith("}"), "not a flat JSON object")
        val inner = txt.substring(1, txt.length - 1).trim
        if (inner.isEmpty) Map.empty
        else inner.split(",").iterator.map { kv =>
          val m = "^\\s*\"([^\"]+)\"\\s*:\\s*(\\d+)\\s*$".r.findFirstMatchIn(kv)
            .getOrElse(sys.error(s"bad budget entry: $kv"))
          m.group(1) -> m.group(2).toLong
        }.toMap
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] $path unreadable (${e.getMessage}) - budget gate disabled")
          Map.empty
      }
    }
    def reportAndJson(tag: String, rs: Seq[(String, Long, Long)]): String = {
      if (rs.nonEmpty)
        System.err.println(s"[bench] $tag BUDGET EXCEEDED: " +
          rs.map { case (k, b, v) => s"$k ($b -> $v B)" }.mkString("; "))
      rs.map { case (k, b, v) => s""""$k":{"budget":$b,"measured":$v}""" }
        .mkString("{", ",", "}")
    }
    def measuredOf(pick: ((Long, Long, Long, Long, Long, Long, Long)) => Long) =
      results.map { case (k, (_, m, _)) => k -> pick(m) }
    // shuffle bytes are plan-deterministic: no contention floor. mem_peak
    // is contention-sensitive (BenchGates.contentionFloor doc) — the
    // floor keeps a loaded driver run from burying a real regression
    // under dozens of uniform-offset false flags.
    val (_, shufFlags) = BenchGates.regressions(
      loadBudget("shuffle_budget.json"), measuredOf(_._1),
      16L * 1024 * 1024, floored = false)
    // The floor only applies with LOAD EVIDENCE: this run's job-latency
    // probe at >=1.5x the committed idle baseline (stored alongside the
    // budgets under the "__idle_job_latency_ms" pseudo-key; r11's loaded
    // run probed 1.56x, its idle runs ~1.0x). Without evidence, uniform
    // over-budget offsets are the SHARED-REGRESSION signature, not
    // machine noise — suppress the floor and say so loudly rather than
    // letting a catalog-wide real regression clear itself
    // (round-12 ADVICE).
    val memBudgetAll = loadBudget("mem_budget.json")
    val idleLatMs = memBudgetAll.get("__idle_job_latency_ms")
    val memBudget = memBudgetAll.filter(!_._1.startsWith("__"))
    val loadEvidence =
      idleLatMs.forall(b => jobLatencySec * 1000.0 >= 1.5 * b)
    val (memFloor, memFlags) = BenchGates.regressions(
      memBudget, measuredOf(_._4),
      64L * 1024 * 1024, floored = true, loadEvidence = loadEvidence)
    if (!loadEvidence) {
      val (suppressed, _) = BenchGates.regressions(
        memBudget, measuredOf(_._4),
        64L * 1024 * 1024, floored = true, loadEvidence = true)
      if (suppressed > 64L * 1024 * 1024)
        System.err.println(
          s"[bench] MEMORY floor ${suppressed} B SUPPRESSED: job latency " +
            f"${jobLatencySec}%.3f s is within 1.5x the idle baseline " +
            s"${idleLatMs.get} ms — uniform over-budget offsets at idle " +
            "latency are a shared regression, treat the flags as real")
    }
    val regressJson = reportAndJson("SHUFFLE", shufFlags)
    val memRegressJson = reportAndJson("MEMORY", memFlags)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"iterations":$iterations,"calibration_sec":${r3(calibrationSec)},"job_latency_sec":${r3(jobLatencySec)},"leaks_pinned":${graft.ops.Leaks.pinnedCount},"queries":${toJson(times)},"metrics":$metricsJson,"shuffle_regressions":$regressJson,"mem_regressions":$memRegressJson,"mem_floor":$memFloor,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () }
    val headlineQs = headline.flatMap(k => times.get(k).map(k -> _))
    var line =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"iterations":$iterations,"queries":${toJson(headlineQs)},"sf":"$sfDir"}"""
    // belt-and-braces: never exceed the driver's 2000-char tail window
    if (line.length > 1800)
      line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
  }
}
