package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // all available cores (was local[4] on a 32-core host — the suite's
    // MLlib parity fits and concurrent per-test jobs were 4-way bound;
    // every operator under test is partitioning/parallelism-invariant by
    // contract, so only the wall clock changes)
    val s = SparkSession.builder()
      .master("local[*]")
      // keep tiny per-test jobs at few tasks (parallelize/range default
      // to the core count otherwise — 8× the task-launch overhead across
      // thousands of sub-second test jobs); the extra cores serve the
      // CONCURRENT fits of the parity suites, not per-job fan-out
      .config("spark.default.parallelism", "8")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.Tables.requiredConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
