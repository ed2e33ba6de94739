package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Session, Sizing, Tables}

/** `Session.local` is the one session builder of the mains; read back the
  * SQL conf of a session it built. */
class SessionSpec extends AnyFunSuite {

  test("Session.local sizes partitions from the data, pins UTC, sets the parquet keys") {
    val shared = TestSpark.spark
    val sfDir = java.nio.file.Files.createTempDirectory("session").toString
    shared.range(1000).write.parquet(s"$sfDir/t.parquet")
    // a JVM holds one SparkContext: with no active or default session,
    // getOrCreate builds a fresh session on it from the builder's
    // options, leaving the suites' shared session untouched
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try Session.local(sfDir, cpus = 3)
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(s ne shared)
    assert(s.conf.get("spark.sql.shuffle.partitions") ==
      Sizing.shufflePartitions(sfDir, 3).toString)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    Tables.requiredConf.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }

  test("the codegen class cache outlives 100 classes: a re-run compiles nothing") {
    // static conf: only a session built with it sizes the JVM's cache
    assert(Tables.requiredConf.contains("spark.sql.codegen.cache.maxEntries"))
    val spark = TestSpark.spark
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // one new whole-stage class per literal; Spark's default cache holds
    // 100 and has evicted the first by the 120th
    def query(i: Int) = spark.range(10).selectExpr(s"id * $i + 1").collect()
    val c0 = compiles
    (1 to 120).foreach(query)
    assert(compiles - c0 >= 120)
    val c1 = compiles
    assert(query(1).map(_.getLong(0)).toSeq == (1L to 10L))
    assert(compiles == c1)
  }
}
