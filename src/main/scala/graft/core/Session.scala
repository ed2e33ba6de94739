package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a local session is configured. Every entry point
  * (`Bench`, `Verify`, `Plans`, `Sf1Gen`, the EP1–EP4 pipeline mains)
  * builds through here and only sets its own log level afterwards.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 32: the `local[n]` width of the mains. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cpus]` session for reading `sfDir`:
    *  - [[Tables.requiredConf]] for the test tables' parquet encodings;
    *  - session time zone pinned to UTC, so untagged timestamps and the
    *    DuckDB oracle agree whatever the JVM's default zone is;
    *  - shuffle partitions sized to the data ([[Sizing.shufflePartitions]],
    *    which also honours `SPARK_GRAFT_SHUFFLE_PARTITIONS`);
    *  - shuffle scratch on Spark's default `spark.local.dir` unless
    *    `SPARK_GRAFT_LOCAL_DIR` names one. There is no automatic pick: a
    *    RAM-backed scratch dir measured faster idle but competes with the
    *    executor heap under load, and a real cluster sets its own. */
  def local(sfDir: String, cpus: Int): SparkSession = {
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config(Tables.requiredConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions",
        Sizing.shufflePartitions(sfDir, cpus).toLong)
      .config(localDir.map("spark.local.dir" -> _).toMap)
      .getOrCreate()
  }
}
