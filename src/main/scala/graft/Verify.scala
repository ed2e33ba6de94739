package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only): regex over query names
    val nameFilter = args.lift(2).map(_.r)
    // resume mode (local long-scale runs): skip queries whose output
    // already materialized — a killed run can be re-launched until the
    // catalog completes, then compared once
    val resume = sys.env.get("SPARK_GRAFT_VERIFY_RESUME").contains("1")
    def done(name: String) = resume &&
      java.nio.file.Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))
    // matched: in scope for this invocation (drives oracle_sql.json);
    // keep: actually (re)computed this run
    def matched(name: String) =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    def keep(name: String) = matched(name) && !done(name)
    val spark = graft.core.Session.local(sfDir, graft.core.Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        }
        // both cache layers: clearCache() alone leaves localCheckpoint
        // blocks resident across the 179-query loop (round-4 lesson)
        graft.ops.Leaks.sweep(spark)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => matched(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Crashed queries write no parquet and would silently vanish from the
    // round's correctness artifact (round-5 lesson) — record them loudly.
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
