package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans of registered queries — the evidence
  * trail for the plan shapes SCALE.md claims (pushdown, broadcast,
  * partial aggregation, top-k, no cartesian products). Two modes:
  *
  *   runMain graft.Plans [sfDir]
  *     every query into PLANS.md, the committed record of plan shapes; run it
  *     after plan-affecting changes;
  *   runMain graft.Plans <sfDir> <regex> <outDir> <tag>
  *     each query whose name matches `regex` into
  *     `<outDir>/<query>_<tag>.txt` (e.g. the before/after plan pairs
  *     of a plan change under `plans/r14`).
  *
  * Sessions are `local[8]`, so the dumped partition counts do not depend
  * on the host. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val pick = args.lift(1).map(_.r)
    val spark = graft.core.Session.local(sfDir, cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String = {
      val p =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}\n" }
      graft.ops.Leaks.sweep(spark)
      p
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => pick.forall(_.findFirstIn(n).isDefined))
    args.drop(1) match {
      case Array() =>
        val sb = new StringBuilder
        sb ++= "# PLANS — formatted physical plans of every registered query\n\n"
        sb ++= s"Generated by `graft.Plans` over `$sfDir` (plan SHAPE is scale-\n"
        sb ++= "independent: the same operators appear at any input size; only\n"
        sb ++= "AQE's runtime partition numbers change).\n"
        names.foreach(n => sb ++= s"\n## $n\n\n```\n${plan(n)}```\n")
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
      case Array(_, outDir, tag) =>
        Files.createDirectories(Paths.get(outDir))
        names.foreach(n =>
          Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan(n)))
      case _ =>
        System.err.println(
          "usage: graft.Plans [sfDir] | graft.Plans <sfDir> <regex> <outDir> <tag>")
        sys.exit(2)
    }
    spark.stop()
  }
}
