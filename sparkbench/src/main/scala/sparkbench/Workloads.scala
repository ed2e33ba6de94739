package sparkbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.io.Io
import graft.ml.{Boost, Prep, Split}
import graft.ops.Relational
import graft.pipelines.Etl
import graft.sim.Similarity
import graft.stats.{Metrics, Tests}
import graft.text.TextOps

/** What an op sees: the session, the span helper, and the pass's input
  * and output directories. */
final class Ctx(val spark: SparkSession, spans: Spans,
                val in: String, val out: String) {
  def span[T](layer: String, name: String)(body: => T): T =
    spans.span(layer, name)(body)

  /** A catalog query, collected inside its `queries` span. */
  def query(name: String): Seq[Row] =
    span("queries", name)(SparkEntry.queries(name)(spark, in).collect().toSeq)
}

/** One checked unit of work. The output check digests the rows `run`
  * returns followed by those `written` reads back from the op's files;
  * `written` runs after the pass's timing and tracing have ended, so the
  * benchmark's own reads count for no metric. */
final case class Op(name: String, run: Ctx => Seq[Row],
                    written: Ctx => Seq[Row] = _ => Nil)

/** @param tables       the tables the generator writes for each input
  * @param warmupPasses how many passes after the cold pass run and are
  *                     checked but not timed
  * @param timedPasses  how many passes are timed after those
  * @param freshInputs  every pass gets its own generated input directory,
  *                     so the program's path-keyed memos miss
  * @param shuffle      op order is shuffled per pass, the same orders
  *                     for every seed */
final case class Workload(name: String, tables: Seq[String], warmupPasses: Int,
                          timedPasses: Int, freshInputs: Boolean, shuffle: Boolean,
                          ops: Seq[Op])

object Workloads {

  private def q(name: String): Op = Op(name, _.query(name))

  /** The fit-inclusive workload: EP1, direct Prep / Boost / Metrics /
    * Tests / Relational / Io calls on boosted scores, and EP4's MinHash and
    * semantic dedup stages with EP4's parameters, on a fresh input
    * directory every pass. */
  val fitPipelines: Workload = Workload("fit_pipelines",
    Seq("events", "embeddings", "documents"), warmupPasses = 0, timedPasses = 2,
    freshInputs = true, shuffle = false, Seq(
      Op("ep1_etl",
        c => { c.span("pipelines", "Etl.run")(Etl.run(c.spark, c.in, s"${c.out}/ep1")); Nil },
        // Etl.run writes the X/Y splits; the check reads what it wrote
        c => Seq("train", "test").flatMap(s =>
          c.spark.read.parquet(s"${c.out}/ep1/$s.parquet").collect())),
      Op("fit_and_score", fitAndScore),
      // exact dedup, then MinHash near-dup pairs, as CorpusBuild.run does
      Op("minhash_near_dup", c => {
        val deduped = c.span("text", "TextOps.exactDedup")(
          TextOps.exactDedup(docs(c), "doc_id", "text").localCheckpoint(true))
        c.span("text", "TextOps.minhashNearDupPairs")(
          TextOps.minhashNearDupPairs(deduped, "doc_id", "text",
            numHashes = 16, bands = 2, threshold = 0.5).collect().toSeq)
      }),
      // as CorpusBuild.run and Ep4Queries call it
      Op("semantic_dedup", c => c.span("sim", "Similarity.semanticDedupKeepAuto")(
        Similarity.semanticDedupKeepAuto(Tables(c.spark, c.in, "embeddings"),
          threshold = 0.999, targetClusterSize = 500, iters = 2).collect().toSeq))))

  private val Feats = (0 until 8).map(i => s"f$i")

  private def fitAndScore(c: Ctx): Seq[Row] = {
    val frame = Tables(c.spark, c.in, "embeddings").select(
      (col("vec_id") +: (col("label") % 2).cast("int").as("y") +:
        Feats.zipWithIndex.map { case (f, i) =>
          element_at(col("embedding"), i + 1).cast("double").as(f) }): _*)
    val tagged = Split.tagHoldout(frame, "vec_id", 0.25)
    val scaled = c.span("ml", "Prep.standardScale")(
      Prep.standardScale(tagged,
        Prep.fitStandardScaler(tagged.filter(col("split") === "train"), Feats),
        Feats).localCheckpoint(true))
    // Boost.fit has no caller in the program; its defaults (10 trees of
    // depth 3, one aggregation job per tree level)
    val model = c.span("ml", "Boost.fit")(
      Boost.fit(scaled.filter(col("split") === "train"), Feats, "y"))
    val scored = c.span("ml", "Boost.predict")(
      scaled.filter(col("split") === "test")
        .select(col("vec_id"), col("y"), model.probabilityExpr.as("p"),
          model.predictExpr().cast("int").as("prediction"))
        .withColumn("grp", when(col("y") === 1, "pos").otherwise("neg"))
        .localCheckpoint(true))
    val binary = c.span("stats", "Metrics.binaryMetrics")(
      Metrics.binaryMetrics(scored, "y", "prediction").collect().toSeq)
    val welch = c.span("stats", "Tests.welchT")(
      Tests.welchT(scored, "p", "grp", "pos", "neg").collect().toSeq)
    val kept = c.span("ops", "Relational.dropMostlyNullCols")(
      Relational.dropMostlyNullCols(scored, Seq("p", "prediction"), 0.5).columns.toSeq)
    c.span("io", "Io.writeSingleCsv")(
      Io.writeSingleCsv(scored.select("vec_id", "y", "prediction"),
        s"${c.out}/scores.csv"))
    binary ++ welch :+ Row.fromSeq(kept)
  }

  private def docs(c: Ctx): DataFrame = Tables(c.spark, c.in, "documents")

  /** Short read-only catalog queries, one client, no think time. The
    * pass after the cold one is the slowest and least even of the warm
    * passes (the JIT is still compiling the most), so it is not timed. */
  val interactiveCatalog: Workload = Workload("interactive_catalog",
    Seq("customer", "orders", "lineitem", "events", "embeddings"),
    warmupPasses = 1, timedPasses = 3,
    freshInputs = false, shuffle = true, Seq(
      "q_j_tpch_q3",                                 // TPC-H join + aggregate
      "q_w3_topn_per_group",                         // window top-k
      "q_a4_crosstab",                               // crosstab
      "q_m1_standard_scale", "q_m11_kfold",          // scaling, k-fold
      "q_t3_auroc", "q_t9_welch_t",                  // AUROC, Welch
      "q_s_sessionize", "q_u_hll_distinct",          // sessions, HLL
      "q_l_rf_params", "q_j_basket"                  // memo hits after pass 0
    ).map(q))

  val all: Seq[Workload] = Seq(fitPipelines, interactiveCatalog)

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
