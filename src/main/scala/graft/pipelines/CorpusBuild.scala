package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.io.Io
import graft.ml.Extras
import graft.sim.Similarity
import graft.text.TextOps

/** EP4 (extension) — the LLM-training-corpus build a 100 TB pipeline
  * actually runs, composing the engine's hygiene, dedup, and vector
  * operators end to end:
  *
  *   quality gate → language agreement → optional bigram-LM perplexity
  *   gate (drop the low-likelihood tail) → exact dedup → minhash near-dup
  *   removal → exact-substring (shared verbatim k-run) removal →
  *   edit-distance near-dup removal (composed minhash × length-band
  *   blocking) → SEMANTIC near-dup removal (embedding cluster blocking) →
  *   deterministic epoch shuffle → partitioned write → small-file
  *   compaction → JSON manifest with per-stage and per-source accounting.
  *
  * The three syntactic near-dup modalities catch DIFFERENT duplicates:
  * minhash = set-overlap (shuffled/reordered content), substring =
  * verbatim quoted runs inside otherwise-different docs, edit-distance =
  * small character-level revisions; the substring/edit stages are on by
  * default and individually switchable.
  *
  * Every stage is an already-verified operator; what this main adds is
  * the COMPOSITION and the output contract (a layout + manifest a
  * training job can consume). Runnable:
  *
  *   runMain graft.pipelines.CorpusBuild <sfDir> <outDir>
  */
object CorpusBuild {

  case class StageCounts(raw: Long, quality: Long, langOk: Long,
                         lmOk: Long,
                         exactDedup: Long, nearDedup: Long,
                         substringDedup: Long, editDedup: Long,
                         semanticDedup: Long)

  /** @param partitionCol layout key for the partitioned write + compaction;
    *                     must be LOW-cardinality (guarded, see below)
    * @param maxPartitionFanout refuse to lay out / compact more than this
    *                     many partitions — the per-partition compaction loop
    *                     (and the hive layout itself) is only sane for a
    *                     small key domain, and the guard runs as a
    *                     distributed COUNT before anything is collected, so
    *                     a miskeyed column (doc_id…) fails fast instead of
    *                     pulling a huge domain through the driver
    * @param lmQualityDropFrac when > 0, a corpus-fitted bigram LM
    *                     (TextOps.bigramLmScore — the CCNet perplexity
    *                     filter) drops the bottom `frac` of documents by
    *                     average token log-probability, AFTER the rule
    *                     gates and BEFORE dedup (statistical gibberish
    *                     costs every downstream stage pair work). 0 = off. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          partitionCol: String = "source",
          maxPartitionFanout: Int = 256,
          withSubstringDedup: Boolean = true,
          withEditDedup: Boolean = true,
          lmQualityDropFrac: Double = 0.0): StageCounts = {
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def timed[T](stage: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      timings += stage -> ((System.nanoTime() - t0) / 1000000L)
      r
    }
    val docs = Tables(spark, sfDir, "documents")
    val emb = Tables(spark, sfDir, "embeddings")

    // hygiene: quality gate + language agreement (corpus_pipeline stages)
    val quality = TextOps.qualityFeatures(docs)
      .filter(col("alpha_ratio") > 0.7 && col("n_tokens").between(20, 2000))
    val langOk = quality
      .filter(TextOps.langIdFast(col("text")) === col("lang"))
      .select(docs.columns.map(col): _*)

    // optional statistical quality gate: corpus-fitted bigram LM drops the
    // lowest-likelihood tail — catches fluent-looking noise the rule gates
    // pass. Every langOk survivor has >= 20 tokens (the quality gate), so
    // every doc gets a score (the LM drops <2-token docs). The cutoff is an
    // exact percentile here; at 100 TB approx_percentile is the same gate
    // at a fraction of the cost (the threshold is a heuristic, the
    // percentile needs no exactness).
    val lmOk =
      if (lmQualityDropFrac > 0) {
        val scored = TextOps.bigramLmScore(langOk, langOk, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cut = scored
          .agg(expr(s"percentile(avg_lp, $lmQualityDropFrac)"))
          .head().getDouble(0)
        langOk.join(scored.filter(col("avg_lp") >= cut).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else langOk

    // exact dedup, then minhash near-dup removal (drop the larger id)
    val deduped = TextOps.exactDedup(lmOk, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = TextOps.minhashNearDupPairs(deduped, "doc_id", "text",
      numHashes = 16, bands = 2, threshold = 0.5)
    val nearKept = deduped.join(
      pairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // exact-substring dedup: drop the larger id of any pair still sharing
    // a verbatim ≥8-token run (the modality set-overlap dedup misses —
    // a quoted paragraph inside otherwise-different docs)
    val subKept =
      if (withSubstringDedup) {
        val spanPairs = TextOps.sharedSpanPairs(nearKept, "doc_id", "text",
          k = 8, maxDocFreq = 16)
        nearKept.join(spanPairs.select(col("doc_b").as("doc_id")),
          Seq("doc_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else nearKept

    // edit-distance near-dup removal: small character-level revisions the
    // shingle-set stages under-weigh; composed minhash × lang × length-band
    // blocking (the operator default) keeps candidates corpus-linear
    val editKept =
      if (withEditDedup) {
        val editPairs = TextOps.editNearDupPairs(subKept, "doc_id", "text",
          maxDist = 32, minhashBands = 4, blockCols = Seq("lang"))
        subKept.join(editPairs.select(col("doc_b").as("doc_id")),
          Seq("doc_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else subKept

    // semantic dedup: embeddings are keyed by the same ids; drop docs
    // whose vector is a non-representative member of a near-dup component.
    // k auto-sizes with the corpus (k ∝ n / targetClusterSize) so the
    // within-cluster pair search stays linear as the corpus grows
    val semKeep = Similarity
      .semanticDedupKeepAuto(emb, threshold = 0.999, targetClusterSize = 500,
        iters = 2)
      .filter(col("keep")).select(col("vec_id").as("doc_id"))
    val semKept = editKept.join(semKeep, Seq("doc_id"), "left_semi")

    // deterministic epoch shuffle: a cluster-size-independent order
    // column (distributed md5 rank — no global sort)
    val ordered = Extras.hashRank(semKept, "doc_id", seed = 1,
      rankCol = "epoch_order")

    // guard the layout fan-out BEFORE writing or collecting anything: the
    // distinct count is distributed (one long to the driver), so a
    // miskeyed partition column fails here instead of spraying a
    // million-directory layout or collecting a huge key domain
    val nPartitions = ordered.select(partitionCol).distinct().count()
    require(nPartitions <= maxPartitionFanout,
      s"partition column '$partitionCol' has $nPartitions distinct values " +
        s"(> $maxPartitionFanout): refusing per-partition layout/compaction " +
        "fan-out — partition the corpus by a low-cardinality key")

    // layout: partitioned by the key, then per-partition small-file
    // compaction (the write fans out one file per task otherwise)
    val corpusDir = s"$outDir/corpus"
    timed("write_partitioned") {
      Io.writeParquetPartitioned(ordered, corpusDir, Seq(partitionCol))
    }
    val sources = ordered.select(partitionCol).distinct()
      .collect().map(_.get(0).toString).sorted
    timed("compact") {
      sources.foreach { src =>
        Io.compactParquet(spark, s"$corpusDir/$partitionCol=$src",
          targetBytes = 64L * 1024 * 1024)
      }
    }

    // accounting: per-stage counts + per-source token mixture, each stage
    // timed so the manifest records where the wall-clock went
    val counts = StageCounts(
      timed("raw")(docs.count()),
      timed("quality")(quality.count()),
      timed("lang_ok")(langOk.count()),
      timed("lm_ok")(lmOk.count()),
      timed("exact_dedup")(deduped.count()),
      timed("near_dedup")(nearKept.count()),
      timed("substring_dedup")(subKept.count()),
      timed("edit_dedup")(editKept.count()),
      timed("semantic_dedup")(semKept.count()))
    import spark.implicits._
    val stageDf = Seq((counts.raw, counts.quality, counts.langOk,
      counts.lmOk, counts.exactDedup, counts.nearDedup,
      counts.substringDedup, counts.editDedup, counts.semanticDedup))
      .toDF("n_raw", "n_quality", "n_lang_ok", "n_lm_ok", "n_exact_dedup",
        "n_near_dedup", "n_substring_dedup", "n_edit_dedup",
        "n_semantic_dedup")
    val mixture = semKept.groupBy(partitionCol).agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
    Io.writeJson(stageDf, s"$outDir/manifest_stages")
    Io.writeJson(mixture.orderBy(partitionCol), s"$outDir/manifest_mixture")
    Io.writeJson(timings.toSeq.toDF("stage", "wall_ms"),
      s"$outDir/manifest_timings")
    // release EVERYTHING this run pinned — its own frames AND blocks
    // persisted inside operators (semanticDedupKeep's assignment, the
    // minhash signature index): a long-lived session running the pipeline
    // repeatedly must not accumulate cached blocks
    graft.ops.Leaks.sweep(spark)
    counts
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = PipelineSession.build(sfDir)
    val c = run(spark, sfDir, outDir)
    println(s"[corpus] raw=${c.raw} quality=${c.quality} lang=${c.langOk} " +
      s"lm=${c.lmOk} " +
      s"exact=${c.exactDedup} near=${c.nearDedup} substr=${c.substringDedup} " +
      s"edit=${c.editDedup} semantic=${c.semanticDedup}")
    spark.stop()
  }
}
