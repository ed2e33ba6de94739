package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.Similarity
import graft.text.TextOps

/** EP4 in the oracle club: the FULL all-modality corpus build —
  * quality gate → language agreement → exact dedup → minhash near-dup →
  * exact-substring dedup → edit-distance near-dup → SEMANTIC near-dup —
  * replayed end to end by one DuckDB statement, reporting the kept-count
  * after every stage. q_x_corpus_pipeline covers the first four stages;
  * this is the whole `pipelines/CorpusBuild.run` chain (stage-for-stage,
  * same parameters), so the composition the 100 TB pipeline actually
  * executes is itself cross-engine-verified: any inter-stage drift
  * (survivor set feeding the next blocker, lang column reuse in the edit
  * blocking, the text↔embedding id join) breaks a count.
  *
  * Scale notes: every stage is the already-verified operator (banded
  * LSH, df-pruned grams, composed lang×band×length blocking, cluster-
  * blocked semantic pairs) — no stage is quadratic in the corpus; the
  * counts are one aggregate per checkpointed stage frame.
  *
  * Ref: the reference's notebook ETL composes stages the same way
  * (1-1.data_processing.ipynb cells 6-11); the dedup stack follows
  * Lee et al. 2022 (exact-substring) and SemDeDup (Abbas et al. 2023).
  */
object Ep4Queries extends QueryPack {

  private val SemTargetCluster = 500L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipe_ep4" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val emb = Tables(s, d, "embeddings")
      // (6, started FIRST) semantic near-dup keep-set over the embedding
      // table: it depends on nothing the text chain produces, so its jobs
      // run CONCURRENTLY with the text chain's checkpoint jobs on a
      // driver thread (guide §2.6 — actions are only sequential because
      // the driver calls them sequentially); the deterministic keep-set
      // is identical either way. The future holds an eager checkpoint so
      // the final plan reads a materialized relation.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val semFuture = Future {
        Similarity
          .semanticDedupKeepAuto(emb, threshold = 0.999,
            targetClusterSize = SemTargetCluster, iters = 2)
          .filter(col("keep")).select(col("vec_id").as("doc_id"))
          .localCheckpoint(true)
      }
      // (1) hygiene: quality gate + language agreement (CorpusBuild
      // stages), evaluated ONCE as flag columns on a checkpointed frame:
      // the raw/quality/lang_ok stage counts and the surviving chain all
      // read the flags, where the former shape re-ran the quality and
      // lang-id text kernels per count branch (3 full featurization
      // passes of the corpus for 2 integers — guide §1.2: don't compute
      // things twice).
      val flagged = TextOps.qualityFeatures(docs)
        .withColumn("__q",
          col("alpha_ratio") > 0.7 && col("n_tokens").between(20, 2000))
        .withColumn("__l",
          col("__q") && TextOps.langIdFast(col("text")) === col("lang"))
        .select(docs.columns.map(col) ++ Seq(col("__q"), col("__l")): _*)
        .localCheckpoint(true)
      val langOk = flagged.filter(col("__l"))
        .select(docs.columns.map(col): _*)
      // (2) exact dedup — checkpointed: feeds the pair join twice + a count
      val deduped = TextOps.exactDedup(langOk, "doc_id", "text")
        .localCheckpoint(true)
      // (3) minhash near-dup removal (drop the larger id of each pair)
      val mhPairs = TextOps.minhashNearDupPairs(deduped, "doc_id", "text",
        numHashes = 16, bands = 2, threshold = 0.5)
      val nearKept = deduped.join(
          mhPairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // (4) exact-substring (shared verbatim ≥8-token run) removal
      val spanPairs = TextOps.sharedSpanPairs(nearKept, "doc_id", "text",
        k = 8, maxDocFreq = 16)
      val subKept = nearKept.join(
          spanPairs.select(col("doc_b").as("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // (5) edit-distance near-dup removal (composed lang × minhash-band ×
      // length-band blocking — the operator default)
      val editPairs = TextOps.editNearDupPairs(subKept, "doc_id", "text",
        maxDist = 32, minhashBands = 4, blockCols = Seq("lang"))
      val editKept = subKept.join(
          editPairs.select(col("doc_b").as("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // (6) semantic near-dup removal: join the concurrently-built
      // keep-set (above) back by id
      val semKeep = Await.result(semFuture, Duration.Inf)
      val semKept = editKept.join(semKeep, Seq("doc_id"), "left_semi")
      def cnt(ord: Int, stage: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(ord).as("stage_ord"), lit(stage).as("stage"),
            col("n_docs"))
      // stages 0-2 from ONE aggregate over the flagged checkpoint
      val hygiene = flagged.agg(count(lit(1)).as("raw"),
        sum(when(col("__q"), 1L).otherwise(0L)).as("quality"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("lang_ok"))
      def hcnt(ord: Int, stage: String, c: String): DataFrame =
        hygiene.select(lit(ord).as("stage_ord"), lit(stage).as("stage"),
          col(c).as("n_docs"))
      hcnt(0, "raw", "raw")
        .unionByName(hcnt(1, "quality", "quality"))
        .unionByName(hcnt(2, "lang_ok", "lang_ok"))
        .unionByName(cnt(3, "exact_dedup", deduped))
        .unionByName(cnt(4, "minhash_dedup", nearKept))
        .unionByName(cnt(5, "substring_dedup", subKept))
        .unionByName(cnt(6, "edit_dedup", editKept))
        .unionByName(cnt(7, "semantic_dedup", semKept))
        .orderBy("stage_ord")
    }))

  import TextSimQueries.{toksSql, normSql, shinglesOfSql,
    langScoreColsOfSql, langBestSql, langCaseSql}

  val oracles: Map[String, String] = Map(
    "q_pipe_ep4" -> {
      // sf10-replayable form (round-12). The r11 replay died spilling
      // >70 GB of DuckDB temp on the shingle CTEs; three measured
      // disciplines fix it without touching any stage's semantics:
      //  1. tokenize-once: norm and its token array are CTE COLUMNS —
      //     DuckDB does not CSE repeated normToksSql occurrences
      //     (measured 20x on sf10 docs), and the old text inlined
      //     tokenization ~10x per doc across the lang scores alone.
      //  2. distinct-shingle md5 join for the 16 minhash minima
      //     (identical signatures, ~9x fewer md5 calls), and BAND-TABLE
      //     equi-joins for the 2x8 minhash and 4x4 edit blockers — the
      //     OR-of-band-equalities join form cannot hash-join and
      //     degenerates to an n^2 loop at 500k docs.
      //  3. the semantic stage via the shared R12Queries.semDedupCtes
      //     (SIMD DOUBLE[64] assignment; the unnest-join form is
      //     n x k x 64 = 5.1e9 rows at sf10's auto-k=400).
      val minCols = (0 until 16).map(i => s"min(h$i)").mkString("[", ", ", "]")
      val hCols = (0 until 16).map(i => s"md5('$i' || ':' || s) AS h$i")
        .mkString(", ")
      val sem = R12Queries.semDedupCtes(
        "SELECT vec_id, embedding FROM embeddings",
        s"SELECT GREATEST(16, CAST((COUNT(*) + ${SemTargetCluster - 1}) " +
          s"// $SemTargetCluster AS INTEGER)) AS k FROM embeddings",
        gridDims = 0)
      s"""WITH RECURSIVE
         |tok AS (SELECT doc_id, lang, source, text, $normSql AS norm
         |  FROM documents),
         |tk AS (SELECT doc_id, lang, source, text, norm,
         |    regexp_split_to_array(trim(norm), '\\s+') AS nt FROM tok),
         |qd AS (SELECT * FROM tk
         |  WHERE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |      / CAST(length(text) AS DOUBLE) > 0.7
         |    AND len($toksSql) BETWEEN 20 AND 2000),
         |sc AS (SELECT doc_id, lang, norm, nt,
         |    ${langScoreColsOfSql("nt")} FROM qd),
         |bb AS (SELECT *, $langBestSql AS best FROM sc),
         |lf AS (SELECT doc_id, lang, norm, nt FROM bb WHERE $langCaseSql = lang),
         |dd AS (SELECT MIN(doc_id) AS doc_id FROM
         |  (SELECT md5(norm) AS fp, doc_id FROM lf) k GROUP BY fp),
         |d2 AS (SELECT lf.doc_id, lf.lang, lf.norm, lf.nt
         |  FROM lf JOIN dd USING (doc_id)),
         |shx AS (SELECT doc_id, ${shinglesOfSql("nt")} AS sh FROM d2),
         |shw AS (SELECT doc_id, unnest(sh) AS s FROM shx),
         |hh AS (SELECT s, $hCols FROM (SELECT DISTINCT s FROM shw)),
         |sig AS (SELECT doc_id, $minCols AS sg
         |  FROM shw JOIN hh USING (s) GROUP BY doc_id),
         |bnd AS (SELECT doc_id, bno,
         |    array_to_string(CASE WHEN bno = 0 THEN sg[1:8] ELSE sg[9:16] END,
         |      '|') AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1]) AS bno) t),
         |cpm AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bnd x JOIN bnd y
         |    ON x.bno = y.bno AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |mh_removed AS (SELECT DISTINCT id_b AS doc_id FROM cpm
         |  JOIN sig a ON a.doc_id = id_a JOIN sig b ON b.doc_id = id_b
         |  JOIN shx xa ON xa.doc_id = id_a JOIN shx xb ON xb.doc_id = id_b
         |  WHERE list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.25
         |    AND len(list_intersect(xa.sh, xb.sh))
         |      / CAST(len(list_distinct(list_concat(xa.sh, xb.sh))) AS DOUBLE) >= 0.5),
         |mk AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM mh_removed)),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(nt) < 8
         |    THEN [md5(array_to_string(nt, ' '))]
         |    ELSE list_distinct(list_transform(range(0, len(nt) - 7),
         |      i -> md5(array_to_string(nt[i+1:i+8], ' ')))) END) AS gram
         |  FROM mk),
         |keptg AS (SELECT gram FROM g GROUP BY gram
         |  HAVING count(*) BETWEEN 2 AND 16),
         |gj AS (SELECT doc_id, gram FROM g JOIN keptg USING (gram)),
         |sub_removed AS (SELECT DISTINCT b.doc_id
         |  FROM gj a JOIN gj b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |sk AS (SELECT * FROM mk WHERE doc_id NOT IN (SELECT doc_id FROM sub_removed)),
         |en AS (SELECT doc_id, lang, norm, length(norm) AS len FROM sk),
         |bnd4 AS (SELECT sig.doc_id, bno,
         |    array_to_string(sg[bno * 4 + 1 : bno * 4 + 4], '|') AS bkey
         |  FROM sig JOIN en USING (doc_id)
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bno) t),
         |cpe AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bnd4 x JOIN bnd4 y
         |    ON x.bno = y.bno AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |edit_removed AS (SELECT DISTINCT b.doc_id FROM cpe
         |  JOIN en a ON a.doc_id = id_a JOIN en b ON b.doc_id = id_b
         |  WHERE a.lang = b.lang AND abs(a.len - b.len) <= 32
         |    AND levenshtein(a.norm, b.norm) <= 32),
         |ek AS (SELECT * FROM sk WHERE doc_id NOT IN (SELECT doc_id FROM edit_removed)),
         |$sem,
         |sem_keep AS (SELECT e.vec_id AS doc_id FROM uu e
         |  LEFT JOIN lbl ON lbl.id = e.vec_id
         |  WHERE lbl.comp IS NULL OR lbl.comp = e.vec_id),
         |fk AS (SELECT * FROM ek WHERE doc_id IN (SELECT doc_id FROM sem_keep))
         |SELECT * FROM (
         |  SELECT CAST(0 AS INTEGER) AS stage_ord, 'raw' AS stage,
         |    COUNT(*) AS n_docs FROM documents
         |  UNION ALL SELECT 1, 'quality', COUNT(*) FROM qd
         |  UNION ALL SELECT 2, 'lang_ok', COUNT(*) FROM lf
         |  UNION ALL SELECT 3, 'exact_dedup', COUNT(*) FROM d2
         |  UNION ALL SELECT 4, 'minhash_dedup', COUNT(*) FROM mk
         |  UNION ALL SELECT 5, 'substring_dedup', COUNT(*) FROM sk
         |  UNION ALL SELECT 6, 'edit_dedup', COUNT(*) FROM ek
         |  UNION ALL SELECT 7, 'semantic_dedup', COUNT(*) FROM fk)
         |ORDER BY stage_ord""".stripMargin
    })
}
