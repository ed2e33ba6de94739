package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.text.{Dsir, TextOps}

/** Training-data SELECTION queries — the two published filters the
  * catalog did not yet express:
  *
  *  - q_x_dsir_weights / q_x_dsir_select: DSIR importance resampling
  *    (Xie et al. 2023) — fit hashed-n-gram multinomials on a curated
  *    target slice vs the raw corpus, weight every doc by the log
  *    importance ratio, Gumbel-top-k resample. The whole fit+select
  *    pipeline is relational and deterministic, so one DuckDB statement
  *    replays it bit-for-bit (the q_x_lm_quality DECIMAL-log-sum
  *    discipline; md5 buckets via the q_x_feature_hash nibble idiom).
  *  - q_x_gopher_rules: the Gopher repetition-free quality rule set
  *    (Rae et al. 2021, appendix A) as per-source rejection counts —
  *    one narrow codegen'd map pass, then a single aggregation.
  */
object DsirQueries extends QueryPack {
  import TextSimQueries.normToksSql

  /** The curated "target" slice DSIR aims the raw corpus at. Any
    * deterministic predicate works; sources stand in for the paper's
    * Wikipedia+books target. */
  private val targetSources = Seq("src0", "src1", "src2")
  private val targetSqlIn = targetSources.map(s => s"'$s'").mkString(", ")

  /** Top-k size of the Gumbel resample. */
  private val SelectK = 100

  private def target(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").filter(col("source").isin(targetSources: _*))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-source importance-weight profile: the fitted DSIR weights
    // rolled up by source — target-like sources should float up. The
    // model is B=64 rows; the only full-data passes are the feature
    // explosion and its bucket-bounded aggregates.
    "q_x_dsir_weights" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      // ONE tokenization pass, cached as the per-doc bucket HISTOGRAM
      // (doc, source, bucket, cnt) instead of the exploded per-occurrence
      // stream: ≤64 rows per doc versus one per token+bigram, so the
      // pinned relation and every aggregate over it shrink ~10× (the r13
      // driver bench flagged the exploded cache at 135 MB of per-task
      // aggregate state). Counts regroup exactly: Σ_occurrences lr =
      // Σ_buckets cnt·lr in decimal, n_feats = Σ cnt.
      val hist = Dsir.features(docs, "doc_id", "text", keep = Seq("source"))
        .groupBy("doc_id", "source", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def counts(f: org.apache.spark.sql.DataFrame) =
        f.select(col("bucket"), col("cnt"))
      val model = Dsir.logRatiosOfCounts(
        counts(hist.filter(col("source").isin(targetSources: _*))),
        counts(hist))
      // per-source rollup out, corpus-sized cache in: release on return
      graft.ops.Leaks.releasing(
        hist.join(broadcast(model), Seq("bucket"))
          .groupBy("doc_id", "source")
          .agg(sum("cnt").as("n_feats"),
            // lr is decimal(30,12) but |lr| < ln(N+B) ≪ 100, so the
            // (14,12) downcast is exact — and keeps the cnt product at
            // precision 35, scale 12 (the raw (30,12)×bigint product
            // hits Spark's 38-digit cap and sheds scale to 6, which
            // broke bit-exactness against the per-occurrence sum)
            sum(col("lr")
              .cast(org.apache.spark.sql.types.DecimalType(14, 12)) *
              col("cnt")).as("logw"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_feats").as("n_feats"),
            sum("logw").cast("double").as("sum_logw"))
          .withColumn("mean_logw", col("sum_logw") / col("n_docs"))
          .orderBy("source"),
        hist)
    }),

    // The selection itself: Gumbel top-k importance resample — the
    // document set a DSIR-curated pretraining mix would keep. Ordered by
    // the double image of the exact-decimal Gumbel key (bit-identical on
    // both engines), doc_id tiebreak.
    "q_x_dsir_select" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dsir.resample(docs, target(s, d), "doc_id", "text", SelectK)
        .withColumn("gkey", col("gkey").cast("double"))
        .withColumn("logw", col("logw").cast("double"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .select("doc_id", "source", "n_feats", "logw", "gkey")
        .orderBy(col("gkey").desc, col("doc_id"))
    }),

    // CCNet's head/middle/tail perplexity bucketing (Wenzek et al. 2020):
    // the corpus-fitted LM scores every doc, exact tercile cuts split the
    // corpus into the head (most in-distribution) / middle / tail slices
    // a pretraining mix samples at different rates. Same fitted-parameter
    // altitude as the NB distillation's median cut; the tercile constants
    // are two driver scalars.
    "q_x_ppl_buckets" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val scored = TextOps.bigramLmScore(docs, docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cuts = scored.agg(
        expr(s"percentile(avg_lp, ${1.0 / 3}E0)").as("c1"),
        expr(s"percentile(avg_lp, ${2.0 / 3}E0)").as("c2")).head()
      val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
      val bucket = when(col("avg_lp") >= c2, "head")
        .when(col("avg_lp") >= c1, "middle").otherwise("tail")
      docs.select("doc_id", "source")
        .join(scored.select("doc_id", "avg_lp"), Seq("doc_id"))
        .groupBy(col("source"), bucket.as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          // pre-quantized integer sum (the q_x_repetition discipline):
          // avg_lp is a COMPUTED double, and a direct DECIMAL(30,12)
          // cast re-enters the cross-engine half-tie divergence
          // (measured: 1 of 60 rows at sf0.01); floor(x·1e12 + 0.5) is
          // the same IEEE ops on both engines, no decimal tie-break
          (sum(floor(col("avg_lp") * lit(1.0e12) + lit(0.5))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / lit(1.0e12)).as("sum_lp"))
        .orderBy("source", "bucket")
    }),

    // Gopher rule-set rejection profile per source: how many documents
    // each published rule would drop, and how many survive all seven.
    "q_x_gopher_rules" -> ((s, d) => {
      val flags = Seq("f_word_count", "f_word_len", "f_symbol", "f_bullet",
        "f_ellipsis", "f_alpha", "f_stop")
      val aggs = flags.map(f =>
        sum(when(col(f), 1L).otherwise(0L)).as(f.replaceFirst("^f_", "n_")))
      val kept = sum(when(flags.map(col).reduce(_ || _), 0L).otherwise(1L))
        .as("n_kept")
      // The synthetic corpus is English-UNLIKE by construction, so the
      // (faithful) required-stop-word rule rejects nearly everything;
      // the no-stop-rule variant shows the other six rules' selectivity.
      val keptNoStop = sum(when(
        flags.filterNot(_ == "f_stop").map(col).reduce(_ || _), 0L)
        .otherwise(1L)).as("n_kept_no_stop")
      TextOps.gopherFlags(Tables(s, d, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), (aggs ++ Seq(kept, keptNoStop)): _*)
        .orderBy("source")
    })
  )

  // ---- oracles ------------------------------------------------------

  /** 8-hex-char md5 prefix → integer (exact: < 2³² fits BIGINT) — the
    * q_x_feature_hash nibble-positional-sum idiom, over expression `h`. */
  private def nibbleInt(h: String): String =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
      .mkString("(", " + ", ")")

  /** Shared DSIR fit chain: hashed unigram+bigram features of every doc
    * (dsB), target/raw bucket counts, the B-row smoothed log-ratio model
    * (dsLr), and per-doc weights (dsW) — mirrors Dsir.scala stage for
    * stage. */
  private val dsirChain =
    s"""dsTok AS (SELECT doc_id, source, $normToksSql AS t FROM documents),
       |dsF AS (
       |  SELECT doc_id, source, unnest(t) AS f FROM dsTok
       |  UNION ALL
       |  SELECT doc_id, source, unnest(CASE WHEN len(t) < 2
       |      THEN CAST([] AS VARCHAR[])
       |      ELSE list_transform(range(1, len(t)),
       |        i -> t[i] || ' ' || t[i+1]) END) AS f
       |  FROM dsTok),
       |dsB AS (SELECT doc_id, source,
       |    ${nibbleInt("md5(f)")} % ${Dsir.Buckets} AS bucket FROM dsF),
       |dsCt AS (SELECT bucket, COUNT(*) AS ct FROM dsB
       |  WHERE source IN ($targetSqlIn) GROUP BY 1),
       |dsCr AS (SELECT bucket, COUNT(*) AS cr FROM dsB GROUP BY 1),
       |dsNt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM dsCt),
       |dsNr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM dsCr),
       |dsDom AS (SELECT unnest(range(0, ${Dsir.Buckets})) AS bucket),
       |dsLr AS (SELECT bucket,
       |    CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
       |        / CAST(nt + ${Dsir.Buckets} AS DOUBLE)) AS DECIMAL(30,12))
       |    - CAST(ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
       |        / CAST(nr + ${Dsir.Buckets} AS DOUBLE)) AS DECIMAL(30,12)) AS lr
       |  FROM dsDom LEFT JOIN dsCt USING (bucket)
       |    LEFT JOIN dsCr USING (bucket)
       |  CROSS JOIN dsNt CROSS JOIN dsNr),
       |dsW AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(lr) AS logw
       |  FROM dsB JOIN dsLr USING (bucket) GROUP BY 1)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_x_dsir_weights" ->
      s"""WITH $dsirChain
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(w.n_feats) AS BIGINT) AS n_feats,
         |  CAST(CAST(SUM(w.logw) AS VARCHAR) AS DOUBLE) AS sum_logw,
         |  CAST(CAST(SUM(w.logw) AS VARCHAR) AS DOUBLE) / COUNT(*)
         |    AS mean_logw
         |FROM dsW w JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_x_dsir_select" ->
      // the top-k LIMIT selects on the DOUBLE image of the decimal key,
      // doc_id tiebreak (matching Dsir.resample's contract): ln is not
      // correctly rounded, so the exact decimals can differ between
      // engines in the 12th decimal — the double image absorbs a
      // last-place wobble when |gkey|'s ulp exceeds 1e-12, and the
      // doc_id tiebreak keeps k-boundary membership aligned where the
      // double collapses decimal near-ties
      s"""WITH $dsirChain,
         |dsU AS (SELECT doc_id, n_feats, logw,
         |    MD5(CONCAT_WS(':', '77', CAST(doc_id AS VARCHAR))) AS h
         |  FROM dsW),
         |dsG AS (SELECT doc_id, n_feats,
         |    CAST(CAST(logw AS VARCHAR) AS DOUBLE) AS logw,
         |    CAST(CAST(logw AS DECIMAL(30,12)) + CAST(-ln(CAST(
         |        CAST(-ln((${nibbleInt("h")} + 0.5) / 4294967296.0)
         |          AS DECIMAL(30,12)) AS DOUBLE)) AS DECIMAL(30,12))
         |      AS DECIMAL(31,12)) AS gkey_x
         |  FROM dsU),
         |dsTop AS (SELECT * FROM dsG
         |  ORDER BY CAST(CAST(gkey_x AS VARCHAR) AS DOUBLE) DESC, doc_id
         |  LIMIT $SelectK)
         |SELECT g.doc_id, d.source, g.n_feats, g.logw,
         |  CAST(CAST(g.gkey_x AS VARCHAR) AS DOUBLE) AS gkey
         |FROM dsTop g JOIN documents d USING (doc_id)
         |ORDER BY gkey DESC, g.doc_id""".stripMargin,

    "q_x_ppl_buckets" ->
      s"""WITH tok AS (SELECT doc_id, $normToksSql AS t FROM documents),
         |uni AS (SELECT w1, count(*) AS cu FROM
         |  (SELECT unnest(t) AS w1 FROM tok) GROUP BY 1),
         |vv AS (SELECT COUNT(*) AS v FROM uni),
         |bgs AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2
         |    THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1]) END) AS bg
         |  FROM tok),
         |big AS (SELECT bg, count(*) AS cb FROM bgs GROUP BY 1),
         |sc AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bgs),
         |lm AS (SELECT doc_id,
         |    CAST(SUM(CAST(ln(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
         |        / CAST(COALESCE(cu, 0) + (SELECT v FROM vv) AS DOUBLE))
         |      AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |      AS avg_lp
         |  FROM sc LEFT JOIN big USING (bg) LEFT JOIN uni USING (w1)
         |  GROUP BY doc_id),
         |cts AS (SELECT QUANTILE_CONT(avg_lp, ${1.0 / 3}E0) AS c1,
         |    QUANTILE_CONT(avg_lp, ${2.0 / 3}E0) AS c2 FROM lm)
         |SELECT d.source,
         |  CASE WHEN avg_lp >= (SELECT c2 FROM cts) THEN 'head'
         |       WHEN avg_lp >= (SELECT c1 FROM cts) THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(floor(avg_lp * 1.0E12 + 0.5) AS DECIMAL(38,0)))
         |    AS DOUBLE) / 1.0E12 AS sum_lp
         |FROM lm JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_x_gopher_rules" -> {
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(s => s"'$s'").mkString("[", ", ", "]")
      def occ(lit: String, w: Int) =
        s"(length(text) - length(replace(text, '$lit', ''))) / $w"
      s"""WITH gT AS (SELECT doc_id, source, text, $normToksSql AS t,
         |    list_filter(string_split(text, chr(10)),
         |      l -> length(trim(l)) > 0) AS ls
         |  FROM documents),
         |gF AS (SELECT source,
         |    len(t) AS n_words,
         |    CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum')
         |      AS DOUBLE) / len(t) AS mwl,
         |    (len(t) < 50 OR len(t) > 100000) AS f_word_count,
         |    (CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum')
         |        AS DOUBLE) / len(t) < 3.0
         |      OR CAST(list_aggregate(list_transform(t, w -> length(w)),
         |        'sum') AS DOUBLE) / len(t) > 10.0) AS f_word_len,
         |    (CAST(${occ("#", 1)} + ${occ("...", 3)} AS DOUBLE) / len(t)
         |      > 0.1) AS f_symbol,
         |    (len(ls) > 0 AND CAST(len(list_filter(ls,
         |        l -> regexp_matches(trim(l), '^[-*•] '))) AS DOUBLE)
         |      / len(ls) > 0.9) AS f_bullet,
         |    (len(ls) > 0 AND CAST(len(list_filter(ls,
         |        l -> ends_with(trim(l), '...'))) AS DOUBLE)
         |      / len(ls) > 0.3) AS f_ellipsis,
         |    (CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
         |      AS DOUBLE) / len(t) < 0.8) AS f_alpha,
         |    (len(list_filter($stops, s -> list_contains(t, s))) < 2)
         |      AS f_stop
         |  FROM gT)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN f_word_count THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_word_count,
         |  CAST(SUM(CASE WHEN f_word_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_word_len,
         |  CAST(SUM(CASE WHEN f_symbol THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_symbol,
         |  CAST(SUM(CASE WHEN f_bullet THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bullet,
         |  CAST(SUM(CASE WHEN f_ellipsis THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ellipsis,
         |  CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_alpha,
         |  CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_stop,
         |  CAST(SUM(CASE WHEN NOT (f_word_count OR f_word_len OR f_symbol
         |    OR f_bullet OR f_ellipsis OR f_alpha OR f_stop)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN NOT (f_word_count OR f_word_len OR f_symbol
         |    OR f_bullet OR f_ellipsis OR f_alpha)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_no_stop
         |FROM gF GROUP BY 1 ORDER BY 1""".stripMargin
    }
  )
}
