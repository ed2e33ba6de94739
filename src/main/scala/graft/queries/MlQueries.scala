package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Cleaning, Num}
import graft.ml.{Prep, Split}
import graft.ensemble.Ensemble

/** Remaining ML-prep operators (scalers, null-gate, corr-prune, bootstrap)
  * and the ensemble combinator family (SURVEY.md §2.9) as oracle-checked
  * queries. Ensemble "model predictions" are deterministic arithmetic
  * transforms of events.value, so every blend is exactly reproducible. */
object MlQueries extends QueryPack {
  import Num._
  import Sql._

  /** Three pseudo-model probability columns in [0,1]. */
  private def preds(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events").select(
      col("event_id"),
      (col("value") / 500.0).as("p1"),
      (col("value") / 500.0 * (col("value") / 500.0)).as("p2"),
      (lit(1.0) - col("value") / 500.0).as("p3"))

  private val predsSql =
    """SELECT event_id, value / 500.0 AS p1,
      | value / 500.0 * (value / 500.0) AS p2,
      | 1.0 - value / 500.0 AS p3 FROM events""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M2 — robust scaling (median/IQR), exact percentiles.
    "q_m2_robust_scale" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val fitted = Prep.fitRobustScaler(c, Seq("c_acctbal"))
      Prep.robustScale(c.select("c_custkey", "c_acctbal"), fitted, Seq("c_acctbal"))
        .withColumnRenamed("c_acctbal", "z").orderBy("c_custkey")
    }),

    // M3 — min-max scaling.
    "q_m3_minmax_scale" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val fitted = Prep.fitMinMaxScaler(c, Seq("c_acctbal"))
      Prep.minMaxScale(c.select("c_custkey", "c_acctbal"), fitted, Seq("c_acctbal"))
        .withColumnRenamed("c_acctbal", "z").orderBy("c_custkey")
    }),

    // A11 — drop-columns-above-null-rate gate; result = surviving columns.
    "q_a11_null_gate" -> ((s, d) => {
      import s.implicits._
      val e = Tables(s, d, "events")
        .withColumn("v_high", when(col("value") > 50, lit(null)).otherwise(col("value")))
        .withColumn("v_low", when(col("value") > 400, lit(null)).otherwise(col("value")))
      val targets = Seq("v_high", "v_low", "value")
      val kept = graft.ops.Relational
        .dropMostlyNullCols(e, targets, 0.8).columns.filter(targets.contains)
      kept.toSeq.toDF("col_name").orderBy("col_name")
    }),

    // A16 — high-correlation feature pruning; result = dropped columns.
    // The mix columns are tuned so corr(q,mix1)≈0.975 and corr(mix1,mix2)
    // ≈0.979 exceed the 0.95 threshold while corr(q,mix2)≈0.909 does not:
    // the greedy upper-triangle walk drops ONLY mix1 (the (mix1,mix2) pair
    // is skipped because mix1 is already gone), whereas "every col_b of a
    // hot pair" would also drop mix2 — so the oracle guards the greedy
    // semantics, not just the result on trivially-correlated data.
    // Fast path: quantity/discount are 2-dp fixed-point, so the matrix
    // comes from exact integer moments (corrMatrixLong) — Pearson is
    // scale-invariant and the decisions sit ≥0.02 from the threshold.
    "q_a16_corr_prune" -> ((s, d) => {
      import s.implicits._
      val l = Tables(s, d, "lineitem")
      val qL = round(col("l_quantity") * 100).cast("long")
      val dL = round(col("l_discount") * 100).cast("long")
      val cols = Seq("l_quantity", "mix1", "mix2", "l_discount")
      val corr = Prep.corrMatrixLong(l, Seq(
        "l_quantity" -> qL, "mix1" -> (qL + dL * 114),
        "mix2" -> (qL + dL * 228), "l_discount" -> dL))
      Prep.highCorrDrops(corr, cols, 0.95).toDF("col_name").orderBy("col_name")
    }),

    // M4 — Yeo-Johnson λ selection by grid MLE. The OUTPUT is the chosen λ
    // per column (a grid literal), not the transformed values: the ψ sums
    // go through libm pow/log, so values would drift by ulps across
    // engines, but the argmax margins (~20-47 log-likelihood units,
    // measured) dwarf any such drift — λ selection is robustly identical.
    "q_m4_yeojohnson_lambda" -> ((s, d) => {
      import s.implicits._
      val cust = Tables(s, d, "customer")
        .withColumn("bal_k", col("c_acctbal") / 1000.0)
        .withColumn("bal_sq", col("bal_k") * col("bal_k"))
      val lams = graft.ml.Transforms.fitYeoJohnson(cust, Seq("bal_k", "bal_sq"))
      Seq(("bal_k", lams("bal_k")), ("bal_sq", lams("bal_sq")))
        .toDF("col_name", "lambda").orderBy("col_name")
    }),

    // M5 — quantile transform to uniform output (exact-percentile fit;
    // piecewise-linear empirical CDF, clamped like sklearn's transformer).
    "q_m5_quantile" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
      val m = graft.ml.Transforms
        .fitQuantileTransformerExact(cust, Seq("c_acctbal"), 101)
      cust.select(col("c_custkey"),
          graft.ml.Transforms.quantileTransform(m.head, "uniform").as("q"))
        .orderBy("c_custkey")
    }),

    // M13 — deterministic bootstrap resample (≈ Poisson(1) replication).
    "q_m13_bootstrap" -> ((s, d) =>
      Split.bootstrap(Tables(s, d, "events"), "event_id", ratio = 1.0,
        seed = 42, nTrials = 8)
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))),

    // E2/E1/E5/E6/E9 — arithmetic blend family over aligned predictions.
    "q_e_blends" -> ((s, d) =>
      preds(s, d).select(
        col("event_id"),
        Ensemble.simpleAverage(Seq(col("p1"), col("p2"), col("p3"))).as("avg3"),
        Ensemble.weightedAverage(Seq(col("p1"), col("p2"), col("p3")),
          Seq(2.0, 3.0, 5.0)).as("wavg"),
        Ensemble.weightedAverage(Seq(col("p1"), col("p2"), col("p3")),
          Ensemble.rankWeights(Seq(0.6, 0.8, 0.7))).as("rank_wavg"),
        Ensemble.harmonicMean(Seq(col("p1"), col("p2"), col("p3"))).as("hmean"),
        Ensemble.medianOfPredictions(Seq(col("p1"), col("p2"), col("p3"))).as("med3"),
        Ensemble.sequentialBlend(Seq(col("p1"), col("p2"), col("p3")), 0.3).as("seq_blend"))
        .orderBy("event_id")),

    // E4 — geometric mean in its integer-scaled log-free form (the BM25/
    // TF-IDF trick): the exact 1e-6-grid product is a strictly monotone
    // transform of the geometric mean, bit-reproducible on any engine —
    // unlike exp(mean(log)) whose libm drift forced a rows-only check in
    // round 3. EnsembleSpec ties this form back to the log/exp operator.
    "q_e_geometric" -> ((s, d) =>
      preds(s, d).select(col("event_id"),
        Ensemble.geometricMeanScaled(Seq(col("p1"), col("p2"), col("p3")))
          .as("gmean_prod_e6"))
        .orderBy("event_id")),

    // E11 — hard majority vote (ties → smallest label).
    "q_e_hard_vote" -> ((s, d) =>
      Tables(s, d, "events").select(
        col("event_id"),
        Ensemble.hardVote(Seq(
          pmod(col("event_id"), lit(3)),
          pmod(col("event_id") + 1, lit(3)),
          pmod(col("event_id") * 2, lit(3)))).as("vote"))
        .orderBy("event_id")),

    // E11 — soft vote (argmax of averaged class probabilities).
    "q_e_soft_vote" -> ((s, d) =>
      preds(s, d).select(
        col("event_id"),
        Ensemble.softVote(Seq(
          "a" -> Seq(col("p1")), "b" -> Seq(col("p2")), "c" -> Seq(col("p3"))))
          .as("winner"))
        .orderBy("event_id")),

    // E12 — best config per model type from a results-store relation.
    "q_e_best_per_type" -> ((s, d) =>
      Ensemble.bestPerType(resultsStore(s, d))
        .orderBy("model_type")),

    // W6 — nth-best (rank 2) per model type.
    "q_e_second_best" -> ((s, d) =>
      Ensemble.nthBestPerType(resultsStore(s, d), 2)
        .select(col("model_type"), col("config_name"), col("test_score"))
        .orderBy("model_type")))

  /** Tiny results-store relation derived from events (model_type × config
    * → mean value as the "test score"). */
  private def resultsStore(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .groupBy(col("event_type").as("model_type"),
        concat(lit("cfg"), pmod(col("event_id"), lit(7))).as("config_name"))
      .agg(davg(col("value")).as("test_score"))

  private val resultsStoreSql =
    s"""SELECT event_type AS model_type,
       | 'cfg' || CAST(event_id % 7 AS VARCHAR) AS config_name,
       | ${davgSql("value")} AS test_score
       |FROM events GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_m2_robust_scale" ->
      """WITH st AS (SELECT QUANTILE_CONT(c_acctbal, 0.5) AS med,
        |  QUANTILE_CONT(c_acctbal, 0.75) - QUANTILE_CONT(c_acctbal, 0.25) AS iqr
        | FROM customer)
        |SELECT c_custkey, (c_acctbal - st.med) / st.iqr AS z
        |FROM customer, st ORDER BY c_custkey""".stripMargin,

    "q_m3_minmax_scale" ->
      """WITH st AS (SELECT CAST(MIN(c_acctbal) AS DOUBLE) AS lo,
        |  CAST(MAX(c_acctbal) AS DOUBLE) AS hi FROM customer)
        |SELECT c_custkey, (c_acctbal - st.lo) / (st.hi - st.lo) AS z
        |FROM customer, st ORDER BY c_custkey""".stripMargin,

    "q_a11_null_gate" ->
      """SELECT col_name FROM (
        | SELECT 'v_high' AS col_name,
        |  AVG(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END) AS r FROM events
        | UNION ALL SELECT 'v_low',
        |  AVG(CASE WHEN value > 400 THEN 1.0 ELSE 0.0 END) FROM events
        | UNION ALL SELECT 'value',
        |  AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) FROM events
        |) t WHERE r < 0.8 ORDER BY col_name""".stripMargin,

    "q_a16_corr_prune" -> {
      // Greedy upper-triangle walk over cols = [q, m1, m2, d] encoded
      // explicitly: a column is dropped iff some EARLIER SURVIVING column
      // correlates above the threshold with it (Prep.highCorrDrops).
      val cols = Seq("l_quantity", "mix1", "mix2", "l_discount")
      val corrs = (for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield s"ABS(${dcorrSql(cols(i), cols(j))}) > 0.95 AS hot_${i}_$j")
        .mkString(",\n ")
      s"""WITH src AS (SELECT l_quantity, l_discount,
         |  l_quantity + l_discount * 114.0 AS mix1,
         |  l_quantity + l_discount * 228.0 AS mix2 FROM lineitem),
         |h AS (SELECT $corrs FROM src),
         |g AS (SELECT hot_0_1 AS drop_1,
         |  (hot_0_2 OR (NOT hot_0_1 AND hot_1_2)) AS drop_2, * FROM h),
         |g2 AS (SELECT *, (hot_0_3 OR (NOT drop_1 AND hot_1_3)
         |  OR (NOT drop_2 AND hot_2_3)) AS drop_3 FROM g)
         |SELECT col_name FROM g2, (VALUES ('${cols(1)}', 1), ('${cols(2)}', 2),
         |  ('${cols(3)}', 3)) v(col_name, ci)
         |WHERE (ci = 1 AND drop_1) OR (ci = 2 AND drop_2) OR (ci = 3 AND drop_3)
         |ORDER BY col_name""".stripMargin
    },

    "q_m4_yeojohnson_lambda" -> {
      val grid = (-20 to 20).map(_ * 0.25)
      def psiSql(lam: Double): String = {
        val pos =
          if (math.abs(lam) < 1e-12) "LN(x + 1)"
          else s"(POW(x + 1, $lam) - 1) / $lam"
        val neg =
          if (math.abs(lam - 2) < 1e-12) "-LN(-(x) + 1)"
          else s"-(POW(-(x) + 1, ${2 - lam}) - 1) / ${2 - lam}"
        s"CASE WHEN x >= 0 THEN $pos ELSE $neg END"
      }
      def chain(name: String, xExpr: String): String = {
        val aggs = grid.zipWithIndex.map { case (lam, i) =>
          s"SUM(${psiSql(lam)}) AS s_$i, SUM((${psiSql(lam)})*(${psiSql(lam)})) AS ss_$i"
        }.mkString(",\n ")
        val scores = grid.zipWithIndex.map { case (lam, i) =>
          val v = s"(ss_$i/n - (s_$i/n)*(s_$i/n))"
          s"CASE WHEN $v <= 0 OR isnan($v) THEN -1e308 " +
            s"ELSE -n/2*LN($v) + ($lam - 1)*slog END"
        }.mkString(", ")
        val lams = grid.mkString("[", ", ", "]")
        s"""(WITH src AS (SELECT $xExpr AS x FROM customer),
           |a AS (SELECT $aggs,
           |  SUM(SIGN(x)*LN(ABS(x)+1)) AS slog, CAST(COUNT(x) AS DOUBLE) AS n
           |  FROM src),
           |sc AS (SELECT [$scores] AS scores FROM a)
           |SELECT '$name' AS col_name,
           |  list_extract($lams, list_position(scores, list_max(scores)))
           |    AS "lambda" FROM sc)""".stripMargin
      }
      chain("bal_k", "c_acctbal / 1000.0") + "\nUNION ALL\n" +
        chain("bal_sq", "(c_acctbal/1000.0)*(c_acctbal/1000.0)") +
        "\nORDER BY col_name"
    },

    "q_m5_quantile" -> {
      val probs = (0 until 101).map(_.toDouble / 100).mkString("[", ",", "]")
      s"""WITH br AS (SELECT QUANTILE_CONT(c_acctbal, $probs) AS b FROM customer),
         |t AS (SELECT c_custkey, c_acctbal AS x, b,
         |  len(list_filter(b, v -> v <= c_acctbal)) AS i
         |  FROM customer, br)
         |SELECT c_custkey,
         |  LEAST(1 - 1e-7, GREATEST(1e-7,
         |    CASE WHEN x <= b[1] THEN 0.0
         |         WHEN x >= b[101] THEN 1.0
         |         ELSE (CAST(i - 1 AS DOUBLE) +
         |           (CASE WHEN b[i + 1] > b[i]
         |                 THEN (x - b[i]) / (b[i + 1] - b[i]) ELSE 0.0 END))
         |           / 100.0 END)) AS q
         |FROM t ORDER BY c_custkey""".stripMargin
    },

    "q_m13_bootstrap" ->
      s"""SELECT COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events CROSS JOIN (SELECT unnest(range(0, 8)) AS dd) t
         |WHERE substr(MD5('42' || ':' || CAST(event_id AS VARCHAR)
         |  || '#' || CAST(dd AS VARCHAR)), 1, 8) < '20000000'""".stripMargin,

    "q_e_blends" ->
      s"""WITH p AS ($predsSql)
         |SELECT event_id,
         | (p1 + p2 + p3) / 3 AS avg3,
         | p1 * (2.0 / 10.0) + p2 * (3.0 / 10.0) + p3 * (5.0 / 10.0) AS wavg,
         | p1 * (1.0 / 14.0) + p2 * (9.0 / 14.0) + p3 * (4.0 / 14.0) AS rank_wavg,
         | 3.0 / (1.0 / LEAST(GREATEST(p1, 1e-10), 1 - 1e-10)
         |      + 1.0 / LEAST(GREATEST(p2, 1e-10), 1 - 1e-10)
         |      + 1.0 / LEAST(GREATEST(p3, 1e-10), 1 - 1e-10)) AS hmean,
         | list_sort([p1, p2, p3])[2] AS med3,
         | LEAST(GREATEST(LEAST(GREATEST(p1 * (1 - 0.3) + p2 * 0.3, 1e-10), 1 - 1e-10)
         |   * (1 - 0.3) + p3 * 0.3, 1e-10), 1 - 1e-10) AS seq_blend
         |FROM p ORDER BY event_id""".stripMargin,

    "q_e_geometric" ->
      s"""WITH p AS ($predsSql)
         |SELECT event_id,
         | CAST(floor(LEAST(GREATEST(p1, 1e-10), 1 - 1e-10) * 1e6 + 0.5) AS BIGINT)
         | * CAST(floor(LEAST(GREATEST(p2, 1e-10), 1 - 1e-10) * 1e6 + 0.5) AS BIGINT)
         | * CAST(floor(LEAST(GREATEST(p3, 1e-10), 1 - 1e-10) * 1e6 + 0.5) AS BIGINT)
         |   AS gmean_prod_e6
         |FROM p ORDER BY event_id""".stripMargin,

    "q_e_hard_vote" ->
      """SELECT event_id,
        | CASE WHEN v1 = v2 OR v1 = v3 THEN v1 WHEN v2 = v3 THEN v2
        |      ELSE LEAST(v1, v2, v3) END AS vote
        |FROM (SELECT event_id, event_id % 3 AS v1, (event_id + 1) % 3 AS v2,
        |  (event_id * 2) % 3 AS v3 FROM events) t
        |ORDER BY event_id""".stripMargin,

    "q_e_soft_vote" ->
      s"""WITH p AS ($predsSql),
         |b AS (SELECT event_id, p1, p2, p3, GREATEST(p1, p2, p3) AS best FROM p)
         |SELECT event_id, CASE WHEN p1 = best THEN 'a' WHEN p2 = best THEN 'b'
         |  ELSE 'c' END AS winner
         |FROM b ORDER BY event_id""".stripMargin,

    "q_e_best_per_type" ->
      s"""WITH rs AS ($resultsStoreSql)
         |SELECT model_type, config_name, test_score FROM (
         | SELECT *, ROW_NUMBER() OVER (PARTITION BY model_type
         |   ORDER BY test_score DESC, config_name ASC) AS rn FROM rs) t
         |WHERE rn = 1 ORDER BY model_type""".stripMargin,

    "q_e_second_best" ->
      s"""WITH rs AS ($resultsStoreSql)
         |SELECT model_type, config_name, test_score FROM (
         | SELECT *, ROW_NUMBER() OVER (PARTITION BY model_type
         |   ORDER BY test_score DESC, config_name ASC) AS rn FROM rs) t
         |WHERE rn = 2 ORDER BY model_type""".stripMargin)
}
