package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Cleaning
import graft.stats.{Metrics, Tests}

/** Metric + statistical-test queries (SURVEY.md §2.10) with DuckDB oracles.
  *
  * Labels/scores are derived deterministically from the events table:
  *   label      = 1 iff event_type = 'click'
  *   score      = value
  *   pred       = 1 iff value >= 50            (binary pred)
  *   pseudo     = event_type picked by event_id % 5   (multiclass pred)
  */
object StatsQueries extends QueryPack {
  import Sql._

  private val types = Seq("click", "view", "signup", "error", "purchase")

  private def labeled(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .withColumn("label", when(col("event_type") === "click", 1).otherwise(0))
      .withColumn("pred", Cleaning.binarize(col("value"), 50))
      .withColumn("pseudo", Cleaning.decode(pmod(col("event_id"), lit(5)),
        types.zipWithIndex.map { case (t, i) => i -> t }.toMap))

  private val labeledSql =
    """SELECT *, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS label,
      | CASE WHEN value >= 50 THEN 1 ELSE 0 END AS pred,
      | CASE CAST(event_id % 5 AS INTEGER) WHEN 0 THEN 'click' WHEN 1 THEN 'view'
      |   WHEN 2 THEN 'signup' WHEN 3 THEN 'error' WHEN 4 THEN 'purchase'
      |   END AS pseudo
      |FROM events""".stripMargin

  /** Midrank CTE over a pooled value relation `src(v [, extra cols])`:
    * yields (v, cnt, <extraAgg>, avg_rank). */
  private def midrankSql(srcSql: String, extraAgg: String): String =
    s"""c AS (SELECT v, COUNT(*) AS cnt$extraAgg FROM $srcSql GROUP BY v),
       |r AS (SELECT *, CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
       |  + (cnt + 1) / 2.0 AS avg_rank FROM c)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1/T4 — binary precision/recall/F1/accuracy in one counting pass.
    "q_t1_binary_metrics" -> ((s, d) =>
      Metrics.binaryMetrics(labeled(s, d), "label", "pred")),

    // T6 — multiclass confusion matrix.
    "q_t6_confusion" -> ((s, d) =>
      Metrics.confusionMatrix(labeled(s, d), "event_type", "pseudo")),

    // T2 — per-class F1.
    "q_t2_per_class_f1" -> ((s, d) =>
      Metrics.perClassF1(labeled(s, d), "event_type", "pseudo")),

    // T2 — macro-F1.
    "q_t2_macro_f1" -> ((s, d) =>
      Metrics.macroF1(labeled(s, d), "event_type", "pseudo")),

    // T3 — exact AUROC via midranks (no global row sort).
    "q_t3_auroc" -> ((s, d) =>
      Metrics.auroc(labeled(s, d), "label", "value")),

    // T9 — Welch two-sample t.
    "q_t9_welch_t" -> ((s, d) =>
      Tests.welchT(Tables(s, d, "customer"), "c_acctbal", "c_mktsegment",
        "BUILDING", "MACHINERY")),

    // T9 — paired t on a difference column.
    "q_t9_paired_t" -> ((s, d) =>
      Tests.pairedT(Tables(s, d, "events")
        .withColumn("diff", col("value") - 245.0), "diff")),

    // T10 — chi-squared independence.
    "q_t10_chi2" -> ((s, d) =>
      Tests.chi2(Tables(s, d, "orders"), "o_orderstatus", "o_orderpriority")),

    // T8 — Spearman rank correlation.
    "q_t8_spearman" -> ((s, d) =>
      Tests.spearman(Tables(s, d, "lineitem"), "l_quantity", "l_extendedprice")),

    // T11 — Wilcoxon signed-rank.
    "q_t11_wilcoxon" -> ((s, d) =>
      Tests.wilcoxonSignedRank(Tables(s, d, "events")
        .withColumn("diff", col("value") - 245.0), "diff")),

    // T12 — Mann-Whitney U.
    "q_t12_mann_whitney" -> ((s, d) =>
      Tests.mannWhitneyU(Tables(s, d, "events"), "value", "event_type",
        "click", "view")),

    // T13 — Kruskal-Wallis H.
    "q_t13_kruskal" -> ((s, d) =>
      Tests.kruskalWallis(Tables(s, d, "events"), "value", "event_type")),

    // T13 — one-way ANOVA F.
    "q_t13_anova" -> ((s, d) =>
      Tests.anovaF(Tables(s, d, "events"), "value", "event_type")),

    // T15 (extension) — two-sample Kolmogorov-Smirnov drift statistic:
    // exact-integer max |F1−F2| over the distinct-value relation.
    "q_t15_ks" -> ((s, d) =>
      Tests.ksTest(Tables(s, d, "events"), "value", "event_type",
        "click", "purchase")),

    // T16 (extension) — calibration / reliability bins for a probability
    // column: exact positive fraction + decimal-exact mean prediction.
    "q_t16_calibration" -> ((s, d) =>
      Tests.calibrationBins(
        labeled(s, d).withColumn("p", col("value") / 500.0), "p", "label", 10)))

  val oracles: Map[String, String] = Map(
    "q_t1_binary_metrics" ->
      s"""WITH l AS ($labeledSql),
         |c AS (SELECT
         |  CAST(SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         | FROM l)
         |SELECT tp, fp, fn, tn,
         | CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) AS precision,
         | CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) AS recall,
         | 2.0 * CAST(tp AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
         |   + CAST(fn AS DOUBLE)) AS f1,
         | (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) / (CAST(tp AS DOUBLE)
         |   + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)) AS accuracy
         |FROM c""".stripMargin,

    "q_t6_confusion" ->
      s"""WITH l AS ($labeledSql)
         |SELECT event_type, pseudo, COUNT(*) AS n FROM l
         |GROUP BY event_type, pseudo ORDER BY event_type, pseudo""".stripMargin,

    "q_t2_per_class_f1" -> perClassF1Sql,

    "q_t2_macro_f1" ->
      s"SELECT ${davgSql("f1")} AS macro_f1 FROM ($perClassF1Sql) pc",

    "q_t3_auroc" ->
      s"""WITH l AS ($labeledSql),
         |src AS (SELECT value AS v, label FROM l WHERE value IS NOT NULL),
         |${midrankSql("src", ", CAST(SUM(label) AS BIGINT) AS pos")},
         |a AS (SELECT ${dsumSql("pos * avg_rank")} AS sum_pos_rank,
         |  CAST(SUM(pos) AS DOUBLE) AS n_pos,
         |  CAST(SUM(cnt - pos) AS DOUBLE) AS n_neg FROM r)
         |SELECT (sum_pos_rank - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) AS auroc
         |FROM a""".stripMargin,

    "q_t9_welch_t" -> {
      def side(g: String, i: Int) =
        s"""s$i AS (SELECT CAST(COUNT(c_acctbal) AS DOUBLE) AS n$i,
           | ${davgSql("c_acctbal")} AS mean$i, ${dvarSampSql("c_acctbal")} AS var$i
           | FROM customer WHERE c_mktsegment = '$g' AND c_acctbal IS NOT NULL)""".stripMargin
      s"""WITH ${side("BUILDING", 1)}, ${side("MACHINERY", 2)}
         |SELECT n1, mean1, n2, mean2,
         | (mean1 - mean2) / SQRT(var1 / n1 + var2 / n2) AS t,
         | ((var1 / n1 + var2 / n2) * (var1 / n1 + var2 / n2)) /
         |  ((var1 / n1) * (var1 / n1) / (n1 - 1) +
         |   (var2 / n2) * (var2 / n2) / (n2 - 1)) AS df
         |FROM s1, s2""".stripMargin
    },

    "q_t9_paired_t" ->
      s"""WITH src AS (SELECT value - 245.0 AS d FROM events WHERE value IS NOT NULL),
         |a AS (SELECT CAST(COUNT(d) AS DOUBLE) AS n, ${davgSql("d")} AS mean_diff,
         |  ${dvarSampSql("d")} AS var_diff FROM src)
         |SELECT n, mean_diff, mean_diff / SQRT(var_diff / n) AS t, n - 1 AS df
         |FROM a""".stripMargin,

    "q_t10_chi2" ->
      s"""WITH obs AS (SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS n
         |  FROM orders GROUP BY 1, 2),
         |rt AS (SELECT a, CAST(SUM(n) AS BIGINT) AS row_n FROM obs GROUP BY a),
         |ct AS (SELECT b, CAST(SUM(n) AS BIGINT) AS col_n FROM obs GROUP BY b),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n FROM obs),
         |grid AS (SELECT rt.a, ct.b, row_n, col_n, tot_n, COALESCE(obs.n, 0) AS n
         |  FROM rt CROSS JOIN ct CROSS JOIN tot
         |  LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b)
         |SELECT ${dsumSql(
             "(n - (row_n * col_n) / CAST(tot_n AS DOUBLE)) * " +
             "(n - (row_n * col_n) / CAST(tot_n AS DOUBLE)) / " +
             "((row_n * col_n) / CAST(tot_n AS DOUBLE))")} AS chi2,
         | CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT) AS dof
         |FROM grid""".stripMargin,

    "q_t8_spearman" ->
      // doubled midranks are exact integers; every moment sums in HUGEINT
      // (mirrors Spark's decimal(38,0)); only the final O(1) moments cast
      // to double — correctly-rounded on both engines at any scale
      """WITH base AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cx AS (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x),
        |rx AS (SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  + cnt + 1 AS dx FROM cx),
        |cy AS (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y),
        |ry AS (SELECT y, 2 * COALESCE(SUM(cnt) OVER (ORDER BY y
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  + cnt + 1 AS dy FROM cy),
        |j AS (SELECT rx.dx, ry.dy FROM base
        |  JOIN rx ON base.x = rx.x JOIN ry ON base.y = ry.y),
        |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |  SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
        |  SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
        |  SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy,
        |  SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy FROM j)
        |SELECT CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |  / (SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
        |   * SQRT(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))) AS rho
        |FROM s""".stripMargin,

    "q_t11_wilcoxon" ->
      s"""WITH src AS (SELECT ABS(value - 245.0) AS v,
         |  CASE WHEN value - 245.0 > 0 THEN 1 ELSE 0 END AS pos
         |  FROM events WHERE value IS NOT NULL AND value - 245.0 <> 0),
         |${midrankSql("src", ", CAST(SUM(pos) AS BIGINT) AS n_pos_at")},
         |a AS (SELECT ${dsumSql("n_pos_at * avg_rank")} AS w_plus,
         |  ${dsumSql("(cnt - n_pos_at) * avg_rank")} AS w_minus,
         |  CAST(SUM(cnt) AS DOUBLE) AS n,
         |  CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS tie FROM r)
         |SELECT w_plus, w_minus, n,
         | (w_plus - n * (n + 1) / 4.0) /
         |  SQRT(n * (n + 1) * (n * 2 + 1) / 24.0 - tie / 48.0) AS z
         |FROM a""".stripMargin,

    "q_t12_mann_whitney" ->
      s"""WITH src AS (SELECT value AS v,
         |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
         |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
         |${midrankSql("src", ", CAST(SUM(g1) AS BIGINT) AS n_g1_at")},
         |a AS (SELECT ${dsumSql("n_g1_at * avg_rank")} AS r1,
         |  CAST(SUM(n_g1_at) AS DOUBLE) AS n1,
         |  CAST(SUM(cnt - n_g1_at) AS DOUBLE) AS n2,
         |  CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS tie FROM r)
         |SELECT r1 - n1 * (n1 + 1) / 2.0 AS u1, n1, n2,
         | ((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0) /
         |  SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1)
         |    - tie / ((n1 + n2) * (n1 + n2 - 1)))) AS z
         |FROM a""".stripMargin,

    "q_t13_kruskal" ->
      s"""WITH base AS (SELECT value AS v, event_type AS g FROM events
         |  WHERE value IS NOT NULL),
         |${midrankSql("base", "")},
         |tie AS (SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS tie,
         |  CAST(SUM(cnt) AS BIGINT) AS n_tot FROM r),
         |pg AS (SELECT g, ${dsumSql("avg_rank")} AS r_g,
         |  CAST(COUNT(*) AS DOUBLE) AS n_g
         |  FROM base JOIN r ON base.v = r.v GROUP BY g),
         |agg AS (SELECT ${dsumSql("r_g / n_tot * (r_g / n_g)")} AS s_norm,
         |  CAST(COUNT(*) AS BIGINT) AS k, MAX(tie) AS tie, MAX(n_tot) AS n_tot
         |  FROM pg CROSS JOIN tie)
         |SELECT (12.0 / (n_tot + 1) * s_norm - (n_tot + 1) * 3.0) /
         |  (1.0 - tie / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
         |    * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE))) AS h,
         | (k - 1) AS dof
         |FROM agg""".stripMargin,

    "q_t13_anova" ->
      s"""WITH g AS (SELECT event_type, CAST(COUNT(value) AS DOUBLE) AS n_g,
         |  ${dsumSql("value")} AS s_g, ${dsumSql("value * value")} AS ss_g
         |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
         |a AS (SELECT CAST(SUM(n_g) AS DOUBLE) AS n, ${dsumSql("s_g")} AS s,
         |  ${dsumSql("ss_g")} AS ss, ${dsumSql("s_g / n_g * s_g")} AS sum_gm,
         |  CAST(COUNT(*) AS DOUBLE) AS k FROM g)
         |SELECT ((sum_gm - s * s / n) / (k - 1)) / ((ss - sum_gm) / (n - k)) AS f,
         | CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2
         |FROM a""".stripMargin,

    "q_t15_ks" ->
      """WITH pool AS (SELECT value AS v,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS i1
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL),
        |counts AS (SELECT v, COUNT(*) AS cnt, SUM(i1) AS c1
        |  FROM pool GROUP BY v),
        |cum AS (SELECT SUM(c1) OVER w AS f1, SUM(cnt - c1) OVER w AS f2,
        |  SUM(c1) OVER () AS n1, SUM(cnt - c1) OVER () AS n2
        |  FROM counts WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING))
        |SELECT CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS DOUBLE)
        |    / CAST(MAX(n1) * MAX(n2) AS DOUBLE) AS ks,
        | CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS d_scaled,
        | CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2
        |FROM cum""".stripMargin,

    "q_t16_calibration" ->
      s"""WITH l AS ($labeledSql)
         |SELECT CAST(LEAST(FLOOR((value / 500.0) * 10), 9.0) AS INTEGER) AS bin,
         | COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS n_pos,
         | ${dsumSql("value / 500.0")} / COUNT(*) AS mean_pred,
         | CAST(SUM(label) AS DOUBLE) / COUNT(*) AS frac_pos
         |FROM l WHERE value IS NOT NULL
         |GROUP BY 1 ORDER BY bin""".stripMargin)

  private lazy val perClassF1Sql: String =
    s"""WITH l AS ($labeledSql),
       |cm AS (SELECT event_type AS lb, pseudo AS p, COUNT(*) AS n FROM l GROUP BY 1, 2),
       |cls AS (SELECT DISTINCT lb AS cls FROM cm UNION SELECT DISTINCT p FROM cm),
       |tpt AS (SELECT lb AS cls, CAST(SUM(n) AS BIGINT) AS tp FROM cm WHERE lb = p GROUP BY lb),
       |lt AS (SELECT lb AS cls, CAST(SUM(n) AS BIGINT) AS n_label FROM cm GROUP BY lb),
       |pt AS (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY p)
       |SELECT cls, COALESCE(tp, 0) AS tp, COALESCE(n_label, 0) AS n_label,
       | COALESCE(n_pred, 0) AS n_pred,
       | CASE WHEN COALESCE(n_label, 0) + COALESCE(n_pred, 0) = 0 THEN 0.0
       |   ELSE 2.0 * COALESCE(tp, 0) / (COALESCE(n_label, 0) + COALESCE(n_pred, 0))
       |   END AS f1
       |FROM cls LEFT JOIN tpt USING (cls) LEFT JOIN lt USING (cls)
       | LEFT JOIN pt USING (cls)
       |ORDER BY cls""".stripMargin
}
