package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.ops.{Cleaning, Num, Ranking, Relational}
import graft.ml.{Prep, Split}

/** SQL fragments shared by the DuckDB oracles. Doubles are accumulated
  * through exact decimals on BOTH engines (see graft.ops.Num) so results
  * are bit-identical regardless of execution order. */
object Sql {
  def dsumSql(e: String): String = s"CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"
  def davgSql(e: String): String = s"(${dsumSql(e)} / COUNT($e))"
  def dvarSampSql(e: String): String = {
    val n = s"CAST(COUNT($e) AS DOUBLE)"
    s"(($n * ${dsumSql(s"($e)*($e)")} - ${dsumSql(e)} * ${dsumSql(e)}) / ($n * ($n - 1.0)))"
  }
  def dstddevSql(e: String): String = s"SQRT(${dvarSampSql(e)})"
  def dcorrSql(x: String, y: String): String = {
    val n = "CAST(COUNT(*) AS DOUBLE)"
    s"(($n * ${dsumSql(s"($x)*($y)")} - ${dsumSql(x)} * ${dsumSql(y)}) / " +
      s"(SQRT($n * ${dsumSql(s"($x)*($x)")} - ${dsumSql(x)} * ${dsumSql(x)}) * " +
      s"SQRT($n * ${dsumSql(s"($y)*($y)")} - ${dsumSql(y)} * ${dsumSql(y)})))"
  }
  /** md5-based deterministic shuffle key, same text both engines. */
  def hashKey(keyExpr: String, seed: Int): String =
    s"MD5(CONCAT_WS(':', '$seed', CAST($keyExpr AS VARCHAR)))"
}

/** Core relational operator queries (SURVEY.md §2.2-2.6) with DuckDB
  * oracles, over the driver test tables. Every query has a total
  * deterministic ORDER BY so results are reproducible row-for-row. */
object CoreQueries extends QueryPack {
  import Num._

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val prioAlias =
    Seq("p1_urgent", "p2_high", "p3_medium", "p4_notspec", "p5_low")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P4/P1 — predicate filter + projection (pushdown-friendly).
    "q_p4_filter" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_discount") > 0.02)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // P8/P15/P16/P11 — CASE binarize, clip, cast.
    "q_p8_binarize_clip" -> ((s, d) =>
      Tables(s, d, "events").select(
        col("event_id"),
        Cleaning.binarize(col("value"), 50).as("label"),
        Cleaning.clip(col("value") / 100.0, 0.05, 0.95).as("clipped"),
        floor(col("value")).cast("int").as("value_int"))
        .orderBy("event_id")),

    // P9 — dict decode.
    "q_p9_decode" -> ((s, d) =>
      Tables(s, d, "nation").select(
        col("n_nationkey"), col("n_name"),
        Cleaning.decode(col("n_regionkey"), Map(
          0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE",
          4 -> "MIDEAST")).as("region_label"))
        .orderBy("n_nationkey")),

    // P10 — codebook sentinel rewrite (codes → -1 / null).
    "q_p10_sentinel" -> ((s, d) =>
      Tables(s, d, "events").select(
        col("event_id"),
        Cleaning.rewriteSentinels(floor(col("value")),
          toMinusOne = Seq(99), toNull = Seq(97, 98)).as("v_clean"))
        .orderBy("event_id")),

    // P17 — pd.cut binning + A2 value_counts.
    "q_p17_cut" -> ((s, d) =>
      Relational.valueCounts(
        Tables(s, d, "customer").withColumn("bal_bin",
          Cleaning.cut(col("c_acctbal"),
            Seq(-1000, 0, 2500, 5000, 7500, 10000),
            Seq("neg", "low", "mid", "high", "top"))),
        "bal_bin")),

    // P19/J4/U1 — vertical union over common columns (right frame's order).
    "q_p19_union" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val b = o.filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
      Relational.unionOnCommonColumns(a, b).orderBy("o_orderkey")
    }),

    // P2/P3 — column select by prefix + by dtype, aggregated.
    "q_p3_select_dtype" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val numeric = c.schema.fields
        .filter(f => Set("LongType", "IntegerType", "DoubleType")(f.dataType.toString))
        .map(_.name).toSeq
      val aggs = numeric.map(n => dsum(col(n)).as(s"sum_$n"))
      c.select(numeric.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }),

    // A1 — TPC-H Q1-style multi-aggregate groupBy.
    "q_a1_tpch_q1" -> ((s, d) => q1(s, d).orderBy("l_returnflag", "l_linestatus")),

    // A2 — value_counts.
    "q_a2_value_counts" -> ((s, d) =>
      Relational.valueCounts(Tables(s, d, "events"), "event_type")),

    // A3 — value_counts(normalize=True).
    "q_a3_value_counts_norm" -> ((s, d) =>
      Relational.valueCounts(Tables(s, d, "events"), "event_type", normalize = true)),

    // A4 — crosstab.
    "q_a4_crosstab" -> ((s, d) =>
      renamePrio(Relational.crosstab(
        Tables(s, d, "orders"), "o_orderstatus", "o_orderpriority", priorities))),

    // A5 — crosstab normalize='index'.
    "q_a5_crosstab_share" -> ((s, d) =>
      renamePrio(Relational.crosstabRowShare(
        Tables(s, d, "orders"), Seq("o_orderstatus"), "o_orderpriority", priorities))),

    // A8 include='all' — categorical describe: count/unique/top/freq.
    "q_a8b_describe_cat" -> ((s, d) =>
      Relational.describeCategorical(
        Tables(s, d, "orders"), Seq("o_orderstatus", "o_orderpriority"))),

    // A4 margins=True — contingency table + "All" grand-total row/column.
    "q_a4b_crosstab_margins" -> ((s, d) =>
      renamePrio(Relational.crosstabWithMargins(
        Tables(s, d, "orders"), "o_orderstatus", "o_orderpriority", priorities))),

    // A6 — pivot_table(aggfunc=mean).
    "q_a6_pivot_table" -> ((s, d) =>
      renamePrio(Relational.pivotTable(
        Tables(s, d, "orders"), "o_orderstatus", "o_orderpriority", priorities,
        davg(col("o_totalprice"))))),

    // A7 — melt/unpivot of the Q1 aggregate.
    "q_a7_melt" -> ((s, d) =>
      Relational.melt(q1(s, d), Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty", "avg_qty", "count_order"), "metric", "value")
        .orderBy("l_returnflag", "l_linestatus", "metric")),

    // A8/A17 — describe(): count/mean/std/min/max per column, one pass.
    "q_a8_describe" -> ((s, d) => {
      val l = Tables(s, d, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__n"), davg(col(c)).as(s"${c}__mean"),
        dstddevSamp(col(c)).as(s"${c}__std"),
        min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max")))
      l.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col(s"${c}__n").as("n"),
          col(s"${c}__mean").as("mean"), col(s"${c}__std").as("stddev"),
          col(s"${c}__min").as("min_v"), col(s"${c}__max").as("max_v"))): _*)).as("r"))
        .select("r.*").orderBy("col_name")
    }),

    // A9 — per-column null rates in one pass.
    "q_a9_null_rates" -> ((s, d) =>
      Relational.nullRates(
        Tables(s, d, "events").withColumn("v_masked",
          when(col("value") > 400, lit(null)).otherwise(col("value"))),
        Seq("v_masked", "value")).orderBy("col_name")),

    // A10 — per-row null count.
    "q_a10_row_nulls" -> ((s, d) =>
      Tables(s, d, "events")
        .withColumn("v_masked", when(col("value") > 400, lit(null)).otherwise(col("value")))
        .withColumn("props_k", when(col("event_type") === "error", lit(null))
          .otherwise(col("props")))
        .select(col("event_id"),
          Relational.rowNullCount(Seq("v_masked", "props_k")).as("n_nulls"))
        .orderBy("event_id")),

    // A12 — deterministic grouped mode.
    "q_a12_mode" -> ((s, d) =>
      Ranking.modePerGroup(Tables(s, d, "orders"),
        Seq("o_orderstatus"), "o_orderpriority").orderBy("o_orderstatus")),

    // A15 — correlation matrix in one aggregation pass.
    "q_a15_corr_matrix" -> ((s, d) =>
      Prep.corrMatrix(Tables(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")),

    // A18 — IQR outlier count per group (exact percentiles).
    "q_a18_iqr_outliers" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val q = e.groupBy("event_type").agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      e.join(q, Seq("event_type"))
        .groupBy("event_type")
        .agg(sum(when(col("value") < col("q1") - (col("q3") - col("q1")) * 1.5, 1L)
          .when(col("value") > col("q3") + (col("q3") - col("q1")) * 1.5, 1L)
          .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // W1/W2 — global sort + top-k.
    "q_w1_topk" -> ((s, d) =>
      Ranking.topK(Tables(s, d, "orders"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // W3/W6/W8 — top-n per group via row_number window.
    "q_w3_topn_per_group" -> ((s, d) =>
      Ranking.topNPerGroup(Tables(s, d, "customer"), Seq("c_nationkey"),
        Seq(col("c_acctbal").desc, col("c_custkey").asc), 3)
        .select("c_nationkey", "rn", "c_custkey", "c_acctbal")
        .orderBy("c_nationkey", "rn")),

    // W4 — per-metric ranks + mean rank across metrics (nation stats).
    "q_w4_mean_rank" -> ((s, d) => {
      val stats = Tables(s, d, "customer").groupBy("c_nationkey")
        .agg(davg(col("c_acctbal")).as("avg_bal"),
          count(lit(1)).as("n_cust"),
          max(col("c_acctbal")).cast("double").as("max_bal"))
      Ranking.meanRankAcross(stats, "c_nationkey",
        Seq("avg_bal", "n_cust", "max_bal"))
        .select("c_nationkey", "avg_bal_rank", "n_cust_rank", "max_bal_rank",
          "mean_rank")
    }),

    // Salted two-phase aggregation must equal the plain groupBy — the
    // skew-mitigation path is verified inside the oracle gate itself.
    "q_a_salted_count" -> ((s, d) =>
      graft.ops.Skew.saltedCount(Tables(s, d, "orders"),
          "o_orderpriority", "o_orderkey", salts = 8)
        .orderBy("o_orderpriority")),

    // W7 — rolling mean over the trailing 3 events per user (event-time
    // order, exact-decimal accumulation; pandas rolling(3, min_periods=1)).
    "q_w7_rolling_mean" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables(s, d, "events")
        .filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          (sum(col("value").cast(DecimalType(30, 6))).over(w).cast("double") /
            count(lit(1)).over(w)).as("rolling_mean"))
        .orderBy("event_id")
    }),

    // W5-ish — per-row share of group total (exact-decimal window sum).
    "q_w5_window_share" -> ((s, d) =>
      Tables(s, d, "customer").select(
        col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal") /
          sum(col("c_acctbal").cast(DecimalType(30, 6)))
            .over(Window.partitionBy("c_nationkey")).cast("double")).as("bal_share"))
        .orderBy("c_custkey")),

    // U4 — distinct.
    "q_u4_distinct" -> ((s, d) =>
      Tables(s, d, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")),

    // J1 — selective join + agg + top-k (TPC-H Q3 shape).
    "q_j1_top_revenue" -> ((s, d) => {
      val c = Tables(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Tables(s, d, "orders")
      val l = Tables(s, d, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),

    // J1 — star join through broadcastable dims (TPC-H Q5 shape).
    "q_j2_region_revenue" -> ((s, d) => {
      val r = Tables(s, d, "region"); val n = Tables(s, d, "nation")
      val c = Tables(s, d, "customer"); val o = Tables(s, d, "orders")
      val l = Tables(s, d, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("r_name")
    }),

    // J5 — semi join (membership).
    "q_j_semi" -> ((s, d) => {
      val c = Tables(s, d, "customer"); val o = Tables(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // anti join (customers with no URGENT orders — every customer has SOME
    // order in this data, so the unfiltered anti join would be vacuous).
    "q_j_anti" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val urgent = Tables(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // As-of join (beyond the reference's equi-joins): each click carries
    // the latest prior purchase value of the same user — union + one
    // shuffle + running last-non-null window, never a per-row range probe.
    "q_j_asof" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("value").as("p_value"), col("event_id").as("p_id"))
      graft.ops.Temporal.asofJoin(clicks, purchases, "user_id", "ts", "p_ts",
          Seq("p_value"), tieCol = "p_id")
        .select("event_id", "user_id", "asof_p_value")
        .orderBy("event_id")
    }),

    // Interval (range) join, lag-binned so each join group is bounded by
    // bucket occupancy: purchases within the hour before each click.
    "q_j_interval" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      graft.ops.Temporal.intervalJoinBinned(clicks, purchases,
          "user_id", "ts", "p_ts", lagSeconds = 3600)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), dsum(col("p_value")).as("sum_p_value"))
        .orderBy("user_id")
    }),

    // TPC-H Q6 shape — tight filter + single aggregate (pushdown showcase).
    "q_a_tpch_q6" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))),

    // TPC-H Q12 shape — join + conditional counting by priority class.
    "q_j_tpch_q12" -> ((s, d) => {
      val o = Tables(s, d, "orders"); val l = Tables(s, d, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q14 shape — conditional revenue share over a join.
    "q_j_tpch_q14" -> ((s, d) => {
      val p = Tables(s, d, "part"); val l = Tables(s, d, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          (dsum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0))
            * 100.0 /
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("promo_revenue_pct"))
    }),

    // M10 — deterministic modulo split.
    "q_m10_modulo_split" -> ((s, d) =>
      Split.tagModulo(Tables(s, d, "events"), "event_id", 5, 4)
        .groupBy("split")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("split")),

    // M9 — hash holdout split.
    "q_m9_holdout" -> ((s, d) =>
      Split.tagHoldout(Tables(s, d, "events"), "event_id", 0.25)
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split")),

    // M11 — stratified k-fold assignment (md5-deal, engine-reproducible).
    "q_m11_kfold" -> ((s, d) =>
      Split.tagStratifiedKFold(Tables(s, d, "events"), "event_id", "event_type", 5)
        .groupBy("event_type", "fold").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "fold")),

    // M7 — label/ordinal encoding from a fitted vocabulary.
    "q_m7_label_encode" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val vocab = Prep.fitLabelEncoder(e, "event_type")
      Prep.labelEncode(e, vocab, "event_type")
        .groupBy("event_type", "event_type_idx").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // M6 — one-hot with fixed fitted categories.
    "q_m6_onehot" -> ((s, d) =>
      Prep.oneHot(Tables(s, d, "customer").select("c_custkey", "c_mktsegment"),
        "c_mktsegment", segments).drop("c_mktsegment").orderBy("c_custkey")),

    // M1 — standard scaling, fit-then-apply. The z-score is invariant
    // under linear scaling, so fit on x·0.001: the fitted sums stay within
    // the cross-engine-exact decimal range at any scale factor.
    "q_m1_standard_scale" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val fitted = Prep.fitStandardScaler(
        c.withColumn("__s", col("c_acctbal") * 0.001), Seq("__s"))
      val row = fitted.collect()(0)
      val m = row.getAs[Double]("__s__mean"); val sd = row.getAs[Double]("__s__std")
      c.select(col("c_custkey"),
        ((col("c_acctbal") * 0.001 - m) / sd).as("z")).orderBy("c_custkey")
    }),

    // A13 — median imputation fit → apply → checksum.
    "q_a13_impute_median" -> ((s, d) => {
      val masked = Tables(s, d, "events")
        .withColumn("v", when(col("value") > 400, lit(null)).otherwise(col("value")))
        .select("event_id", "v")
      val fitted = Prep.fitImputer(masked, Seq("v"), "median")
      Prep.impute(masked, fitted)
        .agg(count(col("v")).as("n"), dsum(col("v")).as("sum_v"),
          min("v").as("min_v"), max("v").as("max_v"))
    }),

    // A14 — mean imputation (fit exact-decimal mean, fill, re-aggregate).
    "q_a14_impute_mean" -> ((s, d) => {
      val masked = Tables(s, d, "events")
        .withColumn("v", when(col("value") > 400, lit(null)).otherwise(col("value")))
        .select("event_id", "v")
      val fitted = Prep.fitImputer(masked, Seq("v"), "mean")
      Prep.impute(masked, fitted)
        .agg(count(col("v")).as("n"), dsum(col("v")).as("sum_v"),
          min("v").as("min_v"), max("v").as("max_v"))
    }),

    // M12 — repeated seeded shuffle splits: per-seed test-row counts and
    // exact-decimal test means (the StratifiedShuffleSplit accounting).
    "q_m12_shuffle_split" -> ((s, d) => {
      import s.implicits._
      val e = Tables(s, d, "events").select("event_id", "value")
      (0 until 5).map { seed =>
        val test = graft.ml.Split.tagHoldout(e, "event_id", 0.5, seed = seed)
          .filter(col("split") === "test")
        val r = test.agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
          .head()
        (seed, r.getLong(0), r.getDouble(1))
      }.toDF("seed", "n_test", "sum_value").orderBy("seed")
    }))

  /** Shared TPC-H Q1-style aggregate (no ordering). */
  private def q1(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private def renamePrio(df: DataFrame): DataFrame = {
    val keep = df.columns.filterNot(priorities.contains).map(col)
    val renamed = priorities.zip(prioAlias).map { case (v, a) => col(s"`$v`").as(a) }
    df.select(keep ++ renamed: _*)
  }

  import Sql._

  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | ${dsumSql("l_extendedprice")} AS sum_base_price,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       | ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       | ${davgSql("l_quantity")} AS avg_qty,
       | ${davgSql("l_extendedprice")} AS avg_price,
       | ${davgSql("l_discount")} AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private def prioCountCells(alias: Seq[String]): String =
    priorities.zip(alias).map { case (v, a) =>
      s"CAST(SUM(CASE WHEN o_orderpriority = '$v' THEN 1 ELSE 0 END) AS BIGINT) AS $a"
    }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_p4_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 30 AND l_discount > 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_p8_binarize_clip" ->
      """SELECT event_id,
        | CASE WHEN value >= 50 THEN 1 ELSE 0 END AS label,
        | LEAST(GREATEST(value / 100.0, 0.05), 0.95) AS clipped,
        | CAST(FLOOR(value) AS INTEGER) AS value_int
        |FROM events ORDER BY event_id""".stripMargin,

    "q_p9_decode" ->
      """SELECT n_nationkey, n_name,
        | CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
        |   WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE' WHEN 4 THEN 'MIDEAST'
        |   ELSE NULL END AS region_label
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_p10_sentinel" ->
      """SELECT event_id,
        | CASE WHEN FLOOR(value) IN (97, 98) THEN NULL
        |      WHEN FLOOR(value) IN (99) THEN -1.0
        |      ELSE FLOOR(value) END AS v_clean
        |FROM events ORDER BY event_id""".stripMargin,

    "q_p17_cut" ->
      """SELECT bal_bin, COUNT(*) AS "count" FROM (
        | SELECT CASE
        |   WHEN c_acctbal > -1000 AND c_acctbal <= 0 THEN 'neg'
        |   WHEN c_acctbal > 0 AND c_acctbal <= 2500 THEN 'low'
        |   WHEN c_acctbal > 2500 AND c_acctbal <= 5000 THEN 'mid'
        |   WHEN c_acctbal > 5000 AND c_acctbal <= 7500 THEN 'high'
        |   WHEN c_acctbal > 7500 AND c_acctbal <= 10000 THEN 'top'
        |   ELSE NULL END AS bal_bin
        | FROM customer) t GROUP BY bal_bin ORDER BY bal_bin""".stripMargin,

    "q_p19_union" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,

    "q_p3_select_dtype" ->
      s"""SELECT ${dsumSql("c_custkey")} AS sum_c_custkey,
         | ${dsumSql("c_nationkey")} AS sum_c_nationkey,
         | ${dsumSql("c_acctbal")} AS sum_c_acctbal
         |FROM customer""".stripMargin,

    "q_a1_tpch_q1" -> (q1Sql + " ORDER BY l_returnflag, l_linestatus"),

    "q_a2_value_counts" ->
      """SELECT event_type, COUNT(*) AS "count" FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_a3_value_counts_norm" ->
      """SELECT event_type, COUNT(*) AS "count",
        | (COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)) * 100.0 AS pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_a4_crosstab" ->
      s"""SELECT o_orderstatus, ${prioCountCells(prioAlias)}
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_j_asof" ->
      """WITH l AS (SELECT event_id, user_id, ts AS t, 1 AS side,
        |  NULL::BIGINT AS tie, NULL::DOUBLE AS v
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT NULL::BIGINT, user_id, ts, 0, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |f AS (SELECT *, LAST_VALUE(v IGNORE NULLS) OVER (
        |  PARTITION BY user_id ORDER BY t, side, tie
        |  ROWS UNBOUNDED PRECEDING) AS asof_p_value FROM u)
        |SELECT event_id, user_id, asof_p_value FROM f
        |WHERE side = 1 ORDER BY event_id""".stripMargin,

    "q_j_interval" ->
      s"""SELECT l.user_id, COUNT(*) AS n_pairs,
         | ${dsumSql("r.value")} AS sum_p_value
         |FROM events l JOIN events r ON r.user_id = l.user_id
         |  AND l.event_type = 'click' AND r.event_type = 'purchase'
         |  AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 1 HOUR
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a8b_describe_cat" ->
      """WITH m AS (SELECT 'o_orderstatus' AS col_name, o_orderstatus AS value
        |    FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
        |c AS (SELECT col_name, value, COUNT(*) AS cnt FROM m
        |  WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY col_name
        |  ORDER BY cnt DESC, value) AS rn FROM c)
        |SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS "count",
        |  COUNT(*) AS "unique",
        |  MAX(CASE WHEN rn = 1 THEN value END) AS top,
        |  MAX(CASE WHEN rn = 1 THEN cnt END) AS freq
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a4b_crosstab_margins" ->
      s"""SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'All'
         |  ELSE o_orderstatus END AS o_orderstatus,
         | ${prioCountCells(prioAlias)},
         | COUNT(*) AS all_total
         |FROM orders GROUP BY ROLLUP(o_orderstatus)
         |ORDER BY (CASE WHEN GROUPING(o_orderstatus) = 1 THEN 1 ELSE 0 END),
         |  o_orderstatus""".stripMargin,

    "q_a5_crosstab_share" -> {
      val shares = priorities.zip(prioAlias).map { case (v, a) =>
        s"(SUM(CASE WHEN o_orderpriority = '$v' THEN 1 ELSE 0 END) /" +
          s" CAST(COUNT(*) AS DOUBLE)) AS $a"
      }.mkString(", ")
      s"""SELECT o_orderstatus, $shares
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },

    "q_a6_pivot_table" -> {
      val cells = priorities.zip(prioAlias).map { case (v, a) =>
        val e = s"CASE WHEN o_orderpriority = '$v' THEN o_totalprice END"
        s"${davgSql(e)} AS $a"
      }.mkString(", ")
      s"""SELECT o_orderstatus, $cells
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },

    "q_a7_melt" ->
      s"""WITH q1 AS ($q1Sql)
         |SELECT l_returnflag, l_linestatus, metric, value FROM (
         | SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM q1
         | UNION ALL
         | SELECT l_returnflag, l_linestatus, 'avg_qty', avg_qty FROM q1
         | UNION ALL
         | SELECT l_returnflag, l_linestatus, 'count_order', CAST(count_order AS DOUBLE) FROM q1
         |) t ORDER BY l_returnflag, l_linestatus, metric""".stripMargin,

    "q_a8_describe" -> {
      val branches = Seq("l_quantity", "l_extendedprice", "l_discount").map(c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n, ${davgSql(c)} AS mean,
           | ${dstddevSql(c)} AS stddev, MIN($c) AS min_v, MAX($c) AS max_v
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$branches\n) t ORDER BY col_name"
    },

    "q_a9_null_rates" ->
      """SELECT * FROM (
        | SELECT 'v_masked' AS col_name,
        |  AVG(CASE WHEN value > 400 THEN 1.0 ELSE 0.0 END) AS null_rate FROM events
        | UNION ALL
        | SELECT 'value', AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) FROM events
        |) t ORDER BY col_name""".stripMargin,

    "q_a10_row_nulls" ->
      """SELECT event_id,
        | (CASE WHEN value > 400 THEN 1 ELSE 0 END +
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_nulls
        |FROM events ORDER BY event_id""".stripMargin,

    "q_a12_mode" ->
      """SELECT o_orderstatus, o_orderpriority FROM (
        | SELECT o_orderstatus, o_orderpriority,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
        | FROM orders GROUP BY o_orderstatus, o_orderpriority) t
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "q_a15_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val branches = (for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield s"SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, " +
        s"${dcorrSql(cols(i), cols(j))} AS corr FROM lineitem").mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$branches\n) t ORDER BY col_a, col_b"
    },

    "q_a18_iqr_outliers" ->
      """WITH q AS (
        | SELECT event_type, QUANTILE_CONT(value, 0.25) AS q1,
        |        QUANTILE_CONT(value, 0.75) AS q3
        | FROM events GROUP BY event_type)
        |SELECT e.event_type,
        | CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1
        |      WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_outliers,
        | COUNT(*) AS n
        |FROM events e JOIN q ON e.event_type = q.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_w1_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_a_salted_count" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_w7_rolling_mean" ->
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
        |   / COUNT(*) OVER w AS rolling_mean
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_w4_mean_rank" ->
      s"""WITH st AS (SELECT c_nationkey, ${davgSql("c_acctbal")} AS avg_bal,
         |  COUNT(*) AS n_cust, CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
         | FROM customer GROUP BY 1),
         |r AS (SELECT c_nationkey,
         |  CAST(RANK() OVER (ORDER BY avg_bal DESC) AS INTEGER) AS avg_bal_rank,
         |  CAST(RANK() OVER (ORDER BY n_cust DESC) AS INTEGER) AS n_cust_rank,
         |  CAST(RANK() OVER (ORDER BY max_bal DESC) AS INTEGER) AS max_bal_rank
         | FROM st)
         |SELECT c_nationkey, avg_bal_rank, n_cust_rank, max_bal_rank,
         |  (avg_bal_rank + n_cust_rank + max_bal_rank) / 3.0 AS mean_rank
         |FROM r ORDER BY mean_rank, c_nationkey""".stripMargin,

    "q_w3_topn_per_group" ->
      """SELECT c_nationkey, CAST(rn AS INTEGER) AS rn, c_custkey, c_acctbal FROM (
        | SELECT c_nationkey, c_custkey, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        | FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "q_w5_window_share" ->
      """SELECT c_custkey, c_nationkey,
        | c_acctbal / CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6)))
        |   OVER (PARTITION BY c_nationkey) AS DOUBLE) AS bal_share
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_u4_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_j1_top_revenue" ->
      s"""SELECT o_orderkey, o_orderdate,
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderkey, o_orderdate
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_j2_region_revenue" ->
      s"""SELECT r_name,
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         | COUNT(*) AS n_lineitems
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_j_semi" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_j_anti" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_a_tpch_q6" ->
      s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.03 AND l_discount <= 0.05 AND l_quantity < 24""".stripMargin,

    "q_j_tpch_q12" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_j_tpch_q14" ->
      s"""SELECT ${dsumSql(
           "CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) " +
           "ELSE 0.0 END")} * 100.0 /
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS promo_revenue_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q_m10_modulo_split" ->
      s"""SELECT CASE WHEN event_id % 5 = 4 THEN 'test' ELSE 'train' END AS split,
         | COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY split""".stripMargin,

    "q_m9_holdout" ->
      s"""SELECT CASE WHEN SUBSTR(${hashKey("event_id", 42)}, 1, 8) < '40000000'
         |  THEN 'test' ELSE 'train' END AS split, COUNT(*) AS n
         |FROM events GROUP BY 1 ORDER BY split""".stripMargin,

    "q_m11_kfold" ->
      s"""SELECT event_type, fold, COUNT(*) AS n FROM (
         | SELECT event_type, CAST((ROW_NUMBER() OVER (PARTITION BY event_type
         |   ORDER BY ${hashKey("event_id", 42)}, event_id) - 1) % 5 AS INTEGER) AS fold
         | FROM events) t
         |GROUP BY event_type, fold ORDER BY event_type, fold""".stripMargin,

    "q_m7_label_encode" ->
      """SELECT event_type, CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS INTEGER)
        |  AS event_type_idx, n FROM (
        | SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type) t
        |ORDER BY event_type""".stripMargin,

    "q_m6_onehot" -> {
      val cells = segments.map(v =>
        s"CASE WHEN c_mktsegment = '$v' THEN 1 ELSE 0 END AS c_mktsegment_$v")
        .mkString(", ")
      s"SELECT c_custkey, $cells FROM customer ORDER BY c_custkey"
    },

    "q_m1_standard_scale" ->
      s"""WITH st AS (SELECT ${davgSql("c_acctbal * 0.001")} AS m,
         |  ${dstddevSql("c_acctbal * 0.001")} AS s FROM customer)
         |SELECT c_custkey, (c_acctbal * 0.001 - st.m) / st.s AS z
         |FROM customer, st ORDER BY c_custkey""".stripMargin,

    "q_a13_impute_median" ->
      s"""WITH masked AS (
         | SELECT CASE WHEN value > 400 THEN NULL ELSE value END AS v FROM events),
         |med AS (SELECT QUANTILE_CONT(v, 0.5) AS m FROM masked)
         |SELECT COUNT(*) AS n, ${dsumSql("COALESCE(v, med.m)")} AS sum_v,
         | MIN(COALESCE(v, med.m)) AS min_v, MAX(COALESCE(v, med.m)) AS max_v
         |FROM masked, med""".stripMargin,

    "q_a14_impute_mean" ->
      s"""WITH masked AS (
         | SELECT CASE WHEN value > 400 THEN NULL ELSE value END AS v FROM events),
         |mm AS (SELECT ${davgSql("v")} AS m FROM masked)
         |SELECT COUNT(*) AS n, ${dsumSql("COALESCE(v, mm.m)")} AS sum_v,
         | MIN(COALESCE(v, mm.m)) AS min_v, MAX(COALESCE(v, mm.m)) AS max_v
         |FROM masked, mm""".stripMargin,

    "q_m12_shuffle_split" ->
      s"""SELECT CAST(seed AS INTEGER) AS seed, COUNT(*) AS n_test,
         | ${dsumSql("value")} AS sum_value
         |FROM events CROSS JOIN (SELECT unnest(range(0, 5)) AS seed) s
         |WHERE substr(MD5(CAST(seed AS VARCHAR) || ':'
         |  || CAST(event_id AS VARCHAR)), 1, 8) < '80000000'
         |GROUP BY seed ORDER BY seed""".stripMargin)
}
