package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.dsum

/** The remaining TPC-H query shapes expressible over the driver's trimmed
  * schemas (no partsupp / commitdate / receiptdate / phone / container —
  * those predicates are adapted to available columns, keeping each query's
  * CHARACTERISTIC plan shape), plus regression-metric and decile-lift
  * evaluation operators.
  *
  * Shapes covered here: existential semi-join (Q4), two-sided nation-pair
  * volume (Q7), market-share ratio-of-conditional-sums (Q8), outer-join
  * count histogram (Q13), argmax-vs-scalar-subquery (Q15), correlated
  * per-group average threshold (Q17), OR-of-conjuncts pushdown (Q19),
  * latest-event-per-key uniqueness (Q21), anti-join + global scalar
  * threshold (Q22). All money sums are exact-decimal (graft.ops.Num.dsum)
  * so thresholds and ties cut identically on any engine and any partition
  * order.
  */
object TpchPlusQueries extends QueryPack {
  import Sql._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q4 shape — EXISTS rewritten as a hash left-semi join with an extra
    // non-equi conjunct (late shipment replaces commit<receipt, which the
    // driver schema lacks). The semi join never materializes lineitem
    // columns, so only orders flows into the aggregate.
    "q_j_tpch_q4" -> ((s, d) => {
      val o = Tables(s, d, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1996-07-01")
      val l = Tables(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q7 shape — volume shipping between a nation pair, grouped by the
    // (supplier nation, customer nation, year) triple. Nation and the
    // nation-filtered supplier side broadcast; the customer side stays a
    // shuffle join (it is a fact-sized dim at scale).
    "q_j_tpch_q7" -> ((s, d) => {
      val pair = Tables(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val sup = Tables(s, d, "supplier")
        .join(broadcast(pair), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cus = Tables(s, d, "customer")
        .join(broadcast(pair), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .select("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
        .join(Tables(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        // no broadcast hint: supplier is ~SF·10k rows — AQE broadcasts it
        // at small SF and falls back to a shuffle join at warehouse scale
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .withColumn("l_year", year(col("l_shipdate")).cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q8 shape — national market share: ratio of a conditional revenue sum
    // to the total, per order year. Customers only FILTER (left-semi);
    // supplier nation is the one projected dim.
    "q_j_tpch_q8" -> ((s, d) => {
      val amer = Tables(s, d, "nation")
        .join(broadcast(Tables(s, d, "region").filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")
      val cus = Tables(s, d, "customer")
        .join(broadcast(amer), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val supN = Tables(s, d, "supplier")
        .join(broadcast(Tables(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      Tables(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
        .join(Tables(s, d, "part").filter(col("p_type") === "ECONOMY")
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .join(Tables(s, d, "orders")
            .filter(col("o_orderdate") >= "1996-01-01" &&
              col("o_orderdate") < "1998-01-01")
            .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"), "left_semi")
        // supplier⋈nation unhinted for the same scale reason as Q7
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .withColumn("volume",
          col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .groupBy("o_year")
        .agg((dsum(when(col("n_name") === "NATION_3", col("volume"))
            .otherwise(0.0)) / dsum(col("volume"))).as("mkt_share"))
        .orderBy("o_year")
    }),

    // Q13 shape — customer order-count distribution: outer join so
    // zero-order customers survive with count 0, then a second groupBy
    // over the (small) count domain.
    "q_j_tpch_q13" -> ((s, d) => {
      val o = Tables(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      Tables(s, d, "customer").select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q15 shape — top supplier by quarterly revenue: the scalar-subquery
    // max becomes a single-row aggregate broadcast back onto the per-
    // supplier revenue relation. Exact-decimal revenue makes the argmax
    // tie-set identical across engines.
    "q_j_tpch_q15" -> ((s, d) => {
      val rev = Tables(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy("l_suppkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("__mx"))
      rev.join(broadcast(mx), col("total_rev") === col("__mx"))
        .join(Tables(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    }),

    // Q17 shape — small-quantity revenue: the correlated per-part average
    // quantity becomes a grouped aggregate joined back (brand+size stands
    // in for the absent container column). Threshold = 0.2·avg computed
    // from decimal sums, so the `<` cut is bit-identical.
    "q_j_tpch_q17" -> ((s, d) => {
      val pq = Tables(s, d, "part")
        .filter(col("p_brand") === "Brand#12" && col("p_size") <= 10)
        .select("p_partkey")
      // pq/th are part-cardinality (SF-proportional) — unhinted so AQE
      // broadcasts at small SF and shuffle-joins at warehouse scale
      val l = Tables(s, d, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(pq, col("l_partkey") === col("p_partkey"))
      val th = l.groupBy("l_partkey")
        .agg((lit(0.2) * (dsum(col("l_quantity")) /
          count(lit(1)).cast("double"))).as("__th"))
      l.join(th.withColumnRenamed("l_partkey", "__pk"),
          col("l_partkey") === col("__pk"))
        .filter(col("l_quantity") < col("__th"))
        .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // Q19 shape — OR-of-conjuncts over part attributes and line quantity:
    // the whole disjunction evaluates post-join, while the per-branch
    // brand/size bounds union into a pushable part prefilter.
    "q_j_tpch_q19" -> ((s, d) => {
      val p = Tables(s, d, "part").select("p_partkey", "p_brand", "p_size")
      val l = Tables(s, d, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" &&
            col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#21" &&
            col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#15" &&
            col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n"))
    }),

    // Q21 shape — "suppliers who kept orders waiting", adapted: for
    // completed multi-supplier orders, the UNIQUE supplier whose line
    // shipped last (the not-exists-other-late-supplier condition becomes
    // |suppliers at max shipdate| = 1). One grouped pass per level; top-20
    // via TakeOrdered under a total order.
    "q_j_tpch_q21" -> ((s, d) => {
      val f = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val per = f.groupBy("l_orderkey")
        .agg(max(col("l_shipdate")).as("__max_ship"),
          countDistinct(col("l_suppkey")).as("__n_supp"))
      val atMax = f.join(per.withColumnRenamed("l_orderkey", "__ok"),
          col("l_orderkey") === col("__ok") &&
            col("l_shipdate") === col("__max_ship") && col("__n_supp") >= 2)
        .select("l_orderkey", "l_suppkey").distinct()
      val lone = atMax.groupBy("l_orderkey")
        .agg(count(lit(1)).as("__n_at_max"), max(col("l_suppkey")).as("__supp"))
        .filter(col("__n_at_max") === 1)
      lone.groupBy("__supp").agg(count(lit(1)).as("numwait"))
        // both sides are supplier-cardinality — unhinted, AQE decides
        .join(Tables(s, d, "supplier"), col("__supp") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(20)
    }),

    // Q22 shape — dormant high-balance customers: above the global
    // positive-balance average (single-row aggregate broadcast) with no
    // orders since the cutoff (anti join = NOT EXISTS), grouped by segment
    // (stands in for the absent phone country code).
    "q_j_tpch_q22" -> ((s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE")
      val c = Tables(s, d, "customer").filter(col("c_mktsegment").isin(segs: _*))
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(lit(1)).cast("double")).as("__avg"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg"))
        .join(Tables(s, d, "orders")
            .filter(col("o_orderdate") >= "2000-01-01").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_mktsegment")
    }),

    // T-extension — regression evaluation metrics (RMSE / MAE / R²) of a
    // per-group closed-form OLS fit: one decimal-moment pass fits, a
    // broadcast join scores, one more pass aggregates residuals. The
    // distributed shape of sklearn.metrics.{mean_squared_error,
    // mean_absolute_error, r2_score} over a grouped model.
    "q_t_regression_metrics" -> ((s, d) => {
      val e = Tables(s, d, "events").select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("double").as("x"),
        col("value").as("y"))
      val a = e.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("y") * col("y")).as("syy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      val coef = a.select(col("event_type"), slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
        (col("syy") - col("sy") * col("sy") / col("n")).as("ss_tot"))
      e.join(broadcast(coef), Seq("event_type"))
        .withColumn("resid",
          col("y") - (col("slope") * col("x") + col("intercept")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("resid") * col("resid")).as("__ssr"),
          dsum(abs(col("resid"))).as("__sar"),
          max(col("ss_tot")).as("__sst"))
        .select(col("event_type"), col("n_rows"),
          sqrt(col("__ssr") / col("n_rows").cast("double")).as("rmse"),
          (col("__sar") / col("n_rows").cast("double")).as("mae"),
          (lit(1.0) - col("__ssr") / col("__sst")).as("r2"))
        .orderBy("event_type")
    }),

    // T-extension — decile lift/gain table: exact NTILE deciles over the
    // score (no global-sort window — ntileExact range-partitions), then
    // per-decile positive rate, lift over the base rate, and capture
    // share, with the single-row totals broadcast.
    "q_t_lift_deciles" -> ((s, d) => {
      val e = Tables(s, d, "events").select(col("event_id"), col("value"),
        (col("event_type") === "purchase").cast("int").as("label"))
      val b = graft.ops.Ranking.ntileExact(e,
        Seq(col("value").desc, col("event_id").asc), 10, "decile")
      val tot = b.agg(sum(col("label")).cast("double").as("__tp"),
        count(lit(1)).cast("double").as("__tn"))
      b.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n"), col("n_pos"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("pos_rate"),
          ((col("n_pos").cast("double") / col("n").cast("double")) /
            (col("__tp") / col("__tn"))).as("lift"),
          (col("n_pos").cast("double") / col("__tp")).as("capture"))
        .orderBy("decile")
    }))

  val oracles: Map[String, String] = Map(
    "q_j_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND CAST(l_shipdate AS TIMESTAMP) >
        |        CAST(o_orderdate AS TIMESTAMP) + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_j_tpch_q7" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         | CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS l_year,
         | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
         |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
         |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
         |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_j_tpch_q8" ->
      s"""WITH v AS (SELECT
         |  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
         |  l_extendedprice * (1.0 - l_discount) AS volume,
         |  sn.n_name AS supp_nation
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE p_type = 'ECONOMY'
         |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
         |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
         |  AND EXISTS (SELECT 1 FROM customer
         |    JOIN nation cn ON c_nationkey = cn.n_nationkey
         |    JOIN region ON cn.n_regionkey = r_regionkey
         |    WHERE c_custkey = o_custkey AND r_name = 'AMERICA'))
         |SELECT o_year,
         | ${dsumSql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")}
         |   / ${dsumSql("volume")} AS mkt_share
         |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q_j_tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |  ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_j_tpch_q15" ->
      s"""WITH rev AS (SELECT l_suppkey,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_rev
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
         |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_rev
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q_j_tpch_q17" ->
      s"""WITH pq AS (SELECT p_partkey FROM part
         |  WHERE p_brand = 'Brand#12' AND p_size <= 10),
         |l AS (SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN pq ON l_partkey = p_partkey),
         |t AS (SELECT l_partkey AS pk,
         |  0.2 * (${dsumSql("l_quantity")} / CAST(COUNT(*) AS DOUBLE)) AS th
         |  FROM l GROUP BY l_partkey)
         |SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly,
         | COUNT(*) AS n
         |FROM l JOIN t ON l_partkey = pk
         |WHERE l_quantity < th""".stripMargin,

    "q_j_tpch_q19" ->
      s"""SELECT ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         | COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_j_tpch_q21" ->
      """WITH f AS (SELECT l_orderkey, l_suppkey, l_shipdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per AS (SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
        |    COUNT(DISTINCT l_suppkey) AS n_supp
        |  FROM f GROUP BY l_orderkey),
        |atmax AS (SELECT DISTINCT f.l_orderkey, f.l_suppkey
        |  FROM f JOIN per ON f.l_orderkey = per.l_orderkey
        |    AND f.l_shipdate = per.max_ship
        |  WHERE per.n_supp >= 2),
        |lone AS (SELECT l_orderkey, MAX(l_suppkey) AS supp
        |  FROM atmax GROUP BY l_orderkey HAVING COUNT(*) = 1)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM lone JOIN supplier ON supp = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,

    "q_j_tpch_q22" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
         |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE')),
         |a AS (SELECT ${dsumSql("c_acctbal")} / CAST(COUNT(*) AS DOUBLE)
         |    AS avg_bal
         |  FROM c WHERE c_acctbal > 0.0)
         |SELECT c_mktsegment, COUNT(*) AS numcust,
         | ${dsumSql("c_acctbal")} AS totacctbal
         |FROM c, a
         |WHERE c_acctbal > avg_bal
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |    AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '2000-01-01')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_t_regression_metrics" -> {
      val x = "CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)"
      s"""WITH e AS (SELECT event_type, $x AS x, value AS y FROM events),
         |a AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         |  ${dsumSql("x")} AS sx, ${dsumSql("y")} AS sy,
         |  ${dsumSql("x * x")} AS sxx, ${dsumSql("x * y")} AS sxy,
         |  ${dsumSql("y * y")} AS syy
         |  FROM e GROUP BY event_type),
         |c1 AS (SELECT *,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM a),
         |c AS (SELECT event_type, slope,
         |  (sy - slope * sx) / n AS intercept,
         |  (syy - sy * sy / n) AS ss_tot FROM c1),
         |r AS (SELECT e.event_type,
         |  y - (slope * x + intercept) AS resid, ss_tot
         |  FROM e JOIN c USING (event_type))
         |SELECT event_type, COUNT(*) AS n_rows,
         | SQRT(${dsumSql("resid * resid")} / CAST(COUNT(*) AS DOUBLE)) AS rmse,
         | ${dsumSql("abs(resid)")} / CAST(COUNT(*) AS DOUBLE) AS mae,
         | 1.0 - ${dsumSql("resid * resid")} / MAX(ss_tot) AS r2
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "q_t_lift_deciles" ->
      """WITH e AS (SELECT event_id, value,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |b AS (SELECT *, NTILE(10) OVER (ORDER BY value DESC, event_id)
        |    AS decile FROM e),
        |t AS (SELECT CAST(SUM(label) AS DOUBLE) AS tp,
        |  CAST(COUNT(*) AS DOUBLE) AS tn FROM b),
        |g AS (SELECT decile, COUNT(*) AS n,
        |  CAST(SUM(label) AS BIGINT) AS n_pos FROM b GROUP BY decile)
        |SELECT CAST(decile AS INT) AS decile, n, n_pos,
        | CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
        | (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) / (tp / tn) AS lift,
        | CAST(n_pos AS DOUBLE) / tp AS capture
        |FROM g, t ORDER BY decile""".stripMargin)
}
