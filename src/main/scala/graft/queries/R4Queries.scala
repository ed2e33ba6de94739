package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.dsum

/** Round-4 analytics additions: per-group regression trends, the
  * first/last/nth analytic-value family, and exact weighted means — each
  * a single-pass aggregation (or partitioned window) with a bit-exact
  * DuckDB oracle.
  */
object R4Queries extends QueryPack {
  import Sql._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-group OLS trend (closed-form simple linear regression of value
    // over event day): all four moments in ONE exact-decimal aggregation
    // pass — the distributed form of a groupby-apply regression, with no
    // per-group iteration anywhere.
    "q_a_group_ols" -> ((s, d) => {
      val x = datediff(to_date(col("ts")), lit("2024-01-01")).cast("double")
      val y = col("value")
      val agg = Tables(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(x).as("sx"), dsum(y).as("sy"),
          dsum(x * x).as("sxx"), dsum(x * y).as("sxy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      agg.select(col("event_type"), col("n").cast("long").as("n"),
          slope.as("slope"),
          ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
        .orderBy("event_type")
    }),

    // first_value / last_value / nth_value over a full partitioned frame:
    // each user's first and last purchase value and second event type —
    // the analytic-value family q_w_lead_lag's offsets don't cover.
    "q_w_first_last" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, d, "events")
        .select(col("user_id"),
          first(col("value")).over(w).as("first_value"),
          last(col("value")).over(w).as("last_value"),
          nth_value(col("event_type"), 2).over(w).as("second_type"))
        .distinct()
        .orderBy("user_id")
    }),

    // Time-weighted average (TWAP): each observation holds until the next
    // one, so its weight is the holding duration — the telemetry/finance
    // aggregate a plain AVG silently gets wrong on irregular samples.
    // EVERYTHING accumulates as exact integers: durations in micros, the
    // weighted numerator as cents·µs (value quantized to the 1e-2 grid by
    // floor(v·100+0.5) — identical IEEE ops on both engines — and the
    // cents·µs product ≲ 4e13 is an exactly-representable integer double,
    // so the DECIMAL(38,0) cast never rounds). The earlier per-row
    // dur_h/dsum forms both lost to cross-engine rounding ties at sf0.1:
    // per-row hour division lands on the decimal grid exactly (1800 µs →
    // 5e-7), and value·µs doubles terminate within 14 decimal digits, so
    // rounding HALF_UP (Spark) vs half-even (DuckDB) to 12 digits
    // diverges. Integer accumulation has no rounding step at all; the two
    // final divisions run on identical doubles.
    "q_s_twap" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val durUs = graft.ops.Temporal.epochMicros(lead(col("ts"), 1).over(w)) -
        graft.ops.Temporal.epochMicros(col("ts"))
      val centsUs = floor(col("value") * 100.0 + 0.5) *
        col("__dur_us").cast("double")
      Tables(s, d, "events")
        .withColumn("__dur_us", durUs)
        .filter(col("__dur_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          (sum(centsUs.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") /
            (sum(col("__dur_us")).cast("double") * lit(100.0))).as("twap"),
          (sum(col("__dur_us")).cast("double") / lit(3600000000.0))
            .as("total_h"))
        .orderBy("user_id")
    }),

    // Exact weighted mean per group: Σ(w·v)/Σw with decimal accumulation
    // on both sides — order-independent where a plain double weighted sum
    // would drift with partitioning.
    "q_a_weighted_avg" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (dsum(col("l_extendedprice") * col("l_quantity")) /
            dsum(col("l_quantity"))).as("qty_weighted_price"),
          (dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) /
            dsum(lit(1.0) - col("l_discount"))).as("disc_weighted_price"))
        .orderBy("l_returnflag")),

    // Distributed Lloyd's k-means on the integer-quantized grid: narrow
    // assignment (centroids as literals in one expression), one shuffle
    // per iteration, only k·dims fitted integers on the driver. Every
    // arithmetic step is exact BIGINT, so a 2-iteration fixpoint over 64
    // dimensions hash-matches a pure-SQL oracle.
    "q_v_kmeans" -> ((s, d) =>
      graft.ml.KMeans.kmeansQuantized(Tables(s, d, "embeddings"),
        "vec_id", "embedding", k = 4, dims = 64, iters = 2)),

    // Dataset-shift report between two snapshots (first vs second half of
    // the event window): per-event-type volume-share drift and exact-
    // decimal mean drift. One grouped pass plus a broadcast single-row
    // totals relation — no global window, no second scan of row data.
    "q_a_drift" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      val isA = col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")
      val per = ev.groupBy("event_type").agg(
        count(when(isA, 1)).as("n_a"),
        count(when(!isA, 1)).as("n_b"),
        dsum(when(isA, col("value"))).as("s_a"),
        dsum(when(!isA, col("value"))).as("s_b"))
      val tot = ev.agg(
        count(when(isA, 1)).as("tot_a"),
        count(when(!isA, 1)).as("tot_b"))
      per.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_a"), col("n_b"),
          (col("n_b").cast("double") / col("tot_b").cast("double") -
            col("n_a").cast("double") / col("tot_a").cast("double"))
            .as("share_drift"),
          (col("s_b") / col("n_b").cast("double") -
            col("s_a") / col("n_a").cast("double")).as("mean_drift"))
        .orderBy("event_type")
    }),

    // Distribution drift as histogram overlap: Σ min(share_a, share_b)
    // over fixed-width value bins, per event type. The min runs on
    // CROSS-MULTIPLIED INTEGER counts (min(n_a·tot_b, n_b·tot_a)) and the
    // single division happens once per group on exact ≤2^53 integers —
    // the TWAP discipline applied to a distribution statistic, so the
    // overlap coefficient is bit-identical on any engine with no decimal
    // quantization step at all.
    "q_a_drift_hist" -> ((s, d) => {
      val isA = col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")
      val binned = Tables(s, d, "events").select(col("event_type"),
        floor(col("value") / lit(50.0)).cast("long").as("bin"),
        isA.as("in_a"))
      val byBin = binned.groupBy("event_type", "bin").agg(
        count(when(col("in_a"), 1)).as("n_a"),
        count(when(!col("in_a"), 1)).as("n_b"))
      val tots = binned.groupBy("event_type").agg(
        count(when(col("in_a"), 1)).as("tot_a"),
        count(when(!col("in_a"), 1)).as("tot_b"))
      byBin.join(broadcast(tots), Seq("event_type"))
        .groupBy("event_type", "tot_a", "tot_b")
        .agg(count(lit(1)).as("n_bins"),
          (sum(least(col("n_a") * col("tot_b"), col("n_b") * col("tot_a")))
            .cast("double") /
            (col("tot_a") * col("tot_b")).cast("double")).as("overlap"))
        .select("event_type", "n_bins", "overlap")
        .orderBy("event_type")
    }),

    // Dyadic EWMA: trailing exponentially-weighted mean with α = 1/2 over
    // each user's last 8 events. Every weight is a power of two, so each
    // scaled term is EXACT in IEEE arithmetic (dividing by 2^j only
    // shifts the exponent) and the fixed-order 8-term sum performs the
    // identical roundings on any engine — an exponential smoother with no
    // libm and no cross-engine drift, expressed as plain lag columns over
    // ONE partitioned window (no recursion, no per-key state).
    "q_w_ewma" -> ((s, d) => {
      val m = 8
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val lags = col("value").as("__l0") +: (1 until m).map(j =>
        lag(col("value"), j).over(w).as(s"__l$j"))
      val base = Tables(s, d, "events")
        .select(Seq(col("user_id"), col("event_id"), col("value")) ++ lags: _*)
      val num = (0 until m).map(j =>
        coalesce(col(s"__l$j") / lit(math.pow(2.0, (j + 1).toDouble)),
          lit(0.0))).reduce(_ + _)
      val den = (0 until m).map(j =>
        when(col(s"__l$j").isNotNull,
          lit(1.0 / math.pow(2.0, (j + 1).toDouble)))
          .otherwise(lit(0.0))).reduce(_ + _)
      base.select(col("user_id"), col("event_id"), col("value"),
        (num / den).as("ewma")).orderBy("user_id", "event_id")
    }))

  val oracles: Map[String, String] = Map(
    "q_a_group_ols" -> {
      val x = "CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)"
      s"""WITH a AS (SELECT event_type,
         |  CAST(COUNT(*) AS DOUBLE) AS n,
         |  ${dsumSql(x)} AS sx, ${dsumSql("value")} AS sy,
         |  ${dsumSql(s"($x) * ($x)")} AS sxx,
         |  ${dsumSql(s"($x) * value")} AS sxy
         |  FROM events GROUP BY event_type),
         |sl AS (SELECT *,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM a)
         |SELECT event_type, CAST(n AS BIGINT) AS n, slope,
         | (sy - slope * sx) / n AS intercept
         |FROM sl ORDER BY event_type""".stripMargin
    },

    "q_w_first_last" ->
      """SELECT DISTINCT user_id,
        | FIRST_VALUE(value) OVER w AS first_value,
        | LAST_VALUE(value) OVER w AS last_value,
        | NTH_VALUE(event_type, 2) OVER w AS second_type
        |FROM (SELECT user_id, value, event_type, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,

    "q_s_twap" ->
      // all-integer accumulation (cents·µs / µs); divisions once per
      // group on identical doubles — no double→decimal rounding anywhere
      s"""WITH e AS (SELECT user_id, value, event_id,
         |  CAST(ts AS TIMESTAMP) AS ts FROM events),
         |g AS (SELECT user_id, value,
         |  epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |    - ts) AS dur_us
         |  FROM e)
         |SELECT user_id, COUNT(*) AS n_intervals,
         | CAST(SUM(CAST((floor(value * 100.0 + 0.5) * CAST(dur_us AS DOUBLE))
         |     AS DECIMAL(38,0))) AS DOUBLE)
         |   / (CAST(SUM(dur_us) AS DOUBLE) * 100.0) AS twap,
         | CAST(SUM(dur_us) AS DOUBLE) / 3600000000.0 AS total_h
         |FROM g WHERE dur_us IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_a_weighted_avg" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         | ${dsumSql("l_extendedprice * l_quantity")} / ${dsumSql("l_quantity")}
         |   AS qty_weighted_price,
         | ${dsumSql("l_extendedprice * (1.0 - l_discount)")}
         |   / ${dsumSql("1.0 - l_discount")} AS disc_weighted_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_v_kmeans" -> {
      // Unrolled Lloyd's on the 1e-6 integer grid. All arithmetic is
      // integer-exact: quantization is floor(v*1e6+0.5) on identical
      // doubles, distances are BIGINT sums, and the centroid update
      // truncates with `//` — the same toward-zero semantics as Spark's
      // `div`. Ties in the argmin break toward the lower centroid id on
      // both engines.
      def assign(cTab: String): String =
        s"""(SELECT vec_id, cid FROM (
           |    SELECT qe.vec_id, c.cid,
           |      SUM((qe.q - c.cq) * (qe.q - c.cq)) AS dist
           |    FROM qe JOIN $cTab c USING (dim)
           |    GROUP BY qe.vec_id, c.cid)
           |  QUALIFY row_number()
           |    OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""".stripMargin
      def update(aTab: String): String =
        s"""(SELECT a.cid, qe.dim,
           |    CAST(SUM(qe.q) // COUNT(*) AS BIGINT) AS cq, COUNT(*) AS n
           |  FROM $aTab a JOIN qe USING (vec_id)
           |  GROUP BY a.cid, qe.dim)""".stripMargin
      s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         |qe AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
         |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
         |  FROM embeddings, idx),
         |init AS (SELECT vec_id,
         |  CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |    vec_id) AS INTEGER) AS cid
         |  FROM embeddings
         |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |    vec_id) <= 4),
         |c0 AS (SELECT init.cid, qe.dim, qe.q AS cq
         |  FROM init JOIN qe USING (vec_id)),
         |a1 AS ${assign("c0")},
         |u1 AS ${update("a1")},
         |c1 AS (SELECT c0.cid, c0.dim, COALESCE(u1.cq, c0.cq) AS cq
         |  FROM c0 LEFT JOIN u1 ON u1.cid = c0.cid AND u1.dim = c0.dim),
         |a2 AS ${assign("c1")},
         |u2 AS ${update("a2")}
         |SELECT c1.cid AS cluster, c1.dim AS dim,
         |  CAST(COALESCE(u2.cq, c1.cq) AS DOUBLE) / 1e6 AS centroid,
         |  COALESCE(u2.n, CAST(0 AS BIGINT)) AS n
         |FROM c1 LEFT JOIN u2 ON u2.cid = c1.cid AND u2.dim = c1.dim
         |ORDER BY 1, 2""".stripMargin
    },

    "q_a_drift" -> {
      val a = "CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'"
      s"""WITH per AS (SELECT event_type,
         |  COUNT(CASE WHEN $a THEN 1 END) AS n_a,
         |  COUNT(CASE WHEN NOT ($a) THEN 1 END) AS n_b,
         |  ${dsumSql(s"CASE WHEN $a THEN value END")} AS s_a,
         |  ${dsumSql(s"CASE WHEN NOT ($a) THEN value END")} AS s_b
         |  FROM events GROUP BY event_type),
         |tot AS (SELECT COUNT(CASE WHEN $a THEN 1 END) AS tot_a,
         |  COUNT(CASE WHEN NOT ($a) THEN 1 END) AS tot_b FROM events)
         |SELECT event_type, n_a, n_b,
         |  CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)
         |    - CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_drift,
         |  s_b / CAST(n_b AS DOUBLE) - s_a / CAST(n_a AS DOUBLE) AS mean_drift
         |FROM per, tot ORDER BY event_type""".stripMargin
    },

    "q_a_drift_hist" -> {
      val a = "CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'"
      s"""WITH b AS (SELECT event_type,
         |    CAST(floor(value / 50.0) AS BIGINT) AS bin, ($a) AS in_a
         |  FROM events),
         |bb AS (SELECT event_type, bin,
         |    COUNT(CASE WHEN in_a THEN 1 END) AS n_a,
         |    COUNT(CASE WHEN NOT in_a THEN 1 END) AS n_b
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type,
         |    COUNT(CASE WHEN in_a THEN 1 END) AS tot_a,
         |    COUNT(CASE WHEN NOT in_a THEN 1 END) AS tot_b
         |  FROM b GROUP BY 1)
         |SELECT bb.event_type AS event_type, COUNT(*) AS n_bins,
         |  CAST(SUM(LEAST(n_a * tot_b, n_b * tot_a)) AS DOUBLE)
         |    / CAST(tot_a * tot_b AS DOUBLE) AS overlap
         |FROM bb JOIN t USING (event_type)
         |GROUP BY bb.event_type, tot_a, tot_b
         |ORDER BY event_type""".stripMargin
    },

    "q_w_ewma" -> {
      // weights interpolated from the SAME Scala doubles the engine uses;
      // every one is a power of two with an exact decimal rendering
      val m = 8
      val lagDefs = (1 until m).map(j => s"LAG(value, $j) OVER w AS l$j")
        .mkString(", ")
      val num = (0 until m).map(j =>
        s"COALESCE(l$j / ${math.pow(2.0, (j + 1).toDouble)}, CAST(0.0 AS DOUBLE))")
        .mkString(" + ")
      val den = (0 until m).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN CAST(${1.0 / math.pow(2.0, (j + 1).toDouble)} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END")
        .mkString(" + ")
      s"""WITH e AS (SELECT user_id, event_id, value,
         |  CAST(ts AS TIMESTAMP) AS ts FROM events),
         |l AS (SELECT user_id, event_id, value, value AS l0, $lagDefs
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, event_id, value,
         | ($num) / ($den) AS ewma
         |FROM l ORDER BY user_id, event_id""".stripMargin
    })
}
