package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Num, Skew}

/** Round-5 additions: an explicit skew-stress pair over a synthetic hot
  * key. 90% of `events` rows collapse onto one aggregation key, the
  * single-reducer hazard AQE cannot fix for aggregations (it rebalances
  * join partitions, not a groupBy's hash buckets). The naive and salted
  * forms share ONE oracle — the mitigation must be semantically invisible.
  */
object R5Queries extends QueryPack {

  /** Synthetic hot key: user_ids not divisible by 10 collapse to -1, so
    * ~90% of the fact lands on a single aggregation key. */
  private def hotKey = when(col("user_id") % 10 === 0, col("user_id"))
    .otherwise(lit(-1L)).cast("long").as("k")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The baseline everyone writes: one shuffle on the skewed key. At
    // scale the -1 bucket serializes on one reducer; benched here as the
    // comparison point for the salted form below.
    "q_a_skew_naive" -> ((s, d) =>
      Tables(s, d, "events").select(hotKey, col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .orderBy("k")),

    // The mitigation: phase 1 shuffles on (k, salt) — the hot key spreads
    // over 8 reducers — phase 2 merges the 8 partials per key. Decimal
    // accumulation makes the regrouping exact, so BOTH queries hash-match
    // the same DuckDB oracle.
    "q_a_skew_salted" -> ((s, d) =>
      Skew.saltedAgg(Tables(s, d, "events").select(hotKey, col("value"),
          col("event_id")),
        "k", "value", "event_id", salts = 8)
        .orderBy("k"))
  )

  private val skewSql =
    """SELECT CASE WHEN user_id % 10 = 0 THEN user_id ELSE -1 END AS k,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_a_skew_naive" -> skewSql,
    "q_a_skew_salted" -> skewSql
  )
}
