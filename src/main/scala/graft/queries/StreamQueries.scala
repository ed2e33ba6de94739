package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.dsum
import graft.streaming.StreamOps

/** Event-time windowing queries over `events` — the batch halves of the
  * Structured Streaming operators in graft.streaming (same transforms run
  * under readStream with a watermark; see StreamingSpec). */
object StreamQueries extends QueryPack {
  import Sql._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1h event-time windows per type.
    "q_s_tumbling" -> ((s, d) =>
      StreamOps.tumblingAgg(Tables(s, d, "events"), "1 hour")
        .orderBy("w_start", "event_type")),

    // Sliding 2h/1h windows per type.
    "q_s_sliding" -> ((s, d) =>
      StreamOps.slidingAgg(Tables(s, d, "events"), "2 hours", "1 hour")
        .orderBy("w_start", "event_type")),

    // Session windows per user (30 min inactivity gap).
    "q_s_session" -> ((s, d) =>
      StreamOps.sessionAgg(Tables(s, d, "events"), "30 minutes")
        .orderBy("user_id", "session_start")),

    // JSON props field extraction + aggregation.
    "q_s_json_props" -> ((s, d) =>
      StreamOps.withPropsField(Tables(s, d, "events"), "k", "k")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("event_type")))

  val oracles: Map[String, String] = Map(
    "q_s_tumbling" ->
      s"""SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS w_start,
         | event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q_s_sliding" ->
      """SELECT w_start, event_type, COUNT(*) AS n FROM (
        | SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS w_start,
        |   event_type FROM events
        | UNION ALL
        | SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR AS TIMESTAMP),
        |   event_type FROM events) t
        |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,

    "q_s_session" ->
      s"""WITH s AS (SELECT user_id, ts, value,
         |  CASE WHEN LAG(ts) OVER w IS NULL
         |       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |  ROWS UNBOUNDED PRECEDING) AS sid FROM s)
         |SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
         | CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
         | user_id, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
         |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_s_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
