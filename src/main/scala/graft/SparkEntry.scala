package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from per-area packs; every query has a matching
  * DuckDB oracle unless its semantics aren't SQL-expressible (those get the
  * driver's weaker rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (TPC-H Q5 shape: star join
    * through broadcast dims + exact-decimal revenue). Driver smoke-checks
    * rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("q_j2_region_revenue")(spark, "/root/testdata/sf0.001")

  /** The catalog, one pack per area. A query name belongs to exactly
    * one pack (pinned by RegistrySpec). */
  val packs: Seq[QueryPack] = Seq(
    CoreQueries, StatsQueries, TextSimQueries, StreamQueries, MlQueries,
    MultimodalQueries, ExtQueries, PipeQueries, R4Queries, TpchPlusQueries,
    WarehouseQueries, R5Queries, R6Queries, R7Queries, R8Queries, R9Queries,
    ForestQueries, Ep4Queries, Ep2Queries, R10Queries, BpeQueries,
    DsirQueries, R11Queries, R12Queries, R13Queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** DuckDB 1.0 re-plans and RE-EXECUTES a WITH-clause CTE once per
    * reference unless it is marked AS MATERIALIZED — for the deep
    * generated chains here (forest/tree fits, dedup pair CTEs) that
    * re-inlining is exponential in chain depth: the full 206-oracle
    * replay measured 25 min plain vs 34 s materialized at sf0.01, with
    * bit-identical results on every query. Applied mechanically at
    * assembly so oracle AUTHORING stays plain SQL: only statements that
    * START with WITH (a parenthesized set-op of WITH-subqueries trips a
    * DuckDB 1.0 binder bug — q_m4's shape), and never a WINDOW clause
    * (`WINDOW w AS (...)` is the one other `name AS (` form in the
    * catalog). Materialization is an evaluation hint, not semantics. */
  private[graft] def materializeCtes(sql: String): String =
    if (!sql.trim.regionMatches(true, 0, "WITH", 0, 4)) sql
    else sql.replaceAll("(?<!WINDOW )\\b(\\w+) AS \\(", "$1 AS MATERIALIZED (")

  /** DuckDB's direct DECIMAL→DOUBLE cast is NOT correctly rounded once
    * the sum needs more than 15 significant digits (measured at sf1: 2 of
    * TPC-H Q1's 6 sum_charge groups drift 1 ulp from the true nearest
    * double; Spark's BigDecimal.doubleValue is correct). Routing the O(1)
    * final conversion through VARCHAR — exact decimal digits, then a
    * correctly-rounded string parse — makes the oracle's double
    * bit-identical to Spark's at ANY scale, not just below the 15-digit
    * boundary. Applied mechanically at oracle assembly so authored SQL
    * stays plain: every `CAST(SUM(CAST(e AS DECIMAL(p,s))) AS DOUBLE)`
    * becomes `CAST(CAST(SUM(CAST(e AS DECIMAL(p,s))) AS VARCHAR) AS
    * DOUBLE)`. A paren-balanced scan (not a regex — the summand nests
    * arbitrary parens); occurrences that don't end in `AS DOUBLE)` or
    * don't carry a DECIMAL cast inside are left untouched. */
  private[graft] def exactDecimalCasts(sql: String): String = {
    val marker = "CAST(SUM(CAST("
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val j = sql.indexOf(marker, i)
      if (j < 0) { sb.append(sql.substring(i)); i = sql.length }
      else {
        sb.append(sql.substring(i, j))
        var k = j + 5 // just past the outer "CAST("
        var depth = 1
        while (depth > 0 && k < sql.length) {
          val c = sql.charAt(k)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          k += 1
        }
        val occ = sql.substring(j, k)
        if (depth == 0 && occ.endsWith(" AS DOUBLE)") &&
            occ.contains(" AS DECIMAL(")) {
          val body = occ.substring(5, occ.length - " AS DOUBLE)".length)
          sb.append("CAST(CAST(").append(body).append(" AS VARCHAR) AS DOUBLE)")
        } else sb.append(occ)
        i = k
      }
    }
    sb.toString
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. Lazy: only
    * Verify and the specs read it, and the rewritten SQL is ~1 MB. */
  lazy val oracleSql: Map[String, String] =
    packs.flatMap(_.oracles)
      .map { case (k, v) => k -> materializeCtes(exactDecimalCasts(v)) }
      .toMap
}
