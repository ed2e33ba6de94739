package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One area's slice of the catalog: its query builders, keyed by name,
  * and the DuckDB oracle SQL of those that have one (a query without an
  * oracle gets the rows-only check). `graft.SparkEntry` merges the packs. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
