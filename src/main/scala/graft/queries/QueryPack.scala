package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of driver-checkable queries.
  *
  * `queries` maps a SURVEY §2-derived name to a function building the
  * DataFrame from a fixture dir; `oracles` gives DuckDB-runnable ANSI
  * SQL for the subset that is SQL-expressible (same column names, same
  * rounding, types aligned: integer outputs cast to BIGINT both sides,
  * money sums rounded to 1 decimal, ratios/corr rounded to 5-6).
  *
  * Run each builder and the action on its frame inside one
  * [[graft.QueryScope.run]], which releases what the builder persisted. */
trait QueryPack {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
