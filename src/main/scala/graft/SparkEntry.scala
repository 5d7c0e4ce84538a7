package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract: the full query inventory with DuckDB oracles.
 *
 * Conventions that keep the oracle hash-compare deterministic:
 *  - every computed column is aliased identically in Spark and SQL;
 *  - integer outputs are cast to BIGINT on both sides;
 *  - double aggregates go through exact DECIMAL sums (order-independent)
 *    and only then cast to DOUBLE, so partition order cannot change a bit;
 *  - ANN/similarity queries emit integer ranks, not raw float scores;
 *  - all ratio-style doubles are exact small-integer rationals, identical
 *    in any IEEE-754 engine.
 *
 * The oracle SQL for metadata queries uses DuckDB's
 * `parquet_metadata`/`parquet_file_metadata`/`read_blob` table functions on
 * the sf0.01 files (the scale the driver verifies at).
 */
object SparkEntry {
  import EntryHelpers._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    meta(spark, pq("/root/testdata/sf0.001", "lineitem"), "rowgroup")

  // ---------------------------------------------------------------------
  // Query inventory — split by tier (meta / lake / ops / streaming) so
  // each file stays reviewable; the driver contract is their disjoint
  // union. EntrySpec pins that every query has its oracle (or the one
  // documented rows-only exception).
  // ---------------------------------------------------------------------

  private def tiers = Seq(
    ("meta", EntryMetaQueries.queries, EntryMetaQueries.oracles),
    ("lake", EntryLakeQueries.queries, EntryLakeQueries.oracles),
    ("ops", EntryOpsQueries.queries, EntryOpsQueries.oracles),
    ("stream", EntryStreamQueries.queries, EntryStreamQueries.oracles))

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val maps = tiers.map(_._2)
    val union = maps.reduce(_ ++ _)
    require(union.size == maps.map(_.size).sum,
      "tier query maps must be disjoint — a duplicate name would " +
        "silently shadow a query")
    union
  }

  def oracleSql: Map[String, String] = {
    val maps = tiers.map(_._3)
    val union = maps.reduce(_ ++ _)
    require(union.size == maps.map(_.size).sum,
      "tier oracle maps must be disjoint")
    union
  }
}
