package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable per-key summaries — the snapshot-refresh pattern for D1
  * ingest: after an insert batch, corpus-level stats are refreshed by
  * merging the BATCH's summary into the standing one (cost O(|summary| +
  * |batch|)), never by rescanning the full base. The reference rebuilds
  * its stats with the index; at 100 TB a rescan per ingest round is the
  * difference between minutes and days.
  *
  * Every stat kept is algebraic (count/sum/min/max), so `merge` is exact
  * and associative: fold the batches in any grouping and the result
  * equals [[summarize]] of the full table (asserted in HarnessSpec and
  * oracle-checked by the `incremental_agg` query). Non-algebraic stats
  * (distinct, quantiles) take the sketch route instead — HLL /
  * approx-quantile / CMS are likewise mergeable (see `StatsTrendQueries`'
  * bound-check queries).
  */
object IncrementalAgg {

  /** Per-key algebraic summary of an integer value column. */
  def summarize(df: DataFrame, key: String, value: Column): DataFrame =
    df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(value).as("sum_v"),
      min(value).as("min_v"),
      max(value).as("max_v"))

  /** Merge two summaries (associative, commutative, exact). */
  def merge(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.unionByName(b).groupBy(col(key)).agg(
      sum(col("n")).as("n"),
      sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"))
}
