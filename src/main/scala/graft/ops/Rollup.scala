package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental rollup maintenance — the materialized-view upkeep path of
  * a warehouse: a stored per-key summary absorbs each delta batch WITHOUT
  * rescanning history.
  *
  * The summary keeps only MERGEABLE state (count, exact fixed-point sum,
  * min, max); derived values (avg) are computed at read time from the
  * state, never stored. Merging is associative and commutative, so:
  *
  *   summarize(hist ∪ delta) == merge(summarize(hist), summarize(delta))
  *
  * bit-for-bit — the sum is [[graft.queries.Num]]'s order-independent
  * integer accumulation, and min/max/count are trivially order-free. The
  * q_rollup_incremental oracle states the LEFT side (one GROUP BY over
  * everything); the engine runs the RIGHT side, so the gate proves the
  * incremental path exactly reproduces the full recompute.
  *
  * Scale shape: the delta is aggregated alone (batch-sized shuffle); the
  * merge then groups |keys| summary rows from each side — the stored
  * rollup is key-cardinality-sized, NOT history-sized, so maintenance
  * cost is O(batch + keys) per ingest while a recompute is O(history).
  */
object Rollup {

  /** Per-key mergeable summary of `valueCol`:
    * (keys..., n, s6 = exact sum(floor(v*1e6)), mn, mx).
    */
  def summarize(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(col(valueCol)).as("n"),
        sum(floor(col(valueCol) * lit(1e6)).cast(DecimalType(38, 0))).as("s6"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Fold one or more delta summaries into a snapshot summary. */
  def merge(snapshot: DataFrame, deltas: DataFrame*): DataFrame =
    deltas.foldLeft(snapshot)(_ unionByName _)
      .groupBy(snapshot.columns.toSeq.filterNot(Set("n", "s6", "mn", "mx")).map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("s6")).as("s6"),
        min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))

  /** Read-time view: derive the user-facing columns from the state. */
  def finish(summary: DataFrame): DataFrame =
    summary.select(
      summary.columns.toSeq.filterNot(Set("n", "s6", "mn", "mx")).map(col) ++ Seq(
        col("n"),
        (col("s6").cast("double") / lit(1e6)).as("sum_value"),
        (col("s6").cast("double") / lit(1e6) / col("n")).as("avg_value"),
        col("mn").as("min_value"),
        col("mx").as("max_value")): _*)
}
