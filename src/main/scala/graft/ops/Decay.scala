package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exponentially time-decayed aggregation — the recency-weighted
  * popularity/activity score behind trending rankings and half-life
  * dashboards: `score(key) = Σ v·α^(days_ago)`, here in EXACT integer
  * fixed point so the ranking is bit-identical at any parallelism.
  *
  * α = num/den is rational; its powers live in a fixed-point table
  * `w(0) = scale, w(k) = (w(k−1)·num) div den` — constant, data-range-
  * sized mechanism metadata (the [[DpNoise]] α-table pattern), built
  * once and broadcast; each (key, day) group contributes
  * `(Σv·w(days_ago)) div scale` (quantized once per day group, then
  * summed — order-independent). Int64 headroom: |Σv per day|·scale-
  * weight < 2^63 → |Σv| < 9.2e18/scale (ample at the 1e6 scale for
  * cent-quantized values).
  *
  * Scale shape: one broadcast equi-join on the day offset + one hash
  * agg — no shuffle beyond the aggregation, at any corpus size. The
  * decayed sum is also MERGEABLE state: a later batch folds in with
  * one rescale.
  */
object Decay {

  /** (k, w = scale·α^k with per-step floor) for k = 0..maxK. */
  def powRows(
      num: Long, den: Long, scale: Long, maxK: Int): IndexedSeq[(Long, Long)] = {
    val b = Vector.newBuilder[(Long, Long)]
    var w = scale
    var k = 0
    while (k <= maxK) { b += ((k.toLong, w)); w = w * num / den; k += 1 }
    b.result()
  }

  /** Decay-weighted sum per key over (key: string, days_ago: long,
    * v: long). Output: (key, n_events, raw_sum, decayed_fp).
    *
    * Quantization contract: v is pre-summed PER (key, days_ago) GROUP
    * and each day-sum is weighted/floored once — this is what makes
    * the score reconstructible from day-granular mergeable state, and
    * it minimizes floor loss vs per-row quantization.
    */
  def decayedSum(
      obs: DataFrame, num: Long = 97L, den: Long = 100L,
      scale: Long = 1000000L): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    // day-range metadata fetch (the CdcChunk maxLen convention)
    val maxK = obs.agg(max(col("days_ago"))).as[Long].head().toInt
    val wt = spark.createDataFrame(powRows(num, den, scale, maxK))
      .toDF("k", "w")
    obs.groupBy(col("key"), col("days_ago"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .join(broadcast(wt), col("days_ago") === col("k"))
      .groupBy(col("key"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).as("raw_sum"),
        sum(expr(s"(sv * w) div $scale")).as("decayed_fp"))
  }

  /** DuckDB twin over a `graft_decay_obs` (key, days_ago, v) relation. */
  def oracleSql(
      num: Long = 97L, den: Long = 100L, scale: Long = 1000000L): String =
    s"""dmax AS (SELECT max(days_ago) AS m FROM graft_decay_obs),
       |dw(k, w) AS (
       |  SELECT CAST(0 AS BIGINT), CAST($scale AS BIGINT)
       |  UNION ALL SELECT k + 1, (w * $num) // $den
       |  FROM dw WHERE k < (SELECT m FROM dmax)
       |), dday AS (
       |  SELECT key, days_ago, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS sv
       |  FROM graft_decay_obs GROUP BY key, days_ago
       |)
       |SELECT key, CAST(sum(n) AS BIGINT) AS n_events,
       |  CAST(sum(sv) AS BIGINT) AS raw_sum,
       |  CAST(sum((sv * w) // $scale) AS BIGINT) AS decayed_fp
       |FROM dday JOIN dw ON dw.k = days_ago
       |GROUP BY key""".stripMargin
}
