package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequential CUSUM alarm (Page 1954) — the ONLINE face of changepoint
  * detection, next to [[Changepoint]]'s retrospective argmax: per
  * series, two one-sided cumulative deviation statistics against a
  * reference level, alarm when either exceeds a threshold, restart
  * after alarm. In integer cents with integer allowance/threshold, so
  * every step is exact int64 and the fold is bit-identical at any
  * parallelism.
  *
  * Recurrence (ref = first observation of the series, kappa the
  * allowance, h the alarm threshold, all cents):
  * {{{
  *   su_1 = sl_1 = 0, alarm_1 = false
  *   su_t = max(0, su_(t-1) + (p_t - ref - kappa))
  *   sl_t = max(0, sl_(t-1) + (ref - p_t - kappa))
  *   alarm_t = su_t > h or sl_t > h      // state resets to 0 after
  * }}}
  * Using the series' own first value as the reference keeps the
  * operator self-starting (no prior mean pass — the Holt init
  * convention); additions are bounded by t * y_max so int64 headroom
  * holds to ~1.8e14 rows/series at cents scale.
  *
  * Scale shape: ONE shuffle on the series key, then an O(1)-state
  * ordered fold per group (`flatMapSortedGroups`) — the
  * [[Holt]]/[[Indicators]] data plane. A max(0, ...)-clamped recurrence
  * has no associative window reformulation, so the typed fold is the
  * right tool (the [[graft.functions.EwmAvg]] boundary).
  */
object CusumAlarm {

  /** Internal fold row (public: Catalyst's generated deserializer cannot
    * access a private case class).
    */
  case class Ev(symbol: String, ord: Long, event_id: Long, p: Long)

  /** Alarm fold over `df` (columns: symbol, ts, event_id, value).
    * Output: (event_id, p_fp, su_fp, sl_fp, alarm) in integer cents.
    */
  def detect(df: DataFrame, kappa: Long = 2000L, h: Long = 10000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("symbol"),
        expr("unix_micros(ts)").as("ord"),
        col("event_id"),
        expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("p"))
      .as[Ev]
      .groupByKey(_.symbol)
      .flatMapSortedGroups($"ord", $"event_id") { (_, it) =>
        var ref = 0L
        var su = 0L
        var sl = 0L
        var first = true
        it.map { e =>
          if (first) { ref = e.p; su = 0L; sl = 0L; first = false
            (e.event_id, e.p, 0L, 0L, false)
          } else {
            val suE = math.max(0L, su + (e.p - ref - kappa))
            val slE = math.max(0L, sl + (ref - e.p - kappa))
            val alarm = suE > h || slE > h
            su = if (alarm) 0L else suE
            sl = if (alarm) 0L else slE
            (e.event_id, e.p, suE, slE, alarm)
          }
        }
      }
      .toDF("event_id", "p_fp", "su_fp", "sl_fp", "alarm")
  }

  /** The identical recurrence as a DuckDB recursive CTE over a
    * `graft_series` (symbol, ts, event_id, value) relation — the oracle
    * twin of [[detect]] (lateral aliases carry the emit-vs-post-reset
    * state distinction inside each step).
    */
  def oracleSql(kappa: Long = 2000L, h: Long = 10000L): String =
    s"""ev AS MATERIALIZED (
       |  SELECT symbol, event_id,
       |    row_number() OVER (PARTITION BY symbol ORDER BY ts, event_id) AS rn,
       |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS p
       |  FROM graft_series
       |), cus(symbol, rn, event_id, p, ref, su_e, sl_e, alarm, su_s, sl_s) AS (
       |  SELECT symbol, rn, event_id, p, p,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT ev.symbol, ev.rn, ev.event_id, ev.p, cus.ref,
       |    greatest(CAST(0 AS BIGINT), cus.su_s + (ev.p - cus.ref - ${kappa})) AS su_n,
       |    greatest(CAST(0 AS BIGINT), cus.sl_s + (cus.ref - ev.p - ${kappa})) AS sl_n,
       |    (su_n > ${h} OR sl_n > ${h}) AS al_n,
       |    CASE WHEN al_n THEN CAST(0 AS BIGINT) ELSE su_n END,
       |    CASE WHEN al_n THEN CAST(0 AS BIGINT) ELSE sl_n END
       |  FROM cus JOIN ev ON ev.symbol = cus.symbol AND ev.rn = cus.rn + 1
       |)
       |SELECT event_id, p AS p_fp, su_e AS su_fp, sl_e AS sl_fp, alarm
       |FROM cus""".stripMargin
}
