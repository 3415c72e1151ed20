package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Holt-Winters additive triple exponential smoothing per series — the
  * seasonal member of the forecasting tier ([[Holt]] = level+trend,
  * [[Kalman]] = time-varying gain, this = level+trend+seasonal), in
  * exact integer fixed point so the fold is bit-identical at any
  * parallelism and oracle-replayable.
  *
  * Recurrence (alpha = 2/10, beta = 1/10, gamma = 1/4, period m, prices
  * in integer cents; idx_t = (t-1) mod m is the seasonal slot):
  * {{{
  *   l_1 = p_1, b_1 = 0, s_1[*] = 0
  *   l_t = (2 (p_t - s_(t-1)[idx_t]) + 8 (l_(t-1) + b_(t-1))) tdiv 10
  *   b_t = ((l_t - l_(t-1)) + 9 b_(t-1))                      tdiv 10
  *   s_t[idx_t] = ((p_t - l_t) + 3 s_(t-1)[idx_t])            tdiv 4
  *   forecast_t = l_t + b_t + s_t[idx_(t+1)]
  * }}}
  * with tdiv = truncate-toward-zero division (JVM `/`; the oracle spells
  * sign * abs-div — the [[PcaPower]] convention). Zero-initialized
  * seasonals mean the first cycle learns the level before the seasonal
  * indices split out — the standard cold-start trade stated explicitly
  * rather than hidden behind a look-ahead initialization pass (which
  * would break the O(1)-per-row ingest shape).
  *
  * Scale shape: ONE shuffle on the series key, then an O(m)-state
  * ordered fold per group (`flatMapSortedGroups`) — m = 24 hourly slots,
  * constant per key. The oracle replays the recurrence as a recursive
  * CTE whose seasonal state is a LIST column updated by slice
  * concatenation (slot surgery — DuckDB lists are 1-based inclusive).
  */
object HoltWinters {

  val Period = 24

  /** Internal fold row (public: Catalyst's generated deserializer cannot
    * access a private case class).
    */
  case class Hr(symbol: String, hb: Long, p: Long)

  /** Smooth an hourly series frame (symbol: string, hb: long hour
    * bucket, p: long cents). Output: (symbol, hb, p_fp, l_fp, b_fp,
    * s_fp, forecast_fp).
    */
  def smooth(series: DataFrame, m: Int = Period): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    def tdiv(a: Long, d: Long): Long = a / d // JVM: truncates toward zero
    series.as[Hr]
      .groupByKey(_.symbol)
      .flatMapSortedGroups($"hb") { (_, it) =>
        val s = Array.fill(m)(0L)
        var l = 0L
        var b = 0L
        var t = 0L
        it.map { r =>
          t += 1
          val idx = ((t - 1) % m).toInt
          if (t == 1) { l = r.p; b = 0L }
          else {
            val lprev = l
            l = tdiv(2 * (r.p - s(idx)) + 8 * (l + b), 10)
            b = tdiv((l - lprev) + 9 * b, 10)
          }
          s(idx) = tdiv((r.p - l) + 3 * s(idx), 4)
          val nextIdx = (t % m).toInt
          (r.symbol, r.hb, r.p, l, b, s(idx), l + b + s(nextIdx))
        }
      }
      .toDF("symbol", "hb", "p_fp", "l_fp", "b_fp", "s_fp", "forecast_fp")
  }

  private def signDiv(e: String, d: Int): String =
    s"(CASE WHEN ($e) < 0 THEN -((-($e)) // $d) ELSE ($e) // $d END)"

  /** The identical recurrence as a DuckDB recursive CTE over a
    * `graft_hours` (symbol, hb, p) relation — the oracle twin of
    * [[smooth]]. Seasonal state rides along as a LIST(BIGINT) column;
    * lateral aliases keep slot/l/b/s single-sourced per step.
    */
  def oracleSql(m: Int = Period): String = {
    val zeros = ("CAST(0 AS BIGINT)" +: Seq.fill(m - 1)("0")).mkString("[", ", ", "]")
    // the recursive member must emit EXACTLY the CTE's 7 columns, so
    // slot is inlined and snew nests inside the list surgery; lnew/bnew
    // are lateral aliases that ARE columns 5/6 (the Holt convention)
    val slot = s"(((ev.rn - 1) % $m) + 1)"
    val snew = signDiv(s"(ev.p - lnew) + 3 * hw.s[$slot]", 4)
    s"""ev AS MATERIALIZED (
       |  SELECT symbol, hb, p,
       |    row_number() OVER (PARTITION BY symbol ORDER BY hb) AS rn
       |  FROM graft_hours
       |), hw(symbol, rn, hb, p, l, b, s) AS (
       |  SELECT symbol, rn, hb, p, p, CAST(0 AS BIGINT), $zeros
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT ev.symbol, ev.rn, ev.hb, ev.p,
       |    ${signDiv(s"2 * (ev.p - hw.s[$slot]) + 8 * (hw.l + hw.b)", 10)} AS lnew,
       |    ${signDiv("(lnew - hw.l) + 9 * hw.b", 10)} AS bnew,
       |    list_concat(list_concat(hw.s[1:($slot - 1)], [$snew]),
       |                hw.s[($slot + 1):$m])
       |  FROM hw JOIN ev ON ev.symbol = hw.symbol AND ev.rn = hw.rn + 1
       |)
       |SELECT symbol, hb, p AS p_fp, l AS l_fp, b AS b_fp,
       |  s[((rn - 1) % $m) + 1] AS s_fp,
       |  l + b + s[(rn % $m) + 1] AS forecast_fp
       |FROM hw""".stripMargin
  }
}
