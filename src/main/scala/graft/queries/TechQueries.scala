package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Technical-analysis breadth beyond the reference's SMA/EMA/RSI core
  * (consumer.py:107-155 computes exactly those three): the indicators the
  * reference's users would reach for next — MACD, Bollinger bands,
  * stochastic oscillator, drawdown-from-peak, VWAP, and gap-fill resampling
  * (pandas `asfreq`+`ffill` parity). Same conventions as
  * [[FinanceQueries]]: `event_type` plays stock_symbol, `ts` local_time,
  * `value` close; every window carries `event_id` as tie-break.
  *
  * Scale notes (all shapes are the indicator-core shape, ONE shuffle on the
  * symbol key then ordered streaming within partitions):
  *   - running/rolling frames are O(1)-per-row (running max, fixed ROWS
  *     frames, recursive EMA via [[graft.functions.EwmAvg]]);
  *   - VWAP is a plain hash aggregation on (symbol, day) — partial
  *     map-side combine, fixed-point exact sums;
  *   - gap-fill builds the dense spine from a per-symbol min/max agg (5
  *     rows) exploded executor-side — never a driver-side loop.
  *
  * Cross-engine determinism: EMA folds are bit-identical (same literal
  * alphas, same fold order — the q_indicators precedent); min/max/lag are
  * exact; small fixed-frame avgs and the derived sqrt/divide chains agree
  * within the harness' 9-decimal rounding (established by sma_5); whole-
  * group sums go through [[Num]] fixed-point.
  */
object TechQueries {

  /** Sign-safe truncating integer division spelling (the Holt/PcaPower
    * convention), templated on the engine's integer-divide token
    * ("div" for Spark, "//" for DuckDB) so q_pacf's recursion is
    * single-sourced across both.
    */
  private[queries] def sdiv(num: String, den: String, idiv: String): String =
    s"(CASE WHEN ($num) < 0 THEN -((-($num)) $idiv ($den)) " +
      s"ELSE ($num) $idiv ($den) END)"

  /** 1e6-fp product of two fp values. */
  private[queries] def mulFp(a: String, b: String, idiv: String): String =
    sdiv(s"$a * $b", "1000000", idiv)

  /** ACF lag moment -> 1e6-fp correlation (den > 0 enforced upstream). */
  private[queries] def rFp(q: String, idiv: String): String =
    sdiv(s"($q) * 1000000", "den", idiv)

  /** The Durbin-Levinson recursion at lags 1..5, unrolled as named
    * steps over fp columns r1..r5 — consumed as lateral aliases by the
    * q_pacf oracle and as sequential projections by the Spark side
    * (Spark selectExpr has no lateral aliases). phi_{k,k} is the PACF
    * at lag k; inner coefficients update as
    * phi_{k,j} = phi_{k-1,j} - phi_{k,k} * phi_{k-1,k-j}.
    */
  private[queries] def durbinLevinson(idiv: String): Seq[(String, String)] = {
    def m(a: String, b: String) = mulFp(a, b, idiv)
    def d(num: String, den: String) =
      sdiv(s"($num) * 1000000", s"nullif($den, 0)", idiv)
    Seq(
      "p11" -> "r1",
      "num2" -> s"r2 - ${m("p11", "r1")}",
      "den2" -> s"1000000 - ${m("p11", "r1")}",
      "p22" -> d("num2", "den2"),
      "p21" -> s"p11 - ${m("p22", "p11")}",
      "num3" -> s"r3 - ${m("p21", "r2")} - ${m("p22", "r1")}",
      "den3" -> s"1000000 - ${m("p21", "r1")} - ${m("p22", "r2")}",
      "p33" -> d("num3", "den3"),
      "p31" -> s"p21 - ${m("p33", "p22")}",
      "p32" -> s"p22 - ${m("p33", "p21")}",
      "num4" -> (s"r4 - ${m("p31", "r3")} - ${m("p32", "r2")} - " +
        m("p33", "r1")),
      "den4" -> (s"1000000 - ${m("p31", "r1")} - ${m("p32", "r2")} - " +
        m("p33", "r3")),
      "p44" -> d("num4", "den4"),
      "p41" -> s"p31 - ${m("p44", "p33")}",
      "p42" -> s"p32 - ${m("p44", "p32")}",
      "p43" -> s"p33 - ${m("p44", "p31")}",
      "num5" -> (s"r5 - ${m("p41", "r4")} - ${m("p42", "r3")} - " +
        s"${m("p43", "r2")} - ${m("p44", "r1")}"),
      "den5" -> (s"1000000 - ${m("p41", "r1")} - ${m("p42", "r2")} - " +
        s"${m("p43", "r3")} - ${m("p44", "r4")}"),
      "p55" -> d("num5", "den5"))
  }


  import Num.{dsum, dsumSql}

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("event_id", "event_type", "ts", "value")

  private val wOrd = "PARTITION BY event_type ORDER BY ts, event_id"

  val all: Seq[QueryDef] = Seq(

    // ---- MACD(12,26,9): EMA fast minus EMA slow, EMA'd again into the
    //      signal line. Exercises the recursive ewm_avg twice-cascaded —
    //      the second EMA runs over an already-windowed null-leading
    //      column, so the null-skipping state machine is on the hot path ----
    QueryDef.sql(
      "q_macd",
      s"""WITH base AS (
         |  SELECT event_id, event_type, ts, value FROM events
         |), s1 AS (
         |  SELECT *,
         |    CASE WHEN row_number() OVER wo >= 12 THEN
         |      list_reduce(list(value) OVER wu,
         |                  (acc, x) -> (1e0 - 2e0/13e0)*acc + (2e0/13e0)*x)
         |    END AS ema_12,
         |    CASE WHEN row_number() OVER wo >= 26 THEN
         |      list_reduce(list(value) OVER wu,
         |                  (acc, x) -> (1e0 - 2e0/27e0)*acc + (2e0/27e0)*x)
         |    END AS ema_26
         |  FROM base
         |  WINDOW
         |    wo AS ($wOrd),
         |    wu AS ($wOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), s2 AS (
         |  SELECT *, ema_12 - ema_26 AS macd FROM s1
         |), s3 AS (
         |  SELECT *,
         |    CASE WHEN count(macd) OVER wu2 >= 9 THEN
         |      list_reduce(list_filter(list(macd) OVER wu2,
         |                              x -> x IS NOT NULL),
         |                  (acc, x) -> (1e0 - 2e0/10e0)*acc + (2e0/10e0)*x)
         |    END AS macd_signal
         |  FROM s2
         |  WINDOW wu2 AS ($wOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, event_type, ts, value, ema_12, ema_26, macd,
         |       macd_signal, macd - macd_signal AS macd_hist
         |FROM s3""".stripMargin
    ) { (s, d) =>
      graft.ops.TechIndicators.macd(ev(s, d),
        symbol = col("event_type"), time = col("ts"), close = col("value"),
        tieBreak = Seq(col("event_id")))
    },

    // ---- Bollinger(20, 2): rolling mean +- 2 sigma. Moments from EXACT
    //      integer window sums of 1e-2-quantized ticks (order-free, so
    //      the engines agree bit-for-bit; raw windowed avg diverges by
    //      an ulp between Spark's sliding accumulator and DuckDB's
    //      recompute, amplified by the variance cancellation); %B
    //      locates the close inside the band ----
    QueryDef.sql(
      "q_bollinger",
      s"""WITH s0 AS (
         |  SELECT event_id, event_type, ts, value,
         |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS q
         |  FROM events
         |), s1 AS (
         |  SELECT event_id, event_type, ts, value,
         |    CASE WHEN count(value) OVER w20 = 20
         |         THEN CAST(sum(q) OVER w20 AS DOUBLE) / 1e2 / 20e0 END AS bb_mid,
         |    CASE WHEN count(value) OVER w20 = 20
         |         THEN CAST(sum(q*q) OVER w20 AS DOUBLE) / 1e4 / 20e0 END AS m2
         |  FROM s0
         |  WINDOW w20 AS ($wOrd ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |), s2 AS (
         |  SELECT *, sqrt(greatest(m2 - bb_mid*bb_mid, 0e0)) AS bb_sd FROM s1
         |)
         |SELECT event_id, event_type, ts, value, bb_mid, bb_sd,
         |  bb_mid + 2e0*bb_sd AS bb_upper,
         |  bb_mid - 2e0*bb_sd AS bb_lower,
         |  (value - (bb_mid - 2e0*bb_sd))
         |    / (CASE WHEN bb_sd <> 0e0 THEN 4e0*bb_sd END) AS pct_b
         |FROM s2""".stripMargin
    ) { (s, d) =>
      graft.ops.TechIndicators.bollinger(ev(s, d),
        symbol = col("event_type"), time = col("ts"), close = col("value"),
        tieBreak = Seq(col("event_id")))
    },

    // ---- Stochastic oscillator (14, 3): %K locates the close inside the
    //      rolling 14-row low/high range (exact min/max), %D smooths %K
    //      over 3 rows — a second cascaded window stage like MACD's ----
    QueryDef.sql(
      "q_stochastic",
      s"""WITH s1 AS (
         |  SELECT event_id, event_type, ts, value,
         |    CASE WHEN count(value) OVER w14 = 14 THEN min(value) OVER w14 END AS lo_14,
         |    CASE WHEN count(value) OVER w14 = 14 THEN max(value) OVER w14 END AS hi_14
         |  FROM events
         |  WINDOW w14 AS ($wOrd ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |), s2 AS (
         |  SELECT *,
         |    1e2 * (value - lo_14)
         |      / (CASE WHEN hi_14 <> lo_14 THEN hi_14 - lo_14 END) AS pct_k
         |  FROM s1
         |), s3 AS (
         |  SELECT *,
         |    CASE WHEN count(pct_k) OVER w3 = 3 THEN avg(pct_k) OVER w3 END AS pct_d
         |  FROM s2
         |  WINDOW w3 AS ($wOrd ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, event_type, ts, value, lo_14, hi_14, pct_k, pct_d
         |FROM s3""".stripMargin
    ) { (s, d) =>
      graft.ops.TechIndicators.stochastic(ev(s, d),
        symbol = col("event_type"), time = col("ts"), close = col("value"),
        tieBreak = Seq(col("event_id")))
    },

    // ---- Drawdown from running peak: running max is exact (order-free),
    //      so the whole column is bit-identical cross-engine ----
    QueryDef.sql(
      "q_drawdown",
      s"""SELECT event_id, event_type, ts, value,
         |  max(value) OVER wu AS peak,
         |  (value - max(value) OVER wu)
         |    / (CASE WHEN max(value) OVER wu <> 0e0
         |            THEN max(value) OVER wu END) AS drawdown
         |FROM events
         |WINDOW wu AS ($wOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    ) { (s, d) =>
      graft.ops.TechIndicators.drawdown(ev(s, d),
        symbol = col("event_type"), time = col("ts"), close = col("value"),
        tieBreak = Seq(col("event_id")))
    },

    // ---- Max drawdown per symbol: the scalar risk headline. min() over
    //      the exact drawdown column — a plain partial-aggregable min ----
    QueryDef.sql(
      "q_max_drawdown",
      s"""WITH dd AS (
         |  SELECT event_type, value,
         |    (value - max(value) OVER wu)
         |      / (CASE WHEN max(value) OVER wu <> 0e0
         |              THEN max(value) OVER wu END) AS drawdown
         |  FROM events
         |  WINDOW wu AS ($wOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_type, min(drawdown) AS max_drawdown
         |FROM dd GROUP BY event_type""".stripMargin
    ) { (s, d) =>
      graft.ops.TechIndicators.drawdown(ev(s, d),
        symbol = col("event_type"), time = col("ts"), close = col("value"),
        tieBreak = Seq(col("event_id")))
        .groupBy(col("event_type"))
        .agg(min(col("drawdown")).as("max_drawdown"))
    },

    // ---- VWAP per (symbol, day): volume from the props JSON payload
    //      (`{"k": <int>}`), price*volume summed fixed-point exact. One
    //      hash agg with map-side combine — the 100 TB shape ----
    QueryDef.sql(
      "q_vwap",
      s"""WITH t AS (
         |  SELECT event_type, date_trunc('day', ts) AS day, value,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS vol
         |  FROM events
         |)
         |SELECT event_type, day,
         |  ${dsumSql("value * vol")} / CAST(sum(vol) AS DOUBLE) AS vwap,
         |  CAST(sum(vol) AS BIGINT) AS total_vol,
         |  count(*) AS n_trades
         |FROM t GROUP BY event_type, day""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
          col("value"),
          get_json_object(col("props"), "$.k").cast("long").as("vol"))
        .groupBy(col("event_type"), col("day"))
        .agg(
          (dsum(col("value") * col("vol")) / sum(col("vol")).cast("double"))
            .as("vwap"),
          sum(col("vol")).as("total_vol"),
          count(lit(1)).as("n_trades"))
    },

    // ---- Rolling pair correlation + beta (pairs-trading analytics):
    //      both symbols resampled to hourly last-ticks, joined on the
    //      hour, then 24-row rolling Pearson correlation computed from
    //      EXACT integer window sums of 1e-3-quantized values — the
    //      moments are order-independent BIGINTs (all products stay under
    //      2^53), so the only floating-point ops are the final sqrt and
    //      divide. Deterministic at any parallelism, like Num's sums ----
    QueryDef.sql(
      "q_pair_corr",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour_ts, value
        |  FROM (
        |    SELECT event_type, ts, value,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('view', 'click')) WHERE rn = 1
        |), joined AS (
        |  SELECT a.hour_ts,
        |    CAST(floor(a.value * 1e3) AS BIGINT) AS xa,
        |    CAST(floor(b.value * 1e3) AS BIGINT) AS xb
        |  FROM hourly a JOIN hourly b ON a.hour_ts = b.hour_ts
        |  WHERE a.event_type = 'view' AND b.event_type = 'click'
        |), sums AS (
        |  SELECT hour_ts,
        |    CAST(count(*) OVER w24 AS BIGINT) AS n,
        |    CAST(sum(xa) OVER w24 AS BIGINT) AS sx,
        |    CAST(sum(xb) OVER w24 AS BIGINT) AS sy,
        |    CAST(sum(xa * xa) OVER w24 AS BIGINT) AS sxx,
        |    CAST(sum(xb * xb) OVER w24 AS BIGINT) AS syy,
        |    CAST(sum(xa * xb) OVER w24 AS BIGINT) AS sxy
        |  FROM joined
        |  WINDOW w24 AS (ORDER BY hour_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |)
        |SELECT hour_ts,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |            THEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) END)
        |    AS corr_24h,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (CASE WHEN (n * sxx - sx * sx) > 0
        |            THEN CAST(n * sxx - sx * sx AS DOUBLE) END) AS beta_24h
        |FROM sums WHERE n = 24""".stripMargin
    ) { (s, d) =>
      val wHour = Window
        .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      val hourly = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
        .withColumn("rn", row_number().over(wHour))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_ts"), col("value"))
      val a = hourly.filter(col("event_type") === "view")
        .select(col("hour_ts"),
          floor(col("value") * lit(1e3)).cast("long").as("xa"))
      val b = hourly.filter(col("event_type") === "click")
        .select(col("hour_ts").as("hb"),
          floor(col("value") * lit(1e3)).cast("long").as("xb"))
      val w24 = Window.orderBy(col("hour_ts")).rowsBetween(-23, 0)
      val sums = a.join(b, col("hour_ts") === col("hb"))
        .select(col("hour_ts"), col("xa"), col("xb"))
        .withColumn("n", count(lit(1)).over(w24))
        .withColumn("sx", sum(col("xa")).over(w24))
        .withColumn("sy", sum(col("xb")).over(w24))
        .withColumn("sxx", sum(col("xa") * col("xa")).over(w24))
        .withColumn("syy", sum(col("xb") * col("xb")).over(w24))
        .withColumn("sxy", sum(col("xa") * col("xb")).over(w24))
        .filter(col("n") === 24)
      val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val varX = col("n") * col("sxx") - col("sx") * col("sx")
      val varY = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("hour_ts"),
        (covN / when(varX > 0 && varY > 0,
          sqrt(varX.cast("double")) * sqrt(varY.cast("double"))))
          .as("corr_24h"),
        (covN / when(varX > 0, varX.cast("double"))).as("beta_24h"))
    }.intendsGlobalWindow(
      "rolls over the joint HOURLY series of one symbol pair — " +
        "cardinality grows with wall-clock hours, not data volume"),

    // ---- Gap-fill resample (pandas asfreq('1H') + ffill parity): dense
    //      per-symbol hourly spine, last tick in each hour, forward-fill
    //      across empty hours. The spine derives from a 5-row min/max agg
    //      and explodes executor-side; the fill is a running
    //      last-non-null — O(1)/row, one shuffle on the symbol key ----
    QueryDef.sql(
      "q_gap_fill",
      """WITH bounds AS (
        |  SELECT event_type,
        |    date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        |  FROM events GROUP BY event_type
        |), spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
        |  FROM bounds
        |), hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour_ts, value
        |  FROM (
        |    SELECT event_type, ts, value,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1
        |)
        |SELECT s.event_type, s.hour_ts, h.value AS last_tick,
        |  last_value(h.value IGNORE NULLS)
        |    OVER (PARTITION BY s.event_type ORDER BY s.hour_ts) AS filled,
        |  CAST(h.value IS NULL AS BIGINT) AS is_gap
        |FROM spine s LEFT JOIN hourly h
        |  ON s.event_type = h.event_type AND s.hour_ts = h.hour_ts""".stripMargin
    ) { (s, d) =>
      val events = Tables.events(s, d)
      val spine = events
        .groupBy(col("event_type"))
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(col("event_type"),
          explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour_ts"))
      val wHour = Window
        .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      val hourly = events
        .withColumn("rn", row_number().over(wHour))
        .filter(col("rn") === 1)
        .select(col("event_type").as("h_type"),
          date_trunc("hour", col("ts")).as("h_hour"), col("value"))
      val wFill = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      spine
        .join(hourly,
          col("event_type") === col("h_type") && col("hour_ts") === col("h_hour"),
          "left")
        .select(col("event_type"), col("hour_ts"), col("value").as("last_tick"))
        .withColumn("filled",
          last(col("last_tick"), ignoreNulls = true).over(wFill))
        .withColumn("is_gap", col("last_tick").isNull.cast("long"))
    },

    // ---- Mean-shift change-point detection: per symbol, compare the
    //      fixed-point sum of the 12 values BEFORE each row against the
    //      12 starting AT it; flag |shift| above an absolute threshold.
    //      Everything is integer (floor(value*1e6) summed over exact
    //      ROWS frames, edge rows with short windows drop out via the
    //      count gate), so the flags are bit-identical cross-engine —
    //      unlike recursive CUSUM, this form is pure window algebra:
    //      both frames ride ONE (symbol) exchange ----
    QueryDef.sql(
      "q_mean_shift",
      """WITH q AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS v_fp
        |  FROM events
        |), f AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(sum(v_fp) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_before,
        |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_before,
        |    CAST(sum(v_fp) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS BIGINT) AS s_after,
        |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS BIGINT) AS n_after
        |  FROM q
        |)
        |SELECT event_type, ts, event_id,
        |  s_after - s_before AS shift_fp
        |FROM f
        |WHERE n_before = 12 AND n_after = 12
        |  AND abs(s_after - s_before) > 300000000""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val before = w.rowsBetween(-12, -1)
      val after = w.rowsBetween(0, 11)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * lit(1e6)).cast("long").as("v_fp"))
        .withColumn("s_before", sum(col("v_fp")).over(before))
        .withColumn("n_before", count(lit(1)).over(before))
        .withColumn("s_after", sum(col("v_fp")).over(after))
        .withColumn("n_after", count(lit(1)).over(after))
        .filter(col("n_before") === 12 && col("n_after") === 12 &&
          abs(col("s_after") - col("s_before")) > 300000000L)
        .select(col("event_type"), col("ts"), col("event_id"),
          (col("s_after") - col("s_before")).as("shift_fp"))
    },

    // ---- Per-(symbol, day) OLS trend slope in exact integers: the
    //      moment-form regression over in-day rank vs price cents —
    //      one partial-aggregable groupBy, int64 headroom contract
    //      documented inline below ----
    QueryDef.sql(
      "q_ols_trend",
      // per-(symbol, day) ordinary least squares in EXACT integers:
      // x = in-day rank, y = price cents; slope from the moment form
      // n·Σxy−Σx·Σy over n·Σx²−(Σx)², fixed-point 1e4; intercept from
      // the (already-truncated) slope so both engines share the exact
      // truncation chain. The moments are one partial-aggregable
      // groupBy — the shape that holds at any series count. Int64
      // headroom contract (the PageRank/PcaPower convention): the
      // scaled slope numerator is bounded by n³·y_max·1e4, so groups
      // must stay under ~2,000 rows at $100-range prices (here:
      // ~70 rows per symbol-day) — re-bucket the group key or lower
      // the 1e4 scale for denser series.
      """WITH r AS (
        |  SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS x,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS y
        |  FROM events
        |), m AS (
        |  SELECT symbol, day, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM r GROUP BY symbol, day
        |)
        |SELECT symbol, day, n,
        |  ((n * sxy - sx * sy) * 10000) // (n * sxx - sx * sx) AS slope_fp,
        |  (sy * 10000 - ((n * sxy - sx * sy) * 10000) // (n * sxx - sx * sx) * sx) // n
        |    AS intercept_fp
        |FROM m WHERE n >= 2""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("event_type").as("symbol"), col("ts").cast("date").as("day"),
          col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("y"))
        .withColumn("x", row_number().over(w).cast("long"))
      val m = r.groupBy(col("symbol"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      m.filter(col("n") >= 2)
        .select(col("symbol"), col("day"), col("n"),
          expr("((n * sxy - sx * sy) * 10000) div (n * sxx - sx * sx)")
            .as("slope_fp"),
          expr("""(sy * 10000 - ((n * sxy - sx * sy) * 10000)
                 |  div (n * sxx - sx * sx) * sx) div n""".stripMargin)
            .as("intercept_fp"))
    },

    // ---- Wald-Wolfowitz runs test per symbol: is the up/down tick
    //      sequence random? R = number of sign runs over nonzero
    //      deltas, n1/n2 = up/down counts — exact integers off two
    //      windows on ONE symbol exchange; z from the closed-form
    //      run-count moments via a single identical-op-order double
    //      chain (2n1n2(2n1n2−n) would overflow int64 at corpus n, so
    //      the moments are double by construction, same text both
    //      engines). Degenerate-σ groups (2n1n2 ≤ n) are filtered with
    //      an exact integer predicate ----
    QueryDef.sql(
      "q_runs_test",
      """WITH d AS (
        |  SELECT event_type AS symbol, ts, event_id,
        |    value - lag(value) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS dv
        |  FROM events
        |), sgn AS (
        |  SELECT symbol, ts, event_id,
        |    CASE WHEN dv > 0 THEN 1 ELSE -1 END AS sg
        |  FROM d WHERE dv IS NOT NULL AND dv <> 0
        |), rr AS (
        |  SELECT symbol, sg,
        |    CASE WHEN lag(sg) OVER (PARTITION BY symbol
        |        ORDER BY ts, event_id) IS DISTINCT FROM sg
        |      THEN 1 ELSE 0 END AS nr
        |  FROM sgn
        |), agg AS (
        |  SELECT symbol, CAST(sum(nr) AS BIGINT) AS r,
        |    CAST(count(*) FILTER (WHERE sg = 1) AS BIGINT) AS n1,
        |    CAST(count(*) FILTER (WHERE sg = -1) AS BIGINT) AS n2
        |  FROM rr GROUP BY symbol
        |)
        |SELECT symbol, r, n1, n2,
        |  (CAST(r AS DOUBLE) - (2e0 * n1 * n2 / (n1 + n2) + 1e0))
        |    / sqrt(2e0 * n1 * n2 * (2e0 * n1 * n2 - n1 - n2)
        |      / ((1e0 * (n1 + n2)) * (n1 + n2) * (n1 + n2 - 1e0))) AS z
        |FROM agg
        |WHERE n1 > 0 AND n2 > 0 AND 2 * n1 * n2 > n1 + n2""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val bySym = Window.partitionBy(col("symbol"))
        .orderBy(col("ts"), col("event_id"))
      val sgn = Tables.events(s, d)
        .select(col("event_type").as("symbol"), col("ts"), col("event_id"),
          col("value"))
        .withColumn("dv", col("value") - lag(col("value"), 1).over(bySym))
        .filter(col("dv").isNotNull && col("dv") =!= 0d)
        .withColumn("sg", when(col("dv") > 0d, lit(1)).otherwise(lit(-1)))
      val agg = sgn
        .withColumn("nr",
          when(not(lag(col("sg"), 1).over(bySym) <=> col("sg")), lit(1))
            .otherwise(lit(0)))
        .groupBy(col("symbol"))
        .agg(sum(col("nr")).cast("long").as("r"),
          count(when(col("sg") === 1, 1)).as("n1"),
          count(when(col("sg") === -1, 1)).as("n2"))
      agg.filter(col("n1") > 0 && col("n2") > 0 &&
          lit(2) * col("n1") * col("n2") > col("n1") + col("n2"))
        .select(col("symbol"), col("r"), col("n1"), col("n2"),
          expr("""(CAST(r AS DOUBLE) - (2e0 * n1 * n2 / (n1 + n2) + 1e0))
                 |  / sqrt(2e0 * n1 * n2 * (2e0 * n1 * n2 - n1 - n2)
                 |    / ((1e0 * (n1 + n2)) * (n1 + n2) * (n1 + n2 - 1e0)))
                 |""".stripMargin).as("z"))
    },

    // ---- Additive seasonal decomposition (STL-lite): v = trend +
    //      seasonal + residual per symbol series — trend is the exact
    //      centered 7-row moving average (full windows only), the
    //      seasonal index is the day-of-week mean of the detrended
    //      series, the residual is what's left. All integer cents;
    //      divisions use the sign·abs-div form (defense in depth
    //      against either engine changing negative-operand division
    //      convention — the Holt/PcaPower rule). Scale shape: ONE
    //      symbol exchange carries the centered window; the seasonal
    //      index is a (symbol × 7)-row broadcast join back ----
    QueryDef.sql(
      "q_seasonal_decomp",
      """WITH s0 AS (
        |  SELECT event_type AS symbol, ts, event_id,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS v,
        |    dayofweek(ts) AS dow
        |  FROM events
        |), tr AS (
        |  SELECT symbol, event_id, v, dow,
        |    CAST(sum(v) OVER w AS BIGINT) AS s7,
        |    CAST(count(*) OVER w AS BIGINT) AS c7
        |  FROM s0
        |  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), dt AS (
        |  SELECT symbol, event_id, dow, v, s7 // 7 AS trend_fp,
        |    v - (s7 // 7) AS d
        |  FROM tr WHERE c7 = 7
        |), si AS (
        |  SELECT symbol, dow,
        |    CASE WHEN CAST(sum(d) AS BIGINT) < 0
        |      THEN -((-CAST(sum(d) AS BIGINT)) // count(*))
        |      ELSE CAST(sum(d) AS BIGINT) // count(*) END AS seas_fp
        |  FROM dt GROUP BY symbol, dow
        |)
        |SELECT d.symbol, d.event_id, d.v AS v_fp, d.trend_fp,
        |  si.seas_fp, d.d - si.seas_fp AS resid_fp
        |FROM dt d JOIN si ON si.symbol = d.symbol AND si.dow = d.dow""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 3)
      val s0 = Tables.events(s, d).select(
        col("event_type").as("symbol"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("v"),
        (dayofweek(col("ts")) - 1).as("dow"))
      val dt = s0
        .withColumn("s7", sum(col("v")).over(w))
        .withColumn("c7", count(lit(1)).over(w))
        .filter(col("c7") === 7)
        .select(col("symbol"), col("event_id"), col("dow"), col("v"),
          expr("s7 div 7").as("trend_fp"),
          expr("v - (s7 div 7)").as("d"))
      val si = dt.groupBy(col("symbol").as("si_symbol"), col("dow").as("si_dow"))
        .agg(sum(col("d")).as("sd"), count(lit(1)).as("cn"))
        .select(col("si_symbol"), col("si_dow"),
          expr("CASE WHEN sd < 0 THEN -((-sd) div cn) ELSE sd div cn END")
            .as("seas_fp"))
      dt.join(broadcast(si),
          dt("symbol") === col("si_symbol") && dt("dow") === col("si_dow"))
        .select(col("symbol"), col("event_id"), col("v").as("v_fp"),
          col("trend_fp"), col("seas_fp"),
          (col("d") - col("seas_fp")).as("resid_fp"))
    },

    // ---- Holt linear-trend smoothing (see ops.Holt): level + trend +
    //      one-step forecast per symbol in exact integer cents — the
    //      closed-form classical counterpart to the reference's LSTM
    //      forecaster, on the indicator-core data plane (one shuffle on
    //      the symbol key, O(1)-state ordered fold). Oracle replays the
    //      recurrence as a recursive CTE ----
    QueryDef.sql(
      "q_holt",
      s"""WITH RECURSIVE graft_series AS (
         |  SELECT event_type AS symbol, ts, event_id, value FROM events
         |),
         |${graft.ops.Holt.oracleSql}""".stripMargin
    ) { (s, d) =>
      graft.ops.Holt.smooth(
        Tables.events(s, d).select(
          col("event_type").as("symbol"), col("ts"),
          col("event_id"), col("value")))
    },

    // ---- Time-weighted average price per symbol-day (q_vwap's
    //      clock-weighted sibling — irregular ticks mean the plain mean
    //      over-weights busy minutes): each tick holds its price until
    //      the next (dt in whole seconds via epoch-floor math), the
    //      day's last tick holds nothing. Exact integers; headroom
    //      cents·dt ≤ 1e5·86400 ≈ 8.6e9 per term, safe to ~1e9
    //      terms/day-symbol ----
    QueryDef.sql(
      "q_twap",
      """WITH t AS (
        |  SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents,
        |    lead(epoch_us(ts) // 1000000) OVER w
        |      - epoch_us(ts) // 1000000 AS dt
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
        |    ORDER BY ts, event_id)
        |)
        |SELECT symbol, day,
        |  CAST(count(*) AS BIGINT) AS n_ticks,
        |  CAST(sum(dt) AS BIGINT) AS held_s,
        |  CASE WHEN CAST(sum(dt) AS BIGINT) > 0
        |    THEN CAST(sum(cents * dt) AS BIGINT) // CAST(sum(dt) AS BIGINT)
        |    ELSE NULL END AS twap_cents
        |FROM t WHERE dt IS NOT NULL
        |GROUP BY symbol, day""".stripMargin
    ) { (s, d) =>
      val w = Window
        .partitionBy(col("symbol"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("symbol"),
          to_date(col("ts")).as("day"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("cents"),
          expr("unix_seconds(ts)").as("sec"))
        .withColumn("dt", lead(col("sec"), 1).over(w) - col("sec"))
        .filter(col("dt").isNotNull)
        .groupBy(col("symbol"), col("day"))
        .agg(count(lit(1)).as("n_ticks"),
          sum(col("dt")).as("held_s"),
          when(sum(col("dt")) > 0,
            expr("CAST(sum(cents * dt) AS BIGINT) div CAST(sum(dt) AS BIGINT)"))
            .otherwise(lit(null)).as("twap_cents"))
    },

    // ---- RiskMetrics EWMA volatility (see ops.EwmVar): λ = 0.94
    //      variance recurrence over the q_sharpe winsorized returns —
    //      the rolling-dispersion twin of q_sharpe's static variance.
    //      Exact int64; vol = floor(sqrt(v)) is safe cross-engine
    //      because IEEE sqrt is correctly rounded (ln is not — see
    //      ops.BanditReplay's UCB rejection note) ----
    QueryDef.sql(
      "q_ewm_var",
      s"""WITH RECURSIVE c AS (
         |  SELECT event_type AS symbol, ts, event_id,
         |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents
         |  FROM events
         |), graft_returns AS (
         |  SELECT symbol,
         |    row_number() OVER (PARTITION BY symbol
         |      ORDER BY ts, event_id) AS rn,
         |    greatest(-1000000, least(1000000,
         |      ((cents - pc) * 1000000) // pc)) AS r_fp
         |  FROM (
         |    SELECT symbol, cents, ts, event_id,
         |      lag(cents) OVER (PARTITION BY symbol ORDER BY ts, event_id) AS pc
         |    FROM c)
         |  WHERE pc >= 100
         |),
         |${graft.ops.EwmVar.oracleSql}""".stripMargin
    ) { (s, d) =>
      val wl = Window.partitionBy(col("symbol")).orderBy(col("ts"), col("event_id"))
      val rets = Tables.events(s, d)
        .select(col("event_type").as("symbol"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("cents"))
        .withColumn("pc", lag(col("cents"), 1).over(wl))
        .filter(col("pc") >= 100)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("symbol")).orderBy(col("ts"), col("event_id")))
          .cast("long"))
        .select(col("symbol"), col("rn"),
          greatest(lit(-1000000L), least(lit(1000000L),
            expr("((cents - pc) * 1000000L) div pc"))).as("r_fp"))
      graft.ops.EwmVar.track(rets)
    },

    // ---- Holt-Winters additive seasonal smoothing (see ops.HoltWinters):
    //      level + trend + 24-slot hourly seasonal indices per event
    //      type, over the hourly cents-sum series — the seasonal member
    //      of the forecasting tier (q_holt = level+trend, q_kalman =
    //      time-varying gain). Exact int64; oracle replays the
    //      recurrence as a recursive CTE carrying the seasonal state as
    //      a LIST column updated by slice surgery ----
    QueryDef.sql(
      "q_holt_winters",
      s"""WITH RECURSIVE graft_hours AS (
         |  SELECT event_type AS symbol,
         |    epoch_us(ts) // 1000000 // 3600 AS hb,
         |    CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT))
         |      AS BIGINT) AS p
         |  FROM events GROUP BY 1, 2
         |),
         |${graft.ops.HoltWinters.oracleSql()}""".stripMargin
    ) { (s, d) =>
      graft.ops.HoltWinters.smooth(
        Tables.events(s, d)
          .select(col("event_type").as("symbol"),
            expr("unix_seconds(ts) div 3600").as("hb"),
            expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("c"))
          .groupBy(col("symbol"), col("hb"))
          .agg(sum(col("c")).as("p")))
    },

    // ---- Scalar Kalman filter with the full time-varying gain (see
    //      ops.Kalman): the state-space smoother between ewm_avg (a
    //      gain-converged Kalman) and q_holt (level+trend, fixed
    //      gains) — posterior variance anneals R → P∞, so early rows
    //      track near 1:1 and the gain schedule is part of the output.
    //      Exact int64 recurrence, oracle = recursive CTE ----
    QueryDef.sql(
      "q_kalman",
      s"""WITH RECURSIVE graft_series AS (
         |  SELECT event_type AS symbol, ts, event_id, value FROM events
         |),
         |${graft.ops.Kalman.oracleSql}""".stripMargin
    ) { (s, d) =>
      graft.ops.Kalman.filter(
        Tables.events(s, d).select(
          col("event_type").as("symbol"), col("ts"),
          col("event_id"), col("value")))
    },

    // ---- Forecast evaluation of the Holt smoother: per-symbol MASE
    //      (mean absolute error scaled by the naive last-value
    //      forecast's — the scale-free standard since Hyndman &
    //      Koehler 2006; < 1e6 fp means "beats naive") and sMAPE.
    //      MASE is a pure integer ratio of two exact |error| sums;
    //      sMAPE quantizes each row's bounded ratio before the exact
    //      mean. Chains the q_holt recurrence CTEs (Holt.oracleCtes)
    //      and evaluates the ONE-STEP-AHEAD forecast (lag of l+b) —
    //      no lookahead leak ----
    QueryDef.sql(
      "q_forecast_eval",
      s"""WITH RECURSIVE graft_series AS (
         |  SELECT event_type AS symbol, ts, event_id, value FROM events
         |),
         |${graft.ops.Holt.oracleCtes},
         |fe AS (
         |  SELECT symbol, p,
         |    lag(l + b) OVER (PARTITION BY symbol ORDER BY rn) AS f_prev,
         |    lag(p) OVER (PARTITION BY symbol ORDER BY rn) AS p_prev
         |  FROM holt
         |)
         |SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         |  (CAST(sum(abs(p - f_prev)) AS BIGINT) * 1000000)
         |    // nullif(CAST(sum(abs(p - p_prev)) AS BIGINT), 0) AS mase_fp,
         |  CAST(sum((2000000 * abs(p - f_prev))
         |    // nullif(abs(p) + abs(f_prev), 0)) AS BIGINT)
         |    // count(*) AS smape_fp
         |FROM fe WHERE f_prev IS NOT NULL
         |GROUP BY symbol""".stripMargin
    ) { (s, d) =>
      val sm = graft.ops.Holt.smooth(
        Tables.events(s, d).select(
          col("event_type").as("symbol"), col("ts"),
          col("event_id"), col("value")))
      val ev2 = Tables.events(s, d)
        .select(col("event_id"), col("event_type").as("symbol"),
          col("ts"))
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col("ts"), col("event_id"))
      sm.join(ev2, "event_id")
        .withColumn("f_prev", lag(col("forecast_fp"), 1).over(w))
        .withColumn("p_prev", lag(col("p_fp"), 1).over(w))
        .filter(col("f_prev").isNotNull)
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"),
          expr("(sum(abs(p_fp - f_prev)) * 1000000L) div " +
            "nullif(sum(abs(p_fp - p_prev)), 0)").as("mase_fp"),
          expr("sum((2000000L * abs(p_fp - f_prev)) div " +
            "nullif(abs(p_fp) + abs(f_prev), 0)) div count(1)")
            .as("smape_fp"))
    },

    // ---- Rolling order statistics (robust smoothing): exact median /
    //      min / max over a trailing 7-row frame per symbol. The frame is
    //      always exactly 7 rows (warm-up rows filtered AFTER the window
    //      runs), so the median is the 4th order statistic — an element
    //      pick, never an interpolation — and both engines return the
    //      identical double. One shuffle on the symbol key, O(7)/row
    //      bounded frame state; rn is per-symbol (no global window) ----
    QueryDef.sql(
      "q_moving_median",
      s"""WITH w AS (
         |  SELECT event_id, event_type, ts, value,
         |    row_number() OVER wo AS rn,
         |    median(value) OVER w7 AS med_7,
         |    min(value) OVER w7 AS min_7,
         |    max(value) OVER w7 AS max_7
         |  FROM events
         |  WINDOW wo AS ($wOrd),
         |         w7 AS ($wOrd ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, event_type, ts, value, med_7, min_7, max_7
         |FROM w WHERE rn >= 7""".stripMargin
    ) { (s, d) =>
      val wo = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val w7 = wo.rowsBetween(-6, 0)
      ev(s, d)
        .withColumn("rn", row_number().over(wo))
        .withColumn("med_7", percentile(col("value"), lit(0.5)).over(w7))
        .withColumn("min_7", min(col("value")).over(w7))
        .withColumn("max_7", max(col("value")).over(w7))
        .filter(col("rn") >= 7)
        .drop("rn")
    },

    // ---- LTTB chart downsampling ([[graft.ops.Lttb]]): 12 buckets + 2
    //      endpoints per symbol, exact int64 triangle-area argmax. The
    //      oracle unrolls the 12-step pick recurrence (PcaPower chain
    //      pattern) ----
    QueryDef.sql(
      "q_lttb",
      graft.ops.Lttb.oracleSql(
        "events", "event_type", "ts", "event_id", "value")
    ) { (s, d) =>
      graft.ops.Lttb.downsample(
        ev(s, d), "event_type", "ts", "event_id", "value")
    },

    // ---- Autocorrelation function: per (symbol, day), Pearson ACF at
    //      lags 1..3 of the cents-quantized series — the standard
    //      seasonality/momentum diagnostic (q_pair_corr's moment-form
    //      recipe, but series-vs-lagged-self instead of series-vs-
    //      series). Shape: ONE (symbol, day) exchange carries the lag
    //      window AND the moment groupBy (keys align), then the 3 lag
    //      rows per group unpivot row-locally BEFORE aggregation.
    //      Exactness: the moments are int64 sums of cents products, so
    //      both engines divide the same integers; the final
    //      double-sqrt-divide chain is identical instruction-for-
    //      instruction. Int64 headroom (PageRank/PcaPower convention):
    //      n*sxy <= n^2 * y_max^2 — at cents scale with y <= 5e4 that
    //      admits ~60k rows per (symbol, day) group; re-bucket the
    //      group key (e.g. per-hour) for denser series ----
    QueryDef.sql(
      "q_acf",
      """WITH r AS (
        |  SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS y,
        |    lag(CAST(floor(value * 1e2 + 5e-1) AS BIGINT), 1) OVER w AS y1,
        |    lag(CAST(floor(value * 1e2 + 5e-1) AS BIGINT), 2) OVER w AS y2,
        |    lag(CAST(floor(value * 1e2 + 5e-1) AS BIGINT), 3) OVER w AS y3
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
        |               ORDER BY ts, event_id)
        |), p AS (
        |  SELECT symbol, day, 1 AS lag_k, y, y1 AS yl FROM r WHERE y1 IS NOT NULL
        |  UNION ALL
        |  SELECT symbol, day, 2, y, y2 FROM r WHERE y2 IS NOT NULL
        |  UNION ALL
        |  SELECT symbol, day, 3, y, y3 FROM r WHERE y3 IS NOT NULL
        |), m AS (
        |  SELECT symbol, day, lag_k, count(*) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(yl) AS BIGINT) AS sx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(yl * yl) AS BIGINT) AS sxx,
        |    CAST(sum(y * yl) AS BIGINT) AS sxy
        |  FROM p GROUP BY symbol, day, lag_k
        |)
        |SELECT symbol, day, lag_k, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |            THEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) END) AS acf
        |FROM m WHERE n >= 2""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("event_type").as("symbol"),
          col("ts").cast("date").as("day"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("y"))
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y2", lag(col("y"), 2).over(w))
        .withColumn("y3", lag(col("y"), 3).over(w))
      val p = r
        .select(col("symbol"), col("day"), col("y"),
          expr("stack(3, 1, y1, 2, y2, 3, y3)").as(Seq("lag_k", "yl")))
        .filter(col("yl").isNotNull)
      p.groupBy(col("symbol"), col("day"), col("lag_k"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("yl")).as("sx"), sum(col("y") * col("y")).as("syy"),
          sum(col("yl") * col("yl")).as("sxx"),
          sum(col("y") * col("yl")).as("sxy"))
        .filter(col("n") >= 2)
        .select(col("symbol"), col("day"), col("lag_k"), col("n"),
          (expr("CAST(n * sxy - sx * sy AS DOUBLE)") /
            expr("""CASE WHEN (n * sxx - sx * sx) > 0
                   |      AND (n * syy - sy * sy) > 0
                   |THEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                   |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) END"""
              .stripMargin)).as("acf"))
    },

    // ---- Partial autocorrelation (Durbin-Levinson) at lags 1..5 per
    //      symbol: the AR-order diagnostic q_acf can't give (ACF decays
    //      geometrically for ANY AR process; PACF cuts off exactly at
    //      the true order — the Box-Jenkins identification tool, and
    //      the general-m companion to q_ar2's fixed order). Standard
    //      biased ACF estimator on the mean-centered dollar series
    //      (integer moments: num_k = sum d_t*d_(t-k), den = sum d^2,
    //      r_k = num*1e6 div den), then the Durbin-Levinson recursion
    //      unrolled in 1e6 fixed point — every step is generated from
    //      ONE spelling shared verbatim by the Spark projections and
    //      the oracle's lateral-alias chain, so the engines cannot
    //      drift. Headroom: n * dmax^2 * 1e6 < 2^63 admits ~3.6e5 rows
    //      per symbol at dollar scale (dmax ~ 5e3); re-quantize coarser
    //      for longer series. Shape: ONE symbol exchange carries the
    //      lag windows and the moment groupBy; the recursion runs on
    //      the |symbols|-row pivoted frame ----
    QueryDef.sql(
      "q_pacf", {
        // one CTE per recursion LEVEL: a single lateral-alias chain
        // would inline each alias once per reference, and the
        // sign-dance spelling references its operand three times — the
        // expression tree then grows ~3^depth and the oracle never
        // finishes (the AlsRank1 exponential-composition finding, at
        // the SQL-expression level). Per-level CTEs keep every inline
        // depth-2: within a level, aliases reference only columns of
        // the previous CTE.
        val levels = TechQueries.durbinLevinson("//")
          .groupBy { case (n, _) => n.find(_.isDigit).get }
          .toSeq.sortBy(_._1)
        val dlCtes = levels.zipWithIndex.map { case ((_, steps), i) =>
          val prev = if (i == 0) "rr" else s"dl$i"
          val cols = steps.map { case (n, e) => s"    $e AS $n" }
            .mkString(",\n")
          s"dl${i + 1} AS (\n  SELECT *,\n$cols\n  FROM $prev\n)"
        }.mkString(", ")
        s"""WITH r0 AS (
           |  SELECT event_type AS symbol,
           |    CAST(floor(value) AS BIGINT) AS y,
           |    ts, event_id
           |  FROM events
           |), st AS (
           |  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
           |  FROM r0 GROUP BY symbol
           |), d AS (
           |  SELECT r0.symbol, st.n, r0.y - st.m AS dd,
           |    lag(r0.y - st.m, 1) OVER w AS d1,
           |    lag(r0.y - st.m, 2) OVER w AS d2,
           |    lag(r0.y - st.m, 3) OVER w AS d3,
           |    lag(r0.y - st.m, 4) OVER w AS d4,
           |    lag(r0.y - st.m, 5) OVER w AS d5
           |  FROM r0 JOIN st ON st.symbol = r0.symbol
           |  WINDOW w AS (PARTITION BY r0.symbol ORDER BY ts, event_id)
           |), mo AS (
           |  SELECT symbol, max(n) AS n,
           |    CAST(sum(dd * dd) AS BIGINT) AS den,
           |    CAST(sum(CASE WHEN d1 IS NULL THEN 0 ELSE dd * d1 END)
           |      AS BIGINT) AS q1,
           |    CAST(sum(CASE WHEN d2 IS NULL THEN 0 ELSE dd * d2 END)
           |      AS BIGINT) AS q2,
           |    CAST(sum(CASE WHEN d3 IS NULL THEN 0 ELSE dd * d3 END)
           |      AS BIGINT) AS q3,
           |    CAST(sum(CASE WHEN d4 IS NULL THEN 0 ELSE dd * d4 END)
           |      AS BIGINT) AS q4,
           |    CAST(sum(CASE WHEN d5 IS NULL THEN 0 ELSE dd * d5 END)
           |      AS BIGINT) AS q5
           |  FROM d GROUP BY symbol
           |), rr AS (
           |  SELECT symbol, n,
           |    ${TechQueries.rFp("q1", "//")} AS r1, ${TechQueries.rFp("q2", "//")} AS r2,
           |    ${TechQueries.rFp("q3", "//")} AS r3, ${TechQueries.rFp("q4", "//")} AS r4,
           |    ${TechQueries.rFp("q5", "//")} AS r5
           |  FROM mo WHERE den > 0
           |), $dlCtes
           |SELECT symbol, n, r1, r2, r3, r4, r5,
           |  p11 AS pacf1_fp, p22 AS pacf2_fp, p33 AS pacf3_fp,
           |  p44 AS pacf4_fp, p55 AS pacf5_fp
           |FROM dl${levels.size}""".stripMargin
      }
    ) { (s, d) =>
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col("ts"), col("event_id"))
      val r0 = Tables.events(s, d).select(
        col("event_type").as("symbol"),
        expr("CAST(floor(value) AS BIGINT)").as("y"),
        col("ts"), col("event_id"))
      val st = r0.groupBy(col("symbol").as("st_symbol"))
        .agg(count(lit(1)).as("n"), expr("sum(y) div count(1)").as("m"))
      val dd = r0.join(broadcast(st), col("symbol") === col("st_symbol"))
        .withColumn("dd", col("y") - col("m"))
      val lagged = (1 to 5).foldLeft(dd) { (f, k) =>
        f.withColumn(s"d$k", lag(col("dd"), k).over(w))
      }
      val mo = lagged.groupBy(col("symbol"))
        .agg(max(col("n")).as("n"),
          sum(col("dd") * col("dd")).as("den"),
          sum(expr("CASE WHEN d1 IS NULL THEN 0L ELSE dd * d1 END")).as("q1"),
          sum(expr("CASE WHEN d2 IS NULL THEN 0L ELSE dd * d2 END")).as("q2"),
          sum(expr("CASE WHEN d3 IS NULL THEN 0L ELSE dd * d3 END")).as("q3"),
          sum(expr("CASE WHEN d4 IS NULL THEN 0L ELSE dd * d4 END")).as("q4"),
          sum(expr("CASE WHEN d5 IS NULL THEN 0L ELSE dd * d5 END")).as("q5"))
        .filter(col("den") > 0)
      val rr = mo.select(col("symbol") +: col("n") +:
        (1 to 5).map(k =>
          expr(TechQueries.rFp(s"q$k", "div")).as(s"r$k")): _*)
      val dl = TechQueries.durbinLevinson("div").foldLeft(rr) { case (f, (n, e)) =>
        f.withColumn(n, expr(e))
      }
      dl.select(col("symbol"), col("n"),
        col("r1"), col("r2"), col("r3"), col("r4"), col("r5"),
        col("p11").as("pacf1_fp"), col("p22").as("pacf2_fp"),
        col("p33").as("pacf3_fp"), col("p44").as("pacf4_fp"),
        col("p55").as("pacf5_fp"))
    },

    // ---- CUSUM single-changepoint location: per symbol, the index
    //      maximizing |n*cum_t - t*total| — the integer-cleared form of
    //      argmax |cumsum(y - mean)| (multiply through by n so no
    //      division ever happens), the classic most-likely-mean-shift
    //      estimator. Complements q_mean_shift: that flags LOCAL
    //      fixed-window shifts; this locates the single global split.
    //      Shape: one (symbol) exchange carries the ordered cumsum, the
    //      full-partition totals frame, and the argmax row_number — no
    //      second shuffle, no driver collect. Exact: everything through
    //      the argmax is int64; tie-break is earliest index. Int64
    //      headroom: |d| <= n^2 * y_max — cents with y <= 5e4 admit
    //      ~13M rows per symbol; beyond that, run per time-bucket or
    //      drop to whole-currency quantization ----
    QueryDef.sql(
      "q_changepoint",
      """WITH r AS (
        |  SELECT event_type AS symbol, ts, event_id,
        |    CAST(row_number() OVER wo AS BIGINT) AS t,
        |    CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT))
        |      OVER (PARTITION BY event_type ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT))
        |      OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM events
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), s AS (
        |  SELECT symbol, ts, t, n, n * cum - t * total AS d,
        |    row_number() OVER (PARTITION BY symbol
        |      ORDER BY abs(n * cum - t * total) DESC, t ASC) AS rnk
        |  FROM r
        |)
        |SELECT symbol, n, t AS cp_t, ts AS cp_ts, d AS cusum_fp
        |FROM s WHERE rnk = 1""".stripMargin
    ) { (s, d) =>
      graft.ops.Changepoint.locate(
        Tables.events(s, d), "event_type", "ts", "event_id", "value")
    },

    // ---- Sequential CUSUM alarm ([[graft.ops.CusumAlarm]]): the ONLINE
    //      changepoint detector beside q_changepoint's retrospective
    //      argmax — two clamped one-sided deviation folds per symbol,
    //      alarm + restart on threshold. Exact int64. Oracle replays the
    //      recurrence as a recursive CTE (the q_holt pattern) ----
    QueryDef.sql(
      "q_cusum_alarm",
      s"""WITH RECURSIVE graft_series AS (
         |  SELECT event_type AS symbol, ts, event_id, value FROM events
         |),
         |${graft.ops.CusumAlarm.oracleSql()}""".stripMargin
    ) { (s, d) =>
      graft.ops.CusumAlarm.detect(
        Tables.events(s, d).select(
          col("event_type").as("symbol"), col("ts"),
          col("event_id"), col("value")))
    },

    // ---- SAX motif discovery (Lin et al. 2003): per-symbol series ->
    //      PAA means over tumbling 8-row windows -> z-normalized
    //      4-letter alphabet (Gaussian breakpoints ±0.6745, 0) ->
    //      4-letter words -> corpus-wide motif counts. The symbolic
    //      time-series index behind motif/novelty mining at scale.
    //      Cross-engine exactness: PAA means are Num fixed-point; the
    //      per-symbol moments use davg (mean) and the 2-decimal davg2
    //      (second moment — keeps sum(v^2)*1e2 inside 2^53 to ~sf100);
    //      z = (paa-mu)/sd is the identical 3-op double chain on both
    //      engines, and letters come from breakpoint COMPARISONS only,
    //      so the words are hash-exact. Scale shape: one shuffle on the
    //      symbol key for the ordered windows, then hash aggs; the
    //      4-element word assembly is a bounded sort-collect. ----
    QueryDef.sql(
      "q_sax", {
        val davgV = Num.davgSql("value")
        val davg2V2 = Num.davg2Sql("value * value")
        s"""WITH base AS (
           |  SELECT event_type AS sym, value AS v,
           |    CAST((row_number() OVER ($wOrd) - 1) // 8 AS BIGINT) AS win
           |  FROM events
           |), paa AS (
           |  SELECT sym, win, ${Num.davgSql("v")} AS paa
           |  FROM base GROUP BY sym, win HAVING count(*) = 8
           |), stats AS (
           |  SELECT event_type AS sym, $davgV AS mu, $davg2V2 AS m2
           |  FROM events GROUP BY event_type
           |), lets AS (
           |  SELECT p.sym, p.win,
           |    substr('abcd',
           |      CAST(CAST(z > -6745e-4 AS INTEGER)
           |        + CAST(z > 0e0 AS INTEGER)
           |        + CAST(z > 6745e-4 AS INTEGER) + 1 AS INTEGER),
           |      1) AS letter,
           |    CAST(p.win // 4 AS BIGINT) AS wid
           |  FROM (
           |    SELECT p.sym, p.win,
           |      (p.paa - st.mu) / sqrt(st.m2 - st.mu * st.mu) AS z
           |    FROM paa p JOIN stats st ON st.sym = p.sym
           |    WHERE st.m2 - st.mu * st.mu > 0e0) p
           |), words AS (
           |  SELECT sym, wid, string_agg(letter, '' ORDER BY win) AS sax_word
           |  FROM lets GROUP BY sym, wid HAVING count(*) = 4
           |)
           |SELECT sax_word, CAST(count(*) AS BIGINT) AS n_windows,
           |  CAST(count(DISTINCT sym) AS BIGINT) AS n_series
           |FROM words GROUP BY sax_word""".stripMargin
      }
    ) { (s, d) =>
      val e = Tables.events(s, d).select(
        col("event_type").as("sym"), col("ts"), col("event_id"),
        col("value").as("v"))
      val wn = Window.partitionBy(col("sym")).orderBy(col("ts"), col("event_id"))
      val base = e.withColumn("rn", row_number().over(wn))
        .withColumn("win", expr("cast((rn - 1) div 8 as long)"))
      val paa = base.groupBy(col("sym"), col("win"))
        .agg(Num.davg(col("v")).as("paa"), count(lit(1)).as("cnt"))
        .filter(col("cnt") === 8)
      val stats = e.groupBy(col("sym"))
        .agg(Num.davg(col("v")).as("mu"),
          Num.davg2(col("v") * col("v")).as("m2"))
        .filter(col("m2") - col("mu") * col("mu") > 0)
      val lets = paa.join(stats, "sym")
        .withColumn("z", (col("paa") - col("mu"))
          / sqrt(col("m2") - col("mu") * col("mu")))
        .select(col("sym"), col("win"),
          expr("substring('abcd', cast(z > -6745e-4 as int) " +
            "+ cast(z > 0e0 as int) + cast(z > 6745e-4 as int) + 1, 1)")
            .as("letter"),
          expr("cast(win div 4 as long)").as("wid"))
      val words = lets.groupBy(col("sym"), col("wid"))
        .agg(count(lit(1)).as("cnt"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(win, letter))), x -> x.letter), '')").as("sax_word"))
        .filter(col("cnt") === 4)
      words.groupBy(col("sax_word"))
        .agg(count(lit(1)).as("n_windows"),
          countDistinct(col("sym")).as("n_series"))
    },

    // ---- Theil-Sen robust trend slope per (symbol, day): the median of
    //      all pairwise slopes — the outlier-proof companion to
    //      q_ols_trend's least squares (one wild tick shifts OLS, not
    //      the pairwise median). All in exact integers: slope_fp =
    //      ((y2-y1)*1e4) div (x2-x1) (both engines truncate toward
    //      zero), median = the lower order statistic at rank
    //      (n_pairs+1) div 2 under (slope_fp, x1, x2) ordering — a
    //      k-th order statistic BY VALUE, so deterministic at any
    //      parallelism. Scale shape: the pair generator is the BANDED
    //      (windowed) Theil-Sen — pairs restricted to x2 - x1 <= 48,
    //      the published scalable variant — so per-group work is
    //      O(g*48), linear in the series, NOT O(g^2): the all-pairs
    //      form was measured straggling at sf1 (6.7k-row groups ->
    //      3.4e9 pairs, 20-minute single-task window sorts) and the
    //      band is the principled fix, not a cap — long-horizon pairs
    //      add little slope information and the band keeps the
    //      estimator's breakdown robustness. Equi-join on the group
    //      key, then per-group partitioned window — no global
    //      ordering anywhere ----
    QueryDef.sql(
      "q_theilsen",
      """WITH r AS (
        |  SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS x,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS y
        |  FROM events
        |), p AS (
        |  SELECT a.symbol, a.day, a.x AS x1, b.x AS x2,
        |    ((b.y - a.y) * 10000) // (b.x - a.x) AS slope_fp
        |  FROM r a JOIN r b
        |    ON a.symbol = b.symbol AND a.day = b.day
        |   AND a.x < b.x AND b.x - a.x <= 48
        |), o AS (
        |  SELECT symbol, day, slope_fp,
        |    row_number() OVER (PARTITION BY symbol, day
        |      ORDER BY slope_fp, x1, x2) AS rn,
        |    CAST(count(*) OVER (PARTITION BY symbol, day) AS BIGINT) AS np
        |  FROM p
        |)
        |SELECT symbol, day, np AS n_pairs, slope_fp AS med_slope_fp
        |FROM o WHERE rn = (np + 1) // 2""".stripMargin
    ) { (s, d) =>
      // r9 (guide §2.3 "aggregate before you shuffle"): the banded pair
      // generator is 48 window LEADS in the one per-group pass (the r8
      // self-join shuffled the series twice and post-filtered the band),
      // and the median is picked from per-(group, slope) COUNTS — the
      // k-th order statistic BY VALUE, so collapsing duplicate slopes
      // map-side before the window changes nothing about which slope_fp
      // value sits at rank (np+1) div 2 (the r8 row_number ran over
      // every pair row; the x1/x2 tie-break only ordered EQUAL slope
      // values among themselves and never changed the picked value).
      val wr = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("event_type").as("symbol"),
          col("ts").cast("date").as("day"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("y"))
        // explicit width: the group exchange carries ~1 MB, so AQE
        // coalesces it to ONE partition — but this exchange feeds a 48x
        // explode (bytes-in is not work-out), which then runs
        // single-task; pinning the session width restores the fan-out
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("symbol"), col("day"))
        // ONE sliding-frame collect (48 distinct lead() offsets would
        // each be their own frame pass); element i is the value i+1
        // rows ahead, so the divisor x2-x1 is the array position
        .withColumn("leads",
          collect_list(col("y")).over(wr.rowsBetween(1, 48)))
      val p = r
        .select(col("symbol"), col("day"), col("y"),
          posexplode(col("leads")).as(Seq("k0", "y2")))
        .select(col("symbol"), col("day"),
          expr("((y2 - y) * 10000) div (k0 + 1)").as("slope_fp"))
      val freq = p.groupBy(col("symbol"), col("day"), col("slope_fp"))
        .agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("slope_fp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy(col("symbol"), col("day"))
      freq
        .withColumn("cum", sum(col("c")).over(wcum))
        .withColumn("np", sum(col("c")).over(wall))
        .filter(expr("cum - c < (np + 1) div 2 AND (np + 1) div 2 <= cum"))
        .select(col("symbol"), col("day"), col("np").as("n_pairs"),
          col("slope_fp").as("med_slope_fp"))
    },

    // ---- Mann-Kendall trend statistic (banded): S = Σ sign(y2 − y1)
    //      and Kendall's tau = S/n_pairs over the SAME banded pair
    //      generator as q_theilsen (x2 − x1 <= 48) — the nonparametric
    //      trend TEST beside the Theil-Sen slope ESTIMATE (the two are
    //      the standard pairing: MK says "is there a trend", Theil-Sen
    //      says "how steep"). Banding keeps per-group work O(g·48);
    //      the banded variance formula differs from classic MK, so the
    //      output reports the exact S and tau rather than a z built on
    //      the wrong null — integer-exact end to end, and unlike the
    //      median pick this is ONE partial-aggregable hash agg (no
    //      window at all) ----
    QueryDef.sql(
      "q_mann_kendall",
      """WITH r AS (
        |  SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS x,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS y
        |  FROM events
        |), p AS (
        |  SELECT a.symbol, a.day,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
        |      AS sg
        |  FROM r a JOIN r b
        |    ON a.symbol = b.symbol AND a.day = b.day
        |   AND a.x < b.x AND b.x - a.x <= 48
        |)
        |SELECT symbol, day, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(sg) AS BIGINT) AS s_stat,
        |  (CAST(sum(sg) AS BIGINT) * 1000000) // count(*) AS tau_fp
        |FROM p GROUP BY symbol, day""".stripMargin
    ) { (s, d) =>
      // r9: the banded pairs are 48 window LEADS in the one per-group
      // pass (same rewrite as q_theilsen) — the self-join shuffled the
      // series twice for a pair set the window already has in order
      val wr = Window.partitionBy(col("symbol"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("symbol"),
          col("ts").cast("date").as("day"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("y"))
        // same explicit width as q_theilsen: the exchange feeds a 48x
        // explode, which AQE's byte-based coalescing runs single-task
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("symbol"), col("day"))
        .withColumn("leads",
          collect_list(col("y")).over(wr.rowsBetween(1, 48)))
        .select(col("symbol"), col("day"), col("y"),
          explode(col("leads")).as("y2"))
        .select(col("symbol"), col("day"),
          when(col("y2") > col("y"), 1L)
            .when(col("y2") < col("y"), -1L).otherwise(0L).as("sg"))
        .groupBy(col("symbol"), col("day"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("sg")).as("s_stat"),
          expr("(sum(sg) * 1000000L) div count(1)").as("tau_fp"))
    },

    // ---- Benford first-digit audit over lineitem extended prices: the
    //      classic fabricated-numbers screen (a data-quality tier row
    //      next to q_expectations/q_outliers_mad). Observed per-digit
    //      frequency vs the Benford expectation log10(1 + 1/d), both
    //      1e6 fixed-point: the expectation term is a per-digit
    //      constant floor(ln((d+1)/d)/ln(10)*1e6) (DuckDB ln and JVM
    //      log agree at the 1e-6 floor on these magnitudes — the
    //      q_char_entropy convention; none of the 9 constants sits
    //      near a floor boundary). Scale shape: ONE partial-aggregable
    //      hash agg to 9 digit rows, then a broadcast 1-row total —
    //      nothing downstream of the scan is corpus-sized ----
    QueryDef.sql(
      "q_benford",
      """WITH v AS (
        |  SELECT CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT) AS cents
        |  FROM lineitem
        |), dg AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM v WHERE cents > 0 GROUP BY 1
        |), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM dg)
        |SELECT digit, cnt,
        |  (cnt * 1000000) // total AS obs_fp,
        |  CAST(floor(ln((digit + 1) * 1e0 / digit) / ln(10e0) * 1e6)
        |    AS BIGINT) AS exp_fp,
        |  (cnt * 1000000) // total
        |    - CAST(floor(ln((digit + 1) * 1e0 / digit) / ln(10e0) * 1e6)
        |        AS BIGINT) AS dev_fp
        |FROM dg CROSS JOIN t""".stripMargin
    ) { (s, d) =>
      val dg = Tables.lineitem(s, d)
        .select(expr("CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT)")
          .as("cents"))
        .filter(col("cents") > 0)
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
      val t = dg.agg(sum(col("cnt")).as("total"))
      dg.crossJoin(broadcast(t))
        .select(col("digit"), col("cnt"),
          expr("(cnt * 1000000) div total").as("obs_fp"),
          expr("CAST(floor(ln((digit + 1) * 1e0 / digit) / ln(10e0) * 1e6) " +
            "AS BIGINT)").as("exp_fp"),
          expr("(cnt * 1000000) div total " +
            "- CAST(floor(ln((digit + 1) * 1e0 / digit) / ln(10e0) * 1e6) " +
            "AS BIGINT)").as("dev_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row global digit-count total"),

    // ---- Lead-lag cross-correlation at lags -3..+3 hours between the
    //      view and click hourly series: WHICH series moves first — the
    //      lead-lag discovery companion to q_pair_corr's contemporaneous
    //      rolling correlation. Hourly last-ticks ranked per series,
    //      then each lag matches rank r against rank r+lag via an
    //      equi-join whose left key is (r + lag) — never a band scan.
    //      Moments are exact int64 sums of 1e-3-quantized values
    //      (headroom: n * sxy bounded by hours^2 * max|x|^2 ~ 1.6e17
    //      here, int64-safe to ~1e5 hourly points at these magnitudes;
    //      the series length is wall-clock-bounded, not corpus-bound);
    //      identical int64 moments convert to identical doubles, so
    //      the final sqrt/divide agrees under the harness' 9-decimal
    //      rounding on both engines. Scale shape: the 7-row lag frame
    //      is broadcast; everything else is one partial-aggregable
    //      groupBy per lag ----
    QueryDef.sql(
      "q_xcorr",
      """WITH hourly AS (
        |  SELECT event_type, hour_ts, value FROM (
        |    SELECT event_type, date_trunc('hour', ts) AS hour_ts, value,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('view', 'click')) WHERE rn = 1
        |), ranked AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY hour_ts) AS BIGINT) AS r,
        |    CAST(floor(value * 1e3) AS BIGINT) AS x
        |  FROM hourly
        |), lags AS (
        |  SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) t(lag)
        |), j AS (
        |  SELECT l.lag, a.x AS xa, b.x AS xb
        |  FROM ranked a CROSS JOIN lags l
        |  JOIN ranked b ON b.r = a.r + l.lag
        |  WHERE a.event_type = 'view' AND b.event_type = 'click'
        |), m AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
        |    CAST(sum(xa * xa) AS BIGINT) AS sxx,
        |    CAST(sum(xb * xb) AS BIGINT) AS syy,
        |    CAST(sum(xa * xb) AS BIGINT) AS sxy
        |  FROM j GROUP BY lag
        |)
        |SELECT lag, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |            THEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) END)
        |    AS xcorr
        |FROM m WHERE n >= 2""".stripMargin
    ) { (s, d) =>
      val wHour = Window
        .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      val hourly = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
        .withColumn("rn", row_number().over(wHour))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_ts"), col("value"))
      val wr = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      val ranked = hourly
        .withColumn("r", row_number().over(wr).cast("long"))
        .select(col("event_type"),
          col("r"), floor(col("value") * lit(1e3)).cast("long").as("x"))
      val lags = s.range(-3, 4).select(col("id").cast("int").as("lag"))
      val a = ranked.filter(col("event_type") === "view")
        .crossJoin(broadcast(lags))
        .select(col("lag"), (col("r") + col("lag")).as("rk"), col("x").as("xa"))
      val b = ranked.filter(col("event_type") === "click")
        .select(col("r").as("rb"), col("x").as("xb"))
      val m = a.join(b, col("rk") === col("rb"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("xa")).as("sx"),
          sum(col("xb")).as("sy"), sum(col("xa") * col("xa")).as("sxx"),
          sum(col("xb") * col("xb")).as("syy"),
          sum(col("xa") * col("xb")).as("sxy"))
      val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val varX = col("n") * col("sxx") - col("sx") * col("sx")
      val varY = col("n") * col("syy") - col("sy") * col("sy")
      m.filter(col("n") >= 2)
        .select(col("lag"), col("n"),
          (covN / when(varX > 0 && varY > 0,
            sqrt(varX.cast("double")) * sqrt(varY.cast("double"))))
            .as("xcorr"))
    }.intendsNestedLoop(
      "broadcast side is the constant 7-row lag frame"),

    // ---- Linear-interpolation resample (pandas interpolate('linear')
    //      parity): q_gap_fill's dense hourly spine, but gaps filled by
    //      the line between the bracketing known ticks instead of
    //      carry-forward. Exact integers end-to-end: values quantized
    //      to 1e6 fp FIRST, time measured as the dense spine rank (gap
    //      width == rank difference by construction), then
    //      pv + ((nv - pv) * (t - pt)) div (nt - pt) — both engines
    //      truncate toward zero, and known rows keep their exact value
    //      (no drift through a fill). Edges (before the first / after
    //      the last known tick) stay NULL, the pandas convention.
    //      Scale shape: spine from a 5-row min/max agg exploded
    //      executor-side; both bracketing scans are O(1)/row running
    //      window passes riding ONE symbol exchange ----
    QueryDef.sql(
      "q_interp_linear",
      """WITH bounds AS (
        |  SELECT event_type,
        |    date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        |  FROM events GROUP BY event_type
        |), spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
        |  FROM bounds
        |), hourly AS (
        |  SELECT event_type, hour_ts, v_fp FROM (
        |    SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        |      CAST(floor(value * 1e6) AS BIGINT) AS v_fp,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1
        |), g AS (
        |  SELECT s.event_type, s.hour_ts, h.v_fp,
        |    CAST(row_number() OVER (PARTITION BY s.event_type
        |      ORDER BY s.hour_ts) AS BIGINT) AS t
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hour_ts = h.hour_ts
        |), b AS (
        |  SELECT event_type, hour_ts, v_fp, t,
        |    last_value(v_fp IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v_fp IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER (PARTITION BY event_type
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v_fp IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v_fp IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER (PARTITION BY event_type
        |      ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM g
        |)
        |SELECT event_type, hour_ts, v_fp AS last_tick_fp,
        |  CASE WHEN v_fp IS NOT NULL THEN v_fp
        |       WHEN pv IS NULL OR nv IS NULL THEN NULL
        |       ELSE pv + ((nv - pv) * (t - pt)) // (nt - pt) END AS interp_fp,
        |  CAST(v_fp IS NULL AS BIGINT) AS is_gap
        |FROM b""".stripMargin
    ) { (s, d) =>
      val events = Tables.events(s, d)
      val spine = events
        .groupBy(col("event_type"))
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(col("event_type"),
          explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour_ts"))
      val wHour = Window
        .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      val hourly = events
        .withColumn("rn", row_number().over(wHour))
        .filter(col("rn") === 1)
        .select(col("event_type").as("h_type"),
          date_trunc("hour", col("ts")).as("h_hour"),
          floor(col("value") * lit(1e6)).cast("long").as("v_fp"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, 0)
      val wNext = wOrd.rowsBetween(0, Window.unboundedFollowing)
      spine
        .join(hourly,
          col("event_type") === col("h_type") && col("hour_ts") === col("h_hour"),
          "left")
        .select(col("event_type"), col("hour_ts"), col("v_fp"))
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("pv", last(col("v_fp"), ignoreNulls = true).over(wPrev))
        .withColumn("pt", last(when(col("v_fp").isNotNull, col("t")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v_fp"), ignoreNulls = true).over(wNext))
        .withColumn("nt", first(when(col("v_fp").isNotNull, col("t")),
          ignoreNulls = true).over(wNext))
        .select(col("event_type"), col("hour_ts"),
          col("v_fp").as("last_tick_fp"),
          expr("""CASE WHEN v_fp IS NOT NULL THEN v_fp
                 |     WHEN pv IS NULL OR nv IS NULL THEN NULL
                 |     ELSE pv + ((nv - pv) * (t - pt)) div (nt - pt)
                 |END""".stripMargin).as("interp_fp"),
          col("v_fp").isNull.cast("long").as("is_gap"))
    },

    // ---- Longest up-tick streaks per symbol (gaps-and-islands): the
    //      momentum-persistence diagnostic, and the canonical
    //      consecutive-runs operator family (sessionization's
    //      row-adjacency twin). Island id = rn − rank-among-up-rows —
    //      constant along each maximal run of strict up-ticks
    //      (value > prev; ties and the first row break runs). All
    //      integer set algebra on TWO windows + one agg riding the
    //      SAME symbol exchange; streak rows collapse to per-symbol
    //      (max, count>=3) scalars ----
    QueryDef.sql(
      "q_streak",
      """WITH t AS (
        |  SELECT event_type AS symbol, ts, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS rn,
        |    CASE WHEN value > lag(value) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) THEN 1 ELSE 0 END AS up
        |  FROM events
        |), u AS (
        |  SELECT symbol, rn,
        |    rn - CAST(row_number() OVER (PARTITION BY symbol
        |      ORDER BY rn) AS BIGINT) AS grp
        |  FROM t WHERE up = 1
        |), runs AS (
        |  SELECT symbol, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM u GROUP BY symbol, grp
        |)
        |SELECT symbol, max(len) AS max_streak,
        |  CAST(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_streaks_ge3
        |FROM runs GROUP BY symbol""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("symbol")).orderBy(col("ts"), col("event_id"))
      val t = Tables.events(s, d)
        .select(col("event_type").as("symbol"), col("ts"), col("event_id"),
          col("value"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("up",
          when(col("value") > lag(col("value"), 1).over(w), 1).otherwise(0))
      val wu = Window.partitionBy(col("symbol")).orderBy(col("rn"))
      val runs = t.filter(col("up") === 1)
        .withColumn("grp", col("rn") - row_number().over(wu).cast("long"))
        .groupBy(col("symbol"), col("grp"))
        .agg(count(lit(1)).as("len"))
      runs.groupBy(col("symbol"))
        .agg(max(col("len")).as("max_streak"),
          sum(when(col("len") >= 3, 1L).otherwise(0L)).as("n_streaks_ge3"))
    },

    // ---- Sharpe ratio per symbol (risk-free rate 0): mean over std of
    //      per-tick simple returns — THE risk-adjusted-performance
    //      scalar next to q_max_drawdown. Returns are exact integers
    //      r_fp = ((c - prev) * 1e6) div prev over cents, WINSORIZED
    //      the standard way: sub-$1 prevs excluded (penny-tick ratio
    //      blowups) and r clamped to +-100% — the synthetic feed jumps
    //      orders of magnitude tick-to-tick, and unclamped r^2 sums
    //      overflow int64 (found by the ANSI overflow gate, loudly).
    //      Post-clamp headroom: n * 1e12 < 2^63 -> ~9e6 ticks/symbol.
    //      The final mean/sqrt(var) runs in identical-textual-op-order
    //      doubles, 1e4 fp. One symbol exchange: lag window + moment
    //      groupBy ride it together ----
    QueryDef.sql(
      "q_sharpe",
      """WITH c AS (
        |  SELECT event_type AS symbol, ts, event_id,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents
        |  FROM events
        |), r AS (
        |  SELECT symbol,
        |    greatest(-1000000, least(1000000,
        |      ((cents - pc) * 1000000) // pc)) AS r_fp
        |  FROM (
        |    SELECT symbol, cents,
        |      lag(cents) OVER (PARTITION BY symbol ORDER BY ts, event_id) AS pc
        |    FROM c)
        |  WHERE pc >= 100
        |), m AS (
        |  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r_fp) AS BIGINT) AS s,
        |    CAST(sum(r_fp * r_fp) AS BIGINT) AS s2
        |  FROM r GROUP BY symbol
        |)
        |SELECT symbol, n,
        |  CASE WHEN n >= 2 AND CAST(s2 AS DOUBLE) / n
        |            - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0e0
        |  THEN CAST(floor(CAST(s AS DOUBLE) / n
        |    / sqrt(CAST(s2 AS DOUBLE) / n
        |           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        |    * 1e4) AS BIGINT)
        |  END AS sharpe_fp
        |FROM m""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("symbol")).orderBy(col("ts"), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("event_type").as("symbol"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("cents"))
        .withColumn("pc", lag(col("cents"), 1).over(w))
        .filter(col("pc") >= 100)
        .select(col("symbol"),
          expr("greatest(-1000000, least(1000000, " +
            "((cents - pc) * 1000000) div pc))").as("r_fp"))
      r.groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"), sum(col("r_fp")).as("s"),
          sum(col("r_fp") * col("r_fp")).as("s2"))
        .select(col("symbol"), col("n"),
          expr("""CASE WHEN n >= 2 AND CAST(s2 AS DOUBLE) / n
                 |          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                 |          > 0e0
                 |THEN CAST(floor(CAST(s AS DOUBLE) / n
                 |  / sqrt(CAST(s2 AS DOUBLE) / n
                 |         - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                 |  * 1e4) AS BIGINT)
                 |END""".stripMargin).as("sharpe_fp"))
    },

    // ---- Spearman rank correlation of the view/click hourly series:
    //      the monotone-association companion to q_pair_corr's Pearson
    //      (robust to the feed's order-of-magnitude value jumps that
    //      dominate a product-moment estimate). Same hourly-last
    //      pairing; each side ranked by Kruskal's doubled tie-average
    //      ranks off its own distinct-value grid (rank windows are
    //      value-range-bounded, never the joined series); ρ = Pearson
    //      of the doubled ranks — the doubling cancels — in the exact
    //      int64 moment form, ONE double chain at the end. Positive-
    //      variance guards are exact integer predicates. Headroom:
    //      r2 ≤ 2n so n·Σab ≤ 4n⁴ — int64 through n ≈ 3.8e4 joined
    //      buckets (4+ years hourly); re-bucket daily beyond ----
    QueryDef.sql(
      "q_spearman",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour_ts, value
        |  FROM (
        |    SELECT event_type, ts, value,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('view', 'click')) WHERE rn = 1
        |), joined AS (
        |  SELECT a.hour_ts,
        |    CAST(floor(a.value * 1e3) AS BIGINT) AS xa,
        |    CAST(floor(b.value * 1e3) AS BIGINT) AS xb
        |  FROM hourly a JOIN hourly b ON a.hour_ts = b.hour_ts
        |  WHERE a.event_type = 'view' AND b.event_type = 'click'
        |), ga AS (
        |  SELECT xa AS v, CAST(count(*) AS BIGINT) AS cv
        |  FROM joined GROUP BY xa
        |), rka AS (
        |  SELECT v, 2 * CAST(sum(cv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - cv + 1 AS r2
        |  FROM ga
        |), gb AS (
        |  SELECT xb AS v, CAST(count(*) AS BIGINT) AS cv
        |  FROM joined GROUP BY xb
        |), rkb AS (
        |  SELECT v, 2 * CAST(sum(cv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - cv + 1 AS r2
        |  FROM gb
        |), rnk AS (
        |  SELECT ra.r2 AS a, rb.r2 AS b
        |  FROM joined j
        |  JOIN rka ra ON j.xa = ra.v
        |  JOIN rkb rb ON j.xb = rb.v
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |    CAST(sum(a * a) AS BIGINT) AS saa,
        |    CAST(sum(b * b) AS BIGINT) AS sbb,
        |    CAST(sum(a * b) AS BIGINT) AS sab
        |  FROM rnk
        |)
        |SELECT n,
        |  CAST(floor((1e0 * n * sab - 1e0 * sa * sb)
        |    / (sqrt(1e0 * n * saa - 1e0 * sa * sa)
        |       * sqrt(1e0 * n * sbb - 1e0 * sb * sb)) * 1e6) AS BIGINT)
        |    AS rho_fp
        |FROM m
        |WHERE n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0""".stripMargin
    ) { (s, d) =>
      val wHour = Window
        .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      val hourly = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
        .withColumn("rn", row_number().over(wHour))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_ts"), col("value"))
      val a = hourly.filter(col("event_type") === "view")
        .select(col("hour_ts"),
          floor(col("value") * lit(1e3)).cast("long").as("xa"))
      val b = hourly.filter(col("event_type") === "click")
        .select(col("hour_ts").as("hb"),
          floor(col("value") * lit(1e3)).cast("long").as("xb"))
      val joined = a.join(b, col("hour_ts") === col("hb"))
        .select(col("xa"), col("xb"))
      def rankGrid(src: DataFrame, c: String): DataFrame = {
        val wCum = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        src.groupBy(col(c).as("v")).agg(count(lit(1)).as("cv"))
          .withColumn("cc", sum(col("cv")).over(wCum))
          .select(col("v"), (lit(2) * col("cc") - col("cv") + 1).as("r2"))
      }
      val rnk = joined
        .join(rankGrid(joined, "xa").withColumnRenamed("r2", "a"),
          col("xa") === col("v")).drop("v")
        .join(rankGrid(joined, "xb").withColumnRenamed("r2", "b"),
          col("xb") === col("v")).drop("v")
      rnk.agg(count(lit(1)).as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"),
          sum(col("a") * col("a")).as("saa"),
          sum(col("b") * col("b")).as("sbb"),
          sum(col("a") * col("b")).as("sab"))
        .filter(col("n") * col("saa") - col("sa") * col("sa") > 0 &&
          col("n") * col("sbb") - col("sb") * col("sb") > 0)
        .select(col("n"),
          expr("""CAST(floor((1e0 * n * sab - 1e0 * sa * sb)
                 |  / (sqrt(1e0 * n * saa - 1e0 * sa * sa)
                 |     * sqrt(1e0 * n * sbb - 1e0 * sb * sb)) * 1e6)
                 |  AS BIGINT)""".stripMargin).as("rho_fp"))
    }.intendsGlobalWindow(
      "the rank windows run on each side's distinct-value grid — " +
        "value-range-bounded, never the joined series"),

    // ---- Croston intermittent-demand forecast (see ops.Croston): the
    //      sparse-series counterpart to q_holt — per-part daily demand
    //      is mostly-zero (TPC-H parts order ~30 times over ~2400 days),
    //      where plain EWMA decays to zero between demands. Croston
    //      smooths demand SIZE and inter-arrival INTERVAL separately at
    //      demand points only; forecast = size/interval rate. Exact
    //      int64 (alpha = 1/4 as integer shifts); oracle replays the
    //      recurrence as a recursive CTE. Scale shape: one shuffle on
    //      the part key + an O(1)-state ordered fold — no window over
    //      the dense calendar, the zero periods are never materialized ----
    QueryDef.sql(
      "q_croston",
      s"""WITH RECURSIVE graft_demand AS (
         |  SELECT l.l_partkey AS series,
         |    CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
         |      AS dd,
         |    CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  GROUP BY 1, 2
         |),
         |${graft.ops.Croston.oracleSql}""".stripMargin
    ) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
      val demand = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_partkey").as("series"),
          expr("datediff(to_date(o_orderdate), DATE '1970-01-01')")
            .cast("long").as("dd"))
        .agg(sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("q"))
      graft.ops.Croston.forecast(demand)
    }
  )
}
