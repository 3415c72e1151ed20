package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{Candle, EnrichedCandle}

/** Streaming replacement for the reference's driver-side recompute-all loop
  * (/root/reference/services/stream-processing/app/consumer.py:160-223).
  *
  * The reference appends every micro-batch to an unbounded pandas DataFrame
  * and recomputes ALL indicators over the FULL history each batch — O(total
  * history) per batch on one process, state lost on restart. Here the same
  * emitted values come from O(1)-per-key incremental state on Spark's
  * checkpointed state store:
  *
  *   - state per symbol = previous close, EMA accumulator, observation
  *     count, last-5 closes, last-10 defined gains/losses — a few hundred
  *     bytes regardless of history length;
  *   - the same state holds the symbol's seen event times above the
  *     watermark, replacing the reference's in-memory `already_sent` set
  *     (consumer.py:27-28,199-205) with a bounded, fault-tolerant dedup (the
  *     reference re-emits everything after restart; we do not). Dedup and
  *     fold are one stateful operator: one shuffle and one state-store
  *     commit per micro-batch;
  *   - partitioned by symbol via `groupByKey` — scales horizontally with
  *     executors, unlike the single-process pandas loop.
  *
  * CONTRACT (golden-tested): for ordered, on-time input the streaming output
  * is bit-identical to the batch `graft.ops.Indicators.enrich` pipeline.
  */
object StreamingIndicators {

  /** Per-symbol incremental state. `gains`/`losses` hold only *defined*
    * gains (the first row of a key has null delta, hence no gain); pandas'
    * rolling(10, min_periods=10) over the gain column is null exactly while
    * the 10-row window still covers that first row, i.e. until obs >= 11.
    * `seen` is the dedup set of [[pipeline]]: the symbol's folded
    * `local_time`s above the watermark, in microseconds, ascending. `step`
    * leaves it empty; `advanceGroup` owns it.
    */
  case class IndState(
      prevClose: Option[Double],
      ema: Option[Double],
      obs: Int,
      closes: Array[Double],
      gains: Array[Double],
      losses: Array[Double],
      seen: Array[Long] = Array.empty)

  private val alpha = 2.0 / 11.0

  /** Advance state by one candle, producing the enriched row. */
  def step(st: IndState, c: Candle): (IndState, EnrichedCandle) = {
    val x = c.close
    val obs = st.obs + 1
    val closes = (st.closes :+ x).takeRight(5)
    val sma5 = if (closes.length == 5) Some(closes.sum / 5.0) else None
    val emaAcc = st.ema match {
      case None    => x
      case Some(e) => (1 - alpha) * e + alpha * x
    }
    val ema10 = if (obs >= 10) Some(emaAcc) else None
    val delta = st.prevClose.map(x - _)
    // greatest(d, 0.0) in Spark/DuckDB keeps the FIRST arg on ties, so a
    // zero delta yields loss = -0.0 (like pandas -delta.clip(upper=0));
    // math.max would normalize to +0.0 and break bit-parity with batch
    val gain = delta.map(d => if (d >= 0.0) d else 0.0)
    val loss = delta.map { d => val n = -d; if (n >= 0.0) n else 0.0 }
    val gains = (st.gains ++ gain).takeRight(10)
    val losses = (st.losses ++ loss).takeRight(10)
    val avgGain = if (obs >= 11) Some(gains.sum / 10.0) else None
    val avgLoss = if (obs >= 11) Some(losses.sum / 10.0) else None
    val rs = for (g <- avgGain; l <- avgLoss if l != 0.0) yield g / l
    val rsi = rs.map(r => 100.0 - 100.0 / (1.0 + r))
    val signal = (sma5, ema10, rsi) match {
      case (Some(s), Some(e), Some(r)) =>
        if (s > e && r < 70.0) "BUY"
        else if (s < e && r > 30.0) "SELL"
        else "HOLD"
      case _ => "HOLD"
    }
    val out = EnrichedCandle(
      c.stock_symbol, c.local_time, c.open, c.high, c.low, c.close, c.volume,
      sma5, ema10, delta, gain, loss, avgGain, avgLoss, rs, rsi, signal)
    (IndState(Some(x), Some(emaAcc), obs, closes, gains, losses), out)
  }

  val emptyState: IndState =
    IndState(None, None, 0, Array.empty, Array.empty, Array.empty)

  /** Event time in microseconds, as Spark stores it: rows in the same
    * millisecond stay distinct, as they are for `dropDuplicates`.
    */
  private def micros(t: java.sql.Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)

  /** Total order on candles within a (symbol, batch) slice: time first,
    * then the payload, so equal-timestamp rows fold in a deterministic
    * order regardless of shuffle arrival.
    */
  private def candleSortKey(c: Candle) =
    (micros(c.local_time), c.close, c.open, c.high, c.low, c.volume)

  /** Fold one symbol's micro-batch slice into its state. Rows within a
    * micro-batch arrive unordered, so the slice is sorted first (cross-batch
    * order is the source's responsibility). With `dedup`, a row whose time
    * is already in `seen` is dropped, so the first delivery wins; among
    * re-sends within one batch the smallest by `candleSortKey` wins. `seen`
    * is then trimmed to times above the watermark, where the dedup state of
    * `dropDuplicates` is evicted too; Spark's late-row filter drops anything
    * older before it reaches here.
    */
  private def advanceGroup(dedup: Boolean)(
      key: String,
      rows: Iterator[Candle],
      state: GroupState[IndState]): Iterator[EnrichedCandle] = {
    var st = state.getOption.getOrElse(emptyState)
    val seen = mutable.HashSet.from(st.seen)
    val sorted = rows.toSeq.sortBy(candleSortKey)
    val fresh = if (dedup) sorted.filter(c => seen.add(micros(c.local_time))) else sorted
    val out = fresh.map { c =>
      val (next, enriched) = step(st, c)
      st = next
      enriched
    }
    if (dedup) {
      val wm = state.getCurrentWatermarkMs() * 1000L
      st = st.copy(seen = seen.iterator.filter(_ > wm).toArray.sorted)
    }
    state.update(st)
    out.iterator
  }

  /** Candle stream -> enriched stream (append mode), incremental state,
    * no dedup and no watermark.
    */
  def enrichStream(candles: Dataset[Candle]): Dataset[EnrichedCandle] =
    fold(candles, dedup = false)

  /** Full pipeline: watermark -> one stateful operator that drops late rows
    * and re-sends of a seen (symbol, local_time), then folds the rest.
    * Emits exactly what `dropDuplicates("stock_symbol", "local_time")`
    * followed by [[enrichStream]] emits under the same watermark.
    */
  def pipeline(candles: Dataset[Candle], watermark: String = "1 hour")
      : Dataset[EnrichedCandle] =
    fold(candles.withWatermark("local_time", watermark), dedup = true)

  private def fold(candles: Dataset[Candle], dedup: Boolean): Dataset[EnrichedCandle] = {
    val spark = candles.sparkSession
    import spark.implicits._
    // EventTimeTimeout (no timeout is ever set) is what makes Spark apply
    // the late-row filter of `dropDuplicates` here: rows at or below the
    // previous batch's watermark are dropped before the fold. It needs a
    // watermark, which only `pipeline` sets.
    val timeout = if (dedup) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    candles
      .groupByKey(_.stock_symbol)
      .flatMapGroupsWithState[IndState, EnrichedCandle](
        OutputMode.Append, timeout)(advanceGroup(dedup))
  }

  /** Persist the enriched stream into the day-partitioned store — the
    * replacement for the reference's row-at-a-time QuestDB sinks (K4/K5,
    * kafka-to-questdb/consumer.py:60-80). Uses the NATIVE parquet
    * streaming sink (not foreachBatch + blind append, which is only
    * at-least-once on micro-batch replay): the sink's file manifest
    * commits atomically with the checkpoint epoch, so replayed batches
    * never double-write. Checkpoint files go through
    * [[LocalCheckpointFileManager]] unless the session names its own
    * manager. Returns the started query.
    */
  def sinkToStore(
      enriched: Dataset[EnrichedCandle],
      storePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val conf = enriched.sparkSession.conf
    if (conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    enriched
      .withColumn(graft.sources.PartitionedStore.PartitionCol,
        to_date(col("local_time")))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", checkpoint)
      .partitionBy(graft.sources.PartitionedStore.PartitionCol)
      .start()
  }

  /** Kafka-sink projection: key = symbol, value = JSON of all 17 fields —
    * the reference's output_topic record shape (consumer.py:211-219).
    */
  def toKafkaFrame(enriched: Dataset[EnrichedCandle]): DataFrame =
    enriched.select(
      col("stock_symbol").as("key"),
      to_json(struct(col("*"))).as("value"))

  /** The reference's input decode (S3): Kafka value bytes -> Candle columns
    * (consumer.py:254-256 with the schema at consumer.py:235-243).
    */
  def decodeCandleJson(raw: DataFrame): Dataset[Candle] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[Candle].schema
    raw
      .select(from_json(col("value").cast("string"), schema).as("data"))
      .select("data.*")
      .as[Candle]
  }
}
