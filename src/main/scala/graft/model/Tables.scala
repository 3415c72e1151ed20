package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed row of the reference's candle wire record
  * (/root/reference/services/data-ingestion/app/ingest.py:89-97, decode
  * schema consumer.py:235-243).
  */
case class Candle(
    stock_symbol: String,
    local_time: java.sql.Timestamp,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Double)

/** Enriched record — candle + 10 indicator columns + signal, mirroring the
  * reference's `stock_data` table (/root/reference/db/init_questdb.sql:1-21).
  */
case class EnrichedCandle(
    stock_symbol: String,
    local_time: java.sql.Timestamp,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Double,
    sma_5: Option[Double],
    ema_10: Option[Double],
    delta: Option[Double],
    gain: Option[Double],
    loss: Option[Double],
    avg_gain_10: Option[Double],
    avg_loss_10: Option[Double],
    rs: Option[Double],
    rsi_10: Option[Double],
    signal: String)

/** Loaders for the driver-provided parquet tables (TESTDATA.md). All reads
  * are plain parquet scans so Catalyst can push filters/prune columns; the
  * schema comes from one footer read on the driver
  * ([[graft.sources.ParquetOpen]]), so opening a table runs no Spark job.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.ParquetOpen(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has changed physical type across driver testdata
    * generations: TIMESTAMP(NANOS) in rounds 1-3 (which Spark's vectorized
    * reader rejects — read as raw nanos and truncate to µs, matching what
    * DuckDB surfaces), plain TIMESTAMP(MICROS) from round 4 (which Spark
    * infers as TIMESTAMP_NTZ — cast to the session-zone TimestampType so
    * every downstream query sees the exact type the nanos path produced;
    * the session is pinned UTC, so the wall-clock value is unchanged).
    * Adapt on the observed schema so either generation loads identically.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType => // µs, no zone marker
        raw.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case other => // fail LOUDLY: a silent cast would corrupt every query
        sys.error(s"events.ts has unsupported physical type $other — " +
          "extend Tables.events for this testdata generation")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
