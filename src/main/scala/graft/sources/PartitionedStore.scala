package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical at-rest storage for enriched time-series data: Parquet
  * partitioned by a derived date column — our replacement for the
  * reference's QuestDB table `stock_data` with `TIMESTAMP(local_time)
  * PARTITION BY DAY` (/root/reference/db/init_questdb.sql:20-21) and its
  * row-at-a-time ILP/psycopg2 sinks
  * (/root/reference/services/kafka-to-questdb/consumer.py:60-80).
  *
  * Scale design:
  *   - day partitions (`trade_date=YYYY-MM-DD/`) give static AND dynamic
  *     partition pruning for every time-range query in the workload
  *     (SURVEY.md §2.3 P4/P7) — a 1-hour dashboard query touches one
  *     partition out of years of history;
  *   - within a partition, files are written sorted by (symbol, time) so
  *     Parquet min/max row-group stats make symbol-equality predicates
  *     (P3) skip row groups without a dedicated index;
  *   - writes append whole files (columnar, compressed), never
  *     row-at-a-time; `MaxRecordsPerFile` bounds file size so a 1000-
  *     executor scan parallelizes evenly.
  *
  * Rows carry the reference's `stock_data` columns: `local_time` (the
  * designated timestamp) and `stock_symbol`.
  */
object PartitionedStore {

  val PartitionCol = "trade_date"
  private val TimeCol = "local_time"
  private val SymbolCol = "stock_symbol"
  private val MaxRecordsPerFile = 5000000L

  /** Append `df` to `path`, day-partitioned by `date(local_time)`.
    *
    * `repartition(partition, bucket-ish key)` before the write avoids the
    * small-files problem: each task writes to few partitions instead of
    * every task writing a sliver of every day.
    */
  def write(df: DataFrame, path: String): Unit = {
    df.withColumn(PartitionCol, to_date(col(TimeCol)))
      .repartition(col(PartitionCol), col(SymbolCol))
      .sortWithinPartitions(col(SymbolCol), col(TimeCol))
      .write
      .mode("append")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy(PartitionCol)
      .parquet(path)
  }

  /** Scan the store. Filters on `trade_date` prune partitions; filters on
    * the symbol column push down to Parquet row-group stats.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a store accumulated through many small appends (the
    * streaming-sink pattern: every micro-batch writes a file per
    * partition, and a day of 1-minute triggers leaves ~1440 slivers per
    * day) into `ceil(bytes / targetFileBytes)` right-sized files,
    * rewritten to `dst`. Sizing uses the source's ON-DISK byte count via
    * the Hadoop FileSystem API, so the same call works on HDFS/S3A at
    * cluster scale; range-partitioning on (day, symbol, time) keeps the
    * rewritten files sorted for row-group skipping, same as `write`.
    * Rewrites to a NEW path on purpose — swap-on-success beats an
    * in-place overwrite that can destroy the store on a mid-job failure.
    */
  def compactInto(
      spark: SparkSession,
      src: String,
      dst: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    read(spark, src)
      .repartitionByRange(files, col(PartitionCol), col(SymbolCol), col(TimeCol))
      .sortWithinPartitions(col(SymbolCol), col(TimeCol))
      .write
      .mode("overwrite")
      .partitionBy(PartitionCol)
      .parquet(dst)
  }

  /** Time-range scan with explicit partition pruning: adds the
    * `trade_date` bounds implied by a `local_time` interval so the planner
    * prunes directories even when the caller filters on the (finer)
    * timestamp column.
    */
  def readRange(
      spark: SparkSession,
      path: String,
      start: java.sql.Timestamp,
      end: java.sql.Timestamp): DataFrame =
    read(spark, path)
      .filter(
        col(PartitionCol).between(to_date(lit(start)), to_date(lit(end))) &&
          col(TimeCol).between(lit(start), lit(end)))
}
