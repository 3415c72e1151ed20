package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The polling ingest source (S1 in SURVEY.md §2.1) as a REAL Structured
  * Streaming source — the engine-side equivalent of the reference's
  * poll-loop service (/root/reference/services/data-ingestion/app/
  * ingest.py:60-121), re-expressed as a DataSource V2 `MicroBatchStream`
  * instead of a hand-rolled while/sleep loop.
  *
  * Design (the Kafka-source shape, not the socket-source shape):
  *   - the endpoint is CURSORED: a [[Poller]] exposes `end()` (current
  *     frontier) and `fetch(since, max)` (records after a cursor). HTTP
  *     feeds with a `since`/page parameter, growing files, and replay
  *     logs all fit this contract;
  *   - offsets ARE endpoint cursors, checkpointed by Spark's offset log.
  *     Restart replays `[committed, end)` straight from the endpoint —
  *     no driver-side buffer to lose, exactly-once into the engine;
  *   - `latestOffset` (driver, per trigger) only asks the frontier; the
  *     records themselves are fetched EXECUTOR-side by the partition
  *     readers, each owning a disjoint cursor range. Admission control
  *     (`maxPerPoll`) caps a micro-batch, so a backlogged endpoint
  *     drains in bounded batches instead of one giant one.
  *
  * At scale nothing accumulates on the driver: state is two longs per
  * stream (cursor frontier + committed), and a batch's data volume is
  * bounded by `maxPerPoll` records split over `numPartitions` readers.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-poll")
  *     .option("poller", classOf[JsonlFeedPoller].getName)
  *     .option("path", "/data/feed.jsonl")
  *     .option("maxPerPoll", "5000")
  *     .load()                    // offset BIGINT, value STRING
  *     .transform(StreamingIndicators.decodeCandleJson(_).toDF())
  * }}}
  */
object PollSource {
  /** Output schema: the endpoint cursor of each record + its raw payload
    * (decode downstream with `decodeCandleJson`, S3).
    */
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** `.format(...)` short name (also registered via META-INF/services). */
  val format = "graft-poll"

  /** A cursored record endpoint. Implementations must be Serializable
    * (readers fetch executor-side) and deterministic for a given cursor
    * range while that range is retained — the replay contract that makes
    * checkpoint recovery exactly-once.
    */
  trait Poller extends Serializable {
    /** Current frontier: records exist at cursors `[0, end)`. */
    def end(): Long
    /** Records at cursors `[since, since + max)`, in cursor order; fewer
      * iff the frontier is nearer.
      */
    def fetch(since: Long, max: Int): Seq[String]
  }

  /** Reflective poller construction through its
    * `(java.util.Map[String,String])` constructor, which gets all reader
    * options.
    */
  private[sources] def instantiate(
      className: String, options: util.Map[String, String]): Poller =
    try Class.forName(className)
      .getConstructor(classOf[util.Map[String, String]])
      .newInstance(options).asInstanceOf[Poller]
    catch {
      case _: NoSuchMethodException =>
        throw new IllegalArgumentException(s"graft-poll: poller $className " +
          "needs a public (java.util.Map[String, String]) constructor")
    }
}

/** A [[PollSource.Poller]] over a line-delimited file that only ever
  * grows (a feed dump being tailed): cursor = line number. The file must
  * be visible from the executors (shared FS), like any Spark input.
  */
class JsonlFeedPoller(options: util.Map[String, String])
    extends PollSource.Poller {
  private val path = {
    val p = options.get("path")
    require(p != null, "JsonlFeedPoller requires option 'path'")
    p
  }
  private def lines(): Iterator[String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
  override def end(): Long = lines().size.toLong
  override def fetch(since: Long, max: Int): Seq[String] =
    lines().slice(since.toInt, since.toInt + max).toSeq
}

/** Cursor offset: serialized as the bare number. */
case class PollOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** One executor task's slice of a micro-batch: fetch `[start, start +
  * count)` from the endpoint. Carries the (serializable) poller so the
  * fetch happens where the rows are consumed.
  */
case class PollInputPartition(
    start: Long, count: Int, poller: PollSource.Poller)
    extends InputPartition

class PollPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PollInputPartition]
    new PartitionReader[InternalRow] {
      private val recs = p.poller.fetch(p.start, p.count).iterator
      private var i = p.start - 1
      private var current: String = _
      override def next(): Boolean = {
        if (!recs.hasNext) return false
        current = recs.next(); i += 1; true
      }
      override def get(): InternalRow =
        new GenericInternalRow(
          Array[Any](i, UTF8String.fromString(current)))
      override def close(): Unit = ()
    }
  }
}

class PollMicroBatchStream(
    poller: PollSource.Poller,
    maxPerPoll: Int,
    numPartitions: Int,
    startFromLatest: Boolean)
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset =
    PollOffset(if (startFromLatest) poller.end() else 0L)

  override def deserializeOffset(json: String): Offset =
    PollOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerPoll)

  /** The frontier the last [[latestOffset]] probe saw. */
  @volatile private var probed: Option[Long] = None

  /** One endpoint-frontier probe per trigger, capped by the read limit —
    * the "poll" of the poll loop.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[PollOffset].n
    val e = poller.end()
    probed = Some(e)
    val capped = limit match {
      case r: ReadMaxRows => math.min(e, s + r.maxRows())
      case _: ReadAllAvailable => e
      case _ => e
    }
    PollOffset(math.max(s, capped))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  /** Spark asks this right after [[latestOffset]] in the same trigger: the
    * frontier that call probed, so a trigger is one request to the endpoint.
    */
  override def reportLatestOffset(): Offset = PollOffset(probed.getOrElse(poller.end()))

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PollOffset].n
    val e = end.asInstanceOf[PollOffset].n
    val total = (e - s).toInt
    if (total <= 0) return Array.empty
    val per = math.max(1, math.ceil(total.toDouble / numPartitions).toInt)
    (s until e by per).map { lo =>
      PollInputPartition(lo, math.min(per, (e - lo).toInt), poller)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PollPartitionReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class PollScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = PollSource.schema
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream = {
    val pollerClass = options.get("poller")
    require(pollerClass != null,
      "graft-poll requires option 'poller' (FQCN of a PollSource.Poller)")
    new PollMicroBatchStream(
      PollSource.instantiate(pollerClass, options.asCaseSensitiveMap()),
      maxPerPoll = options.getInt("maxPerPoll", 1000),
      numPartitions = options.getInt("numPartitions", 1),
      startFromLatest =
        options.getOrDefault("startingOffset", "earliest") == "latest")
  }
}

class PollTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-poll(${options.get("poller")})"
  override def schema(): StructType = PollSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = new PollScan(options) }
}

/** `spark.readStream.format("graft-poll")` entry point. */
class PollSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = PollSource.format
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PollSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PollTable(new CaseInsensitiveStringMap(properties))
}
