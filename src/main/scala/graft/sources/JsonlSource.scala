package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Batch DataSource V2 for JSONL event files with REAL scan-level
  * pushdown — the batch sibling of [[PollSource]]'s micro-batch stream
  * (reference ingest shape: services/ingestion/app/ingest.py writes
  * exactly such JSON records):
  *
  *  - '''column pruning''' (`SupportsPushDownRequiredColumns`): the
  *    reader materializes ONLY the pruned schema's fields — a 2-column
  *    projection never builds the other columns' values;
  *  - '''filter pushdown''' (`SupportsPushDownV2Filters` — the V2
  *    predicate API, REQUIRED for composing with aggregate pushdown;
  *    V1 Filter pushdown is advisory so Spark refuses the combination):
  *    comparison + null predicates evaluate on the PARSED LINE before a
  *    row is built — filtered rows cost one JSON parse, no row
  *    materialization, no downstream CPU (accepted predicates leave
  *    the residual; IS_NOT_NULL matters — Spark derives it from every
  *    comparison, and an untranslated residual Filter node blocks the
  *    aggregate-pushdown pattern);
  *  - '''aggregate pushdown''' (`SupportsPushDownAggregates`, PARTIAL):
  *    count/sum/min/max over long columns with group-by columns — each
  *    file's reader hash-aggregates its own lines and emits one row per
  *    group (output layout [group cols ++ agg buffers]); Spark plans
  *    the final merge, and avg arrives pre-decomposed as sum+count.
  *    The map-side combine moves INTO the source: only #groups rows
  *    per file reach Spark;
  *  - '''partition planning''': one `InputPartition` per file —
  *    parallelism scales with the file count, the layout contract
  *    [[PartitionedStore]] maintains.
  *
  * The source is read-only and batch-only: pushdown is what Spark's
  * built-in `json` source lacks, everything else is Spark's. Files are
  * written with `df.write.json(dir)` (the reader lists `*.json`, so
  * Spark's `part-*.json` files load and `_SUCCESS`/`.crc` are skipped;
  * the null fields Spark's writer drops read back as null), and a
  * stream over such a directory is Spark's file stream,
  * `spark.readStream.schema(s).json(dir)`.
  *
  * `JsonlSourceSpec` pins all three (pruned build counts, source-side
  * skip counts, explain-visible pushdown); `q_jsonl_source` closes the
  * loop end-to-end: events → Spark's JSON writer → THIS source →
  * aggregate, hash-matched against the DuckDB oracle on the original
  * parquet — a cross-format identity check.
  *
  * Scale notes: schemas are declared via option (no inference pass);
  * readers stream lines (no whole-file buffering); at 100 TB the
  * per-file partitions feed the usual scan parallelism and AQE
  * coalescing downstream.
  */
object JsonlSource {
  val format = "graft-jsonl"

  /** Test-visible reader instrumentation (local-mode counters): lines
    * parsed vs rows emitted — the difference is source-side skips.
    */
  val linesParsed = new java.util.concurrent.atomic.AtomicLong
  val rowsEmitted = new java.util.concurrent.atomic.AtomicLong
  val aggScans = new java.util.concurrent.atomic.AtomicLong

  /** Option-declared schema: "name:type,name:type" with type in
    * {long, string}.
    */
  def parseSchema(spec: String): StructType =
    spec.split(",").foldLeft(new StructType()) { (st, f) =>
      val Array(n, t) = f.trim.split(":")
      t match {
        case "long" => st.add(n, LongType)
        case "string" => st.add(n, StringType)
        case other => throw new IllegalArgumentException(
          s"graft-jsonl schema type '$other' (want long|string)")
      }
    }

  /** List the directory's .json data files, CLOSING the directory
    * stream (java.nio.file.Files.list holds an open handle until
    * closed — leaking one per scan planning would exhaust fds on a
    * long-lived driver).
    */
  def listJsonFiles(dir: String): Array[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json"))
      .toArray.sortBy(_.toString)
    finally s.close()
  }
}

case class JsonlInputPartition(path: String) extends InputPartition

/** A pushed comparison in source-internal form: (op, column, value) —
  * translated from Spark's V2 `Predicate`s (the V2 API is REQUIRED
  * here: V1 Filter pushdown is advisory, so Spark refuses to compose
  * it with aggregate pushdown, where a wrongly-filtered row could not
  * be repaired after aggregation).
  */
case class JsonlPred(op: String, col: String, value: Any)
    extends Serializable

private[sources] object JsonlFilterEval {
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.expressions.{Literal => CLit, NamedReference}

  /** Translate a V2 predicate to internal form (None = unsupported). */
  def translate(schema: StructType, p: Predicate)
      : Option[JsonlPred] = p.name() match {
    case op @ ("IS_NULL" | "IS_NOT_NULL") =>
      p.children() match {
        case Array(n: NamedReference)
            if n.fieldNames().length == 1 &&
              schema.fieldNames.contains(n.fieldNames()(0)) =>
          Some(JsonlPred(op, n.fieldNames()(0), null))
        case _ => None
      }
    case op @ ("=" | ">" | ">=" | "<" | "<=") =>
      p.children() match {
        case Array(n: NamedReference, l: CLit[_])
            if n.fieldNames().length == 1 &&
              schema.fieldNames.contains(n.fieldNames()(0)) =>
          val v = l.value() match {
            case u: UTF8String => u.toString
            case other => other
          }
          Some(JsonlPred(op, n.fieldNames()(0), v))
        case _ => None
      }
    case _ => None
  }

  private def cmp(node: com.fasterxml.jackson.databind.JsonNode,
      attr: String, v: Any): Option[Int] = {
    val field = node.get(attr)
    if (field == null || field.isNull) None
    else v match {
      case l: Long => Some(java.lang.Long.compare(field.asLong(), l))
      case i: Int => Some(java.lang.Long.compare(field.asLong(), i.toLong))
      case i: Integer => Some(java.lang.Long.compare(field.asLong(), i.toLong))
      case l: java.lang.Long => Some(java.lang.Long.compare(field.asLong(), l))
      // Spark compares strings in UTF-8 BINARY order; String.compareTo
      // is UTF-16 code-unit order and diverges on supplementary
      // characters. Accepted predicates are removed from the residual,
      // so the source MUST match Spark's collation exactly.
      case s: String => Some(UTF8String.fromString(field.asText())
        .compareTo(UTF8String.fromString(s)))
      case other => Some(UTF8String.fromString(field.asText())
        .compareTo(UTF8String.fromString(other.toString)))
    }
  }

  def eval(node: com.fasterxml.jackson.databind.JsonNode,
      f: JsonlPred): Boolean = f.op match {
    case "IS_NULL" =>
      val v = node.get(f.col); v == null || v.isNull
    case "IS_NOT_NULL" =>
      val v = node.get(f.col); v != null && !v.isNull
    case "=" => cmp(node, f.col, f.value).contains(0)
    case ">" => cmp(node, f.col, f.value).exists(_ > 0)
    case ">=" => cmp(node, f.col, f.value).exists(_ >= 0)
    case "<" => cmp(node, f.col, f.value).exists(_ < 0)
    case "<=" => cmp(node, f.col, f.value).exists(_ <= 0)
    case _ => false
  }
}

class JsonlPartitionReaderFactory(
    required: StructType, filters: Array[JsonlPred])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[JsonlInputPartition].path
    new PartitionReader[InternalRow] {
      private val mapper = new ObjectMapper
      private val lines = java.nio.file.Files.lines(
        java.nio.file.Paths.get(path))
      private val it = lines.iterator()
      private var row: InternalRow = _
      override def next(): Boolean = {
        row = null
        while (row == null && it.hasNext) {
          val line = it.next()
          if (line.nonEmpty) {
            JsonlSource.linesParsed.incrementAndGet()
            val node = mapper.readTree(line)
            if (filters.forall(JsonlFilterEval.eval(node, _))) {
              // build ONLY the pruned columns
              val vals = required.fields.map { f =>
                val n = node.get(f.name)
                if (n == null || n.isNull) null
                else f.dataType match {
                  case LongType => n.asLong(): java.lang.Long
                  case _ => UTF8String.fromString(n.asText())
                }
              }
              JsonlSource.rowsEmitted.incrementAndGet()
              row = InternalRow.fromSeq(vals.toIndexedSeq)
            }
          }
        }
        row != null
      }
      override def get(): InternalRow = row
      override def close(): Unit = lines.close()
    }
  }
}

/** Source-reported size statistics: the sum of the data files' bytes.
  * Without this a DSv2 relation defaults to
  * `spark.sql.defaultSizeInBytes` (Long.Max-ish) and can NEVER be
  * chosen as a broadcast side — at 100 TB that turns every join
  * against a small JSONL dim table into a shuffle. File size is the
  * same proxy Spark's own FileScan reports.
  */
private[sources] trait JsonlFileStats
    extends org.apache.spark.sql.connector.read.SupportsReportStatistics {
  def statsDir: String
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = JsonlSource.listJsonFiles(statsDir)
        .map(java.nio.file.Files.size).sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
}

class JsonlScan(dir: String, required: StructType, pushed: Array[JsonlPred])
    extends Scan with Batch with JsonlFileStats {
  override def statsDir: String = dir
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    JsonlSource.listJsonFiles(dir)
      .map(p => JsonlInputPartition(p.toString): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlPartitionReaderFactory(required, pushed)
  override def description(): String =
    s"graft-jsonl $dir, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.map(p => s"${p.col} ${p.op} ${p.value}").mkString(", ")}]"
}

class JsonlScanBuilder(dir: String, full: StructType)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private var required: StructType = full
  private var pushed: Array[JsonlPred] = Array.empty
  private var pushedV2: Array[Predicate] = Array.empty
  private var aggGroup: Array[String] = Array.empty
  private var aggFuncs: Array[(String, String)] = Array.empty // (op, col)
  private var aggPushed = false

  override def pushPredicates(
      predicates: Array[Predicate]): Array[Predicate] = {
    val translated = predicates.map(p =>
      p -> JsonlFilterEval.translate(full, p))
    pushedV2 = translated.collect { case (p, Some(_)) => p }
    pushed = translated.collect { case (_, Some(t)) => t }
    translated.collect { case (p, None) => p } // residual
  }
  override def pushedPredicates(): Array[Predicate] = pushedV2
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (!aggPushed)
      // preserve OUR field order; requiredSchema may be reordered
      required = new StructType(
        full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  private def fieldName(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: org.apache.spark.sql.connector.expressions.NamedReference
        if f.fieldNames().length == 1 &&
          full.fieldNames.contains(f.fieldNames()(0)) =>
      Some(f.fieldNames()(0))
    case _ => None
  }

  /** PARTIAL aggregate pushdown (supportCompletePushDown stays false):
    * each file's reader emits per-group partial rows — count/sum/min/
    * max over long columns, grouped by schema columns — and Spark
    * plans the final merge on top. The scan's output schema becomes
    * [agg buffers ++ group columns] (Spark's expected layout).
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val groups = aggregation.groupByExpressions().map(fieldName)
    if (groups.exists(_.isEmpty)) return false
    val funcs = aggregation.aggregateExpressions().map {
      case _: CountStar => Some(("count_star", ""))
      case c: Count if !c.isDistinct =>
        fieldName(c.column).filter(n =>
          full(n).dataType == LongType).map(("count", _))
      case s: Sum if !s.isDistinct =>
        fieldName(s.column).filter(n =>
          full(n).dataType == LongType).map(("sum", _))
      case m: Min =>
        fieldName(m.column).filter(n =>
          full(n).dataType == LongType).map(("min", _))
      case m: Max =>
        fieldName(m.column).filter(n =>
          full(n).dataType == LongType).map(("max", _))
      case _ => None
    }
    if (funcs.exists(_.isEmpty)) return false
    aggGroup = groups.map(_.get)
    aggFuncs = funcs.map(_.get)
    aggPushed = true
    // output layout Spark expects: group columns, then aggregate columns
    var st = new StructType()
    aggGroup.foreach(g => st = st.add(g, full(g).dataType))
    aggFuncs.zipWithIndex.foreach { case ((op, c), i) =>
      st = st.add(s"agg_$i", LongType, op != "count_star" && op != "count")
    }
    required = st
    true
  }

  override def build(): Scan =
    if (aggPushed)
      new JsonlAggScan(dir, full, required, pushed, aggGroup, aggFuncs)
    else new JsonlScan(dir, required, pushed)
}

/** Scan variant with a pushed partial aggregation: one reader per file
  * computes its own hash aggregate over the (filter-surviving) lines
  * and emits one row per group — at 100 TB this is the map-side
  * combine moved INTO the source, so only #groups rows per file reach
  * Spark.
  */
class JsonlAggScan(
    dir: String, full: StructType, outSchema: StructType,
    filters: Array[JsonlPred], groupCols: Array[String],
    aggFuncs: Array[(String, String)]) extends Scan with Batch
    with JsonlFileStats {
  override def statsDir: String = dir
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    JsonlSource.listJsonFiles(dir)
      .map(p => JsonlInputPartition(p.toString): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlAggReaderFactory(full, filters, groupCols, aggFuncs)
  override def description(): String =
    s"graft-jsonl $dir, PushedAggregates: [${aggFuncs.map(f => s"${f._1}(${f._2})").mkString(", ")}], " +
      s"GroupBy: [${groupCols.mkString(", ")}], " +
      s"PushedFilters: [${filters.map(p => s"${p.col} ${p.op} ${p.value}").mkString(", ")}]"
}

/** Top-level (serializable capture-free) factory for the aggregating
  * reader: each file's reader hash-aggregates its (filter-surviving)
  * lines and emits one partial row per group.
  */
class JsonlAggReaderFactory(
    full: StructType, filters: Array[JsonlPred], groupCols: Array[String],
    aggFuncs: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[JsonlInputPartition].path
    val (f, g, a) = (filters, groupCols, aggFuncs)
    new PartitionReader[InternalRow] {
      private val groups = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], Array[Long]]
      private val nulls = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], Array[Boolean]]
      locally {
        val mapper = new ObjectMapper
        val lines = java.nio.file.Files.lines(
          java.nio.file.Paths.get(path))
        try lines.iterator().asScala
          .filter(_.nonEmpty).map(mapper.readTree)
          .filter(n => f.forall(JsonlFilterEval.eval(n, _)))
          .foreach { n =>
            val key = g.toSeq.map { c =>
              val v = n.get(c)
              if (v == null || v.isNull) null
              else full(c).dataType match {
                case LongType => v.asLong(): java.lang.Long
                case _ => UTF8String.fromString(v.asText())
              }
            }
            val buf = groups.getOrElseUpdate(key,
              a.map { case (op, _) => op match {
                case "min" => Long.MaxValue
                case "max" => Long.MinValue
                case _ => 0L
              }})
            // sum's flag starts true too: SQL SUM over zero non-null
            // inputs is NULL, not 0 (count/count_star stay 0).
            val nl = nulls.getOrElseUpdate(key,
              a.map { case (op, _) =>
                op == "min" || op == "max" || op == "sum" })
            a.zipWithIndex.foreach { case ((op, c), i) =>
              lazy val cv = n.get(c)
              lazy val has = cv != null && !cv.isNull
              op match {
                case "count_star" => buf(i) += 1
                case "count" => if (has) buf(i) += 1
                case "sum" => if (has) { buf(i) += cv.asLong(); nl(i) = false }
                case "min" => if (has) { buf(i) = math.min(buf(i), cv.asLong()); nl(i) = false }
                case "max" => if (has) { buf(i) = math.max(buf(i), cv.asLong()); nl(i) = false }
              }
            }
          }
        finally lines.close()
        // GLOBAL aggregate (empty group-by): partial hash-aggregate
        // semantics require one initial-buffer row even over zero
        // input lines — Spark rewrites the final COUNT merge as SUM
        // over partials, so an absent partial would turn count(*)
        // over empty/fully-filtered input into NULL instead of 0.
        if (g.isEmpty && groups.isEmpty) {
          groups(Seq.empty) = a.map { case (op, _) => op match {
            case "min" => Long.MaxValue
            case "max" => Long.MinValue
            case _ => 0L
          }}
          nulls(Seq.empty) = a.map { case (op, _) =>
            op == "min" || op == "max" || op == "sum" }
        }
        JsonlSource.aggScans.incrementAndGet()
      }
      private val it = groups.iterator
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val (key, buf) = it.next()
          val nl = nulls(key)
          val aggVals = buf.zipWithIndex.map { case (v, i) =>
            if (nl(i) && a(i)._1 != "count" && a(i)._1 != "count_star")
              null
            else v: java.lang.Long
          }
          row = InternalRow.fromSeq(key.toIndexedSeq ++ aggVals)
          true
        } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

class JsonlTable(dir: String, schema0: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-jsonl($dir)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(dir, schema0)
}

/** `spark.read.format("graft-jsonl").option("path", dir)
  * .option("schema", "a:long,b:string")` entry point.
  */
class JsonlSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = JsonlSource.format
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spec = options.get("schema")
    require(spec != null, "graft-jsonl requires option 'schema'")
    JsonlSource.parseSchema(spec)
  }
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = opts.get("path")
    require(dir != null, "graft-jsonl requires option 'path'")
    new JsonlTable(dir, schema)
  }
}
