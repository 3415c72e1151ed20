package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog}
import org.apache.spark.sql.types.StructType

/** The one parquet open behind [[PartitionedStore.read]] and
  * `graft.model.Tables`. With `mergeSchema` off, `spark.read.parquet`
  * infers the data schema from a single footer, but reads it through a
  * one-task Spark job (`ParquetFileFormat.mergeSchemasInParallel`). This
  * reads that footer on the driver, with Spark's own converter, and passes
  * the schema to `spark.read.schema(..)`: partition discovery and typing,
  * pruning, the sink-log file index and the scan stay Spark's.
  *
  * The footer is the file Spark's inference picks, the first in path
  * order: among the files the committed `_spark_metadata` log names for a
  * streaming-sink directory (never an uncommitted leftover), else among
  * the tree's non-hidden files, found by walking down one directory per
  * level instead of listing the tree. Spark prefers a `_common_metadata`
  * or `_metadata` summary file wherever it lies; the walk reads one only
  * when it comes first in path order (Spark writes none by default).
  *
  * Two cases keep Spark's inference, each logged on one line (logger
  * `graft.sources.ParquetOpen`): `spark.sql.parquet.mergeSchema` on, and
  * no data file under `path`, so that Spark raises its own error.
  */
object ParquetOpen {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.ParquetOpen")

  def apply(spark: SparkSession, path: String): DataFrame = schema(spark, path) match {
    case Right(s) => spark.read.schema(s).parquet(path)
    case Left(reason) =>
      log.info(s"path=$path schema=spark reason=$reason")
      spark.read.parquet(path)
  }

  /** The data schema from one footer, or why Spark must infer it. */
  private def schema(spark: SparkSession, path: String): Either[String, StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) Left("merge-schema")
    else {
      val conf = spark.sessionState.newHadoopConf()
      firstFile(spark, conf, path) match {
        case None => Left("no-data-file")
        case Some(f) =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
          Right(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    }

  private def firstFile(
      spark: SparkSession, conf: Configuration, path: String): Option[FileStatus] = {
    val root = new Path(path)
    if (FileStreamSink.hasMetadata(Seq(path), conf, spark.sessionState.conf)) {
      val sinkLog = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
        new Path(root, FileStreamSink.metadataDir).toString, None)
      sinkLog.allFiles().iterator.map(_.toFileStatus).filterNot(_.isDirectory)
        .minByOption(_.getPath.toString)
    } else {
      val fs = root.getFileSystem(conf)
      // Every path under a directory starts with its name plus "/", so this
      // key orders whole subtrees: the first child holding a file holds the
      // first leaf.
      def first(s: FileStatus): Option[FileStatus] =
        if (!s.isDirectory) Some(s)
        else fs.listStatus(s.getPath)
          .filterNot(c => hidden(c.getPath.getName))
          .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
          .iterator.flatMap(first(_)).nextOption()
      try first(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`, which
    * Spark does not export): hidden and in-flight names are skipped, the
    * Parquet summary files are not.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
}
