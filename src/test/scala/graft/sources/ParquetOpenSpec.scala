package graft.sources

import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.model.{Candle, Tables}
import graft.streaming.StreamingIndicators

/** [[ParquetOpen]] gives the frame `spark.read.parquet` gives (same schema,
  * same rows) without running a Spark job, and defers to Spark's own
  * inference, visibly, in its two cases.
  */
class ParquetOpenSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val JobTag = "graft.spec.parquetOpen"

  private def ts(s: String) = Timestamp.valueOf(s)

  /** (rows, order-independent content hash). */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** `body`'s result and the Spark jobs this thread started inside it. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"open-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(JobTag) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(JobTag, tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s result and the lines logger `graft.sources.ParquetOpen`
    * wrote inside it.
    */
  private def openLog[T](body: => T): (T, Seq[String]) = {
    val name = "graft.sources.ParquetOpen"
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val lines = new ConcurrentLinkedQueue[String]
    val sink = new AbstractAppender(s"$name.spec", null, null, true, Array.empty[Property]) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    val level = logger.getLevel
    sink.start()
    Configurator.setLevel(name, Level.INFO)
    logger.addAppender(sink)
    try (body, lines.asScala.toList)
    finally {
      logger.removeAppender(sink)
      Configurator.setLevel(name, level)
      sink.stop()
    }
  }

  /** The open runs no job, logs no deferral, and matches Spark's
    * inference in schema and rows.
    */
  private def sameAsSpark(opened: => DataFrame, path: String): Unit = withClue(path) {
    val ((df, jobs), lines) = openLog(jobsDuring(opened))
    jobs shouldBe 0
    lines shouldBe empty
    val ref = spark.read.parquet(path)
    df.schema shouldBe ref.schema
    fingerprint(df) shouldBe fingerprint(ref)
  }

  private def parquetFiles(root: String): Seq[NioPath] =
    Files.walk(java.nio.file.Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sorted

  test("Spark's own open runs a job; the counter sees it") {
    jobsDuring(spark.read.parquet(s"$sfDir/region.parquet"))._2 should be > 0
  }

  test("the 10 sf0.001 tables open without a job, as Spark opens them") {
    // sets the nanos-as-long conf the events open depends on
    Tables.events(spark, sfDir).schema("ts").dataType shouldBe
      org.apache.spark.sql.types.TimestampType
    for (name <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      sameAsSpark(Tables.table(spark, sfDir, name), s"$sfDir/$name.parquet")
  }

  test("a partitioned store after several appends, and one of its files alone") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_open").toString + "/stock_data"
    for ((day, n) <- Seq(3 -> 4, 1 -> 3, 2 -> 5, 3 -> 2)) {
      val rows = (0 until n).map(m =>
        ("BTC", ts(f"2024-01-0$day 10:$m%02d:00"), day * 100.0 + m))
      PartitionedStore.write(rows.toDF("stock_symbol", "local_time", "close"), dir)
    }
    sameAsSpark(PartitionedStore.read(spark, dir), dir)
    PartitionedStore.read(spark, dir).count() shouldBe 14
    val one = parquetFiles(dir).head.toString
    sameAsSpark(ParquetOpen(spark, one), one)
  }

  test("a sink store takes its footer from the committed log, not a leftover") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val base = Files.createTempDirectory("graft_open_sink")
    val store = s"$base/store"
    val input = MemoryStream[Candle]
    val q = StreamingIndicators.sinkToStore(
      StreamingIndicators.pipeline(input.toDS()), store, s"$base/ck")
    try for (day <- 1 to 3) {
      input.addData((0 until 4).map(m =>
        Candle("AAA", ts(f"2024-01-0$day 10:$m%02d:00"), 1, 2, 0.5, 1 + m, 10)))
      q.processAllAvailable()
    } finally q.stop()
    // a truncated data file a failed batch could leave behind, first in
    // path order and named in no log entry
    val committed = parquetFiles(store).head
    val leftover = committed.resolveSibling("a-leftover.parquet")
    Files.write(leftover, Files.readAllBytes(committed).take(64))
    sameAsSpark(PartitionedStore.read(spark, store), store)
    PartitionedStore.read(spark, store).count() should be > 0L
  }

  /** Two partitions whose files disagree: `p=a` holds (k, v) and `p=a-b`
    * holds (k, w). In path order `p=a-b/...` comes first ('-' < '/').
    */
  private def twoSchemas(): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_open_two").toString + "/t"
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/p=a")
    Seq((2, 2.0)).toDF("k", "w").write.parquet(s"$dir/p=a-b")
    dir
  }

  test("files that disagree: the open reads the footer Spark's inference reads") {
    val dir = twoSchemas()
    sameAsSpark(ParquetOpen(spark, dir), dir)
    ParquetOpen(spark, dir).columns shouldBe Array("k", "w", "p")
  }

  test("mergeSchema on: Spark's merged schema comes back, and the deferral is logged") {
    val dir = twoSchemas()
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val (df, lines) = openLog(ParquetOpen(spark, dir))
      lines shouldBe Seq(s"path=$dir schema=spark reason=merge-schema")
      df.schema shouldBe spark.read.parquet(dir).schema
      df.columns.toSet shouldBe Set("k", "v", "w", "p")
    } finally spark.conf.unset(key)
  }

  test("no data file: Spark's own error surfaces") {
    val dir = Files.createTempDirectory("graft_open_empty").toString
    Files.createDirectory(java.nio.file.Paths.get(dir, "_temporary"))
    val (e, lines) = openLog(intercept[AnalysisException](ParquetOpen(spark, dir)))
    lines shouldBe Seq(s"path=$dir schema=spark reason=no-data-file")
    e.getMessage should include("Unable to infer schema")
  }
}
