package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Candle
import graft.ops.Indicators

class StreamingIndicatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkCandles(sym: String, closes: Seq[Double]): Seq[Candle] =
    closes.zipWithIndex.map { case (c, i) =>
      Candle(sym, Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        c - 0.5, c + 1.0, c - 1.0, c, 100.0 + i)
    }

  private val symA = mkCandles("AAA",
    Seq(10.0, 12.0, 11.0, 13.0, 12.5, 14.0, 13.0, 15.0, 14.5, 16.0,
      15.0, 17.0, 16.5, 18.0, 17.0, 16.0, 15.5, 14.0, 14.5, 13.0))
  private val symB = mkCandles("BBB",
    Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0,
      5.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0))

  test("streaming output is identical to the batch window pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Candle]
    val query = StreamingIndicators
      .enrichStream(input.toDS())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_golden")
      .start()
    // interleave the two symbols across 3 uneven, ordered batches
    val all = (symA ++ symB).sortBy(c => (c.local_time.getTime, c.stock_symbol))
    input.addData(all.take(7))
    query.processAllAvailable()
    input.addData(all.slice(7, 23))
    query.processAllAvailable()
    input.addData(all.drop(23))
    query.processAllAvailable()
    val got = spark.table("stream_golden")
      .orderBy("stock_symbol", "local_time")
      .collect()
    query.stop()

    val batch = Indicators
      .enrich(
        (symA ++ symB).toDF(),
        col("stock_symbol"), col("local_time"), col("close"))
      .orderBy("stock_symbol", "local_time")
      .collect()

    assert(got.length == batch.length)
    val numCols = Seq("sma_5", "ema_10", "delta", "gain", "loss",
      "avg_gain_10", "avg_loss_10", "rs", "rsi_10")
    got.zip(batch).foreach { case (g, b) =>
      assert(g.getAs[String]("stock_symbol") == b.getAs[String]("stock_symbol"))
      assert(g.getAs[Timestamp]("local_time") == b.getAs[Timestamp]("local_time"))
      numCols.foreach { c =>
        val gv = Option(g.getAs[Any](c)).map(_.asInstanceOf[Double])
        val bv = Option(b.getAs[Any](c)).map(_.asInstanceOf[Double])
        assert(gv.isDefined == bv.isDefined,
          s"$c null-ness at ${g.getAs[Timestamp]("local_time")}: stream=$gv batch=$bv")
        for (x <- gv; y <- bv)
          assert(x == y, s"$c not bit-identical: stream=$x batch=$y")
      }
      assert(g.getAs[String]("signal") == b.getAs[String]("signal"))
    }
  }

  test("dedup gate suppresses re-delivered (symbol, time) rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Candle]
    val query = StreamingIndicators
      .pipeline(input.toDS(), watermark = "10 minutes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_dedup")
      .start()
    input.addData(symA.take(6))
    query.processAllAvailable()
    // re-deliver rows 2-5 (same keys, possibly mutated payload) + 2 new rows
    input.addData(symA.slice(2, 6) ++ symA.slice(6, 8))
    query.processAllAvailable()
    val got = spark.table("stream_dedup").collect()
    query.stop()
    assert(got.length == 8, s"expected 8 unique rows, got ${got.length}")
    // values must match a clean ordered run (first-delivery wins)
    val clean = symA.take(8).foldLeft(
      (StreamingIndicators.emptyState, List.empty[Double])) {
      case ((st, acc), c) =>
        val (n, e) = StreamingIndicators.step(st, c)
        (n, acc ++ e.sma_5.toList)
    }._2
    val gotSma = got.sortBy(_.getAs[Timestamp]("local_time").getTime)
      .flatMap(r => Option(r.getAs[Any]("sma_5")).map(_.asInstanceOf[Double]))
    assert(gotSma.toSeq == clean)
  }

  test("restart from checkpoint: state carries over, no re-emission") {
    // The reference loses all state on restart and re-emits every record
    // (SURVEY.md §2.8, consumer.py:250 startingOffsets=earliest with no
    // checkpoint). Our pipeline checkpoints state + sink commits: after a
    // stop/restart the EMA/ring-buffer state resumes and the file sink
    // holds each row exactly once.
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val ck = s"$base/checkpoint"
    val out = s"$base/out"
    val input = MemoryStream[Candle]
    def startQuery() = StreamingIndicators
      .pipeline(input.toDS(), watermark = "10 minutes")
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .start()

    val q1 = startQuery()
    input.addData(symA.take(12))
    q1.processAllAvailable()
    q1.stop()

    val q2 = startQuery()
    input.addData(symA.drop(12))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .orderBy("local_time")
      .collect()
    assert(got.length == symA.length,
      s"expected ${symA.length} rows exactly once, got ${got.length}")

    // post-restart rows continue the pre-restart state: compare every row
    // against a clean serial fold of the full series
    val clean = symA.foldLeft(
      (StreamingIndicators.emptyState, Vector.empty[graft.model.EnrichedCandle])) {
      case ((st, acc), c) =>
        val (n, e) = StreamingIndicators.step(st, c)
        (n, acc :+ e)
    }._2
    got.zip(clean).foreach { case (g, e) =>
      assert(Option(g.getAs[Any]("ema_10")).map(_.asInstanceOf[Double]) == e.ema_10,
        s"ema_10 mismatch at ${g.getAs[Timestamp]("local_time")}")
      assert(Option(g.getAs[Any]("avg_gain_10")).map(_.asInstanceOf[Double]) == e.avg_gain_10)
      assert(g.getAs[String]("signal") == e.signal)
    }
    // rows after the restart boundary must have warm state (ema defined
    // from row 10 onward — only possible if obs count survived restart)
    assert(got.drop(12).forall(r => r.getAs[Any]("ema_10") != null))
  }

  test("restart on a checkpoint Spark's default manager wrote: bit-identical rows, no re-emission") {
    val s = spark.newSession()
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ck_mgr")
    val input = MemoryStream[Candle]
    def run(manager: Class[_], rows: Seq[Candle]): Unit = {
      s.conf.set(LocalCheckpointFileManager.ConfKey, manager.getName)
      val q = StreamingIndicators.pipeline(input.toDS(), watermark = "10 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ck").start()
      input.addData(rows)
      try q.processAllAvailable() finally q.stop()
    }
    def crcs(dir: String) = java.nio.file.Files.list(base.resolve(dir)).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSet

    run(classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager], symA.take(12))
    val spark1 = crcs("ck/offsets")
    assert(spark1.nonEmpty, "the first run did not write through Hadoop's checksummed filesystem")
    run(classOf[LocalCheckpointFileManager], symA.drop(12))
    assert(crcs("ck/offsets") == spark1, "the restart wrote through Hadoop's filesystem")

    def bits(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString("|")
    val got = s.read.parquet(s"$base/out").orderBy("local_time").collect().map(bits)
    val clean = symA.foldLeft((StreamingIndicators.emptyState, Vector.empty[graft.model.EnrichedCandle])) {
      case ((st, acc), c) => val (n, e) = StreamingIndicators.step(st, c); (n, acc :+ e)
    }._2
    val want = clean.toDF().collect().map(bits)
    assert(got.toSeq == want.toSeq)
  }

  test("rows arriving unordered WITHIN a micro-batch are sorted before folding") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Candle]
    val query = StreamingIndicators
      .enrichStream(input.toDS())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_shuffled")
      .start()
    // one batch, deliberately shuffled delivery order
    val shuffled = new scala.util.Random(7).shuffle(symA.take(12))
    input.addData(shuffled)
    query.processAllAvailable()
    val got = spark.table("stream_shuffled")
      .orderBy("local_time").collect()
    query.stop()

    val clean = symA.take(12).foldLeft(
      (StreamingIndicators.emptyState, Vector.empty[graft.model.EnrichedCandle])) {
      case ((st, acc), c) =>
        val (n, e) = StreamingIndicators.step(st, c)
        (n, acc :+ e)
    }._2
    assert(got.length == clean.length)
    got.zip(clean).foreach { case (g, e) =>
      assert(Option(g.getAs[Any]("sma_5")).map(_.asInstanceOf[Double]) == e.sma_5)
      assert(Option(g.getAs[Any]("ema_10")).map(_.asInstanceOf[Double]) == e.ema_10)
    }
  }

  test("dedup state is bounded: watermark advance evicts old keys") {
    // The reference's `already_sent` set grows forever (consumer.py:27-28).
    // The pipeline's seen times live in the per-symbol state only above the
    // watermark; this reads them back through the state-store data source.
    implicit val sqlCtx = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("graft_evict").toString
    val input = MemoryStream[Candle]
    val query = StreamingIndicators
      .pipeline(input.toDS(), watermark = "10 minutes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_evict")
      .option("checkpointLocation", ck)
      .start()

    def candleAt(t: String) =
      Candle("AAA", Timestamp.valueOf(t), 1, 1, 1, 1, 1)
    def seenTimes(): Int =
      spark.read.format("statestore").load(ck)
        .select(size(col("value.groupState.seen"))).head().getInt(0)

    // 50 keys at hour 10
    input.addData((0 until 50).map(i => candleAt(f"2024-01-01 10:00:$i%02d")))
    query.processAllAvailable()
    val grow = seenTimes()
    assert(grow == 50, s"expected 50 seen times, got $grow")

    // jump event time to hour 13: the next batch's watermark (12:50)
    // passes all hour-10 keys, and its fold trims them
    input.addData(Seq(candleAt("2024-01-01 13:00:00")))
    query.processAllAvailable()
    input.addData(Seq(candleAt("2024-01-01 13:00:01")))
    query.processAllAvailable()
    val after = seenTimes()
    query.stop()
    assert(after == 2, s"seen set not trimmed: $after times still held")
  }

  /** The composition `pipeline` replaced: a watermarked `dropDuplicates`
    * operator, then the fold as its own stateful operator.
    */
  private def twoOperatorPipeline(candles: org.apache.spark.sql.Dataset[Candle],
      watermark: String) =
    StreamingIndicators.enrichStream(
      candles.withWatermark("local_time", watermark)
        .dropDuplicates("stock_symbol", "local_time"))

  test("folded pipeline emits exactly the rows of watermark + dropDuplicates + enrichStream") {
    def at(sym: String, t: String, close: Double) =
      Candle(sym, Timestamp.valueOf(s"2024-01-01 $t"), close - 0.5, close + 1.0,
        close - 1.0, close, 100.0 + close)
    def minutes(sym: String, ms: Range, bias: Double) =
      ms.map(m => at(sym, f"00:$m%02d:00", bias + m % 7 + m * 0.25))
    // watermark 10 minutes; W(b) = max event time before batch b - 10 min
    val batches = Seq(
      // W = 0
      minutes("AAA", 0 to 11, 10) ++ minutes("BBB", 0 to 11, 50) :+
        at("BBB", "00:15:30", 60),
      // late filter 0 (no-data batches off) or 00:05:30; eviction 00:05:30
      Seq(at("AAA", "00:07:00", 99), at("AAA", "00:08:00", 98)) ++ // cross-batch re-sends, mutated
        minutes("AAA", 12 to 25, 10) ++ minutes("BBB", 16 to 25, 50) ++
        minutes("AAA", 20 to 20, 10) ++ // identical re-send in the batch
        Seq(at("BBB", "00:04:30", 55), // between previous and current watermark
          at("AAA", "00:26:00.0001", 20), at("AAA", "00:26:00.0004", 21)), // same ms
      // late filter 00:05:30 (no-data off) or 00:16:00.0004; eviction 00:16:00.0004
      Seq(at("AAA", "00:05:30", 97), // exactly at the previous batch's watermark
        at("BBB", "00:05:30.000001", 96), // 1 us above it
        at("BBB", "00:04:30", 95), // re-send of a row already below the watermark
        at("AAA", "00:10:00", 94), // re-send two batches later, mutated
        at("AAA", "00:12:30", 93)) ++ // between previous and current watermark
        minutes("AAA", 27 to 35, 10) ++ minutes("BBB", 27 to 35, 50),
      Seq(at("AAA", "00:12:30", 92), at("AAA", "00:20:00", 91),
        at("AAA", "00:26:00.0001", 20)) ++ minutes("AAA", 36 to 40, 10))

    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
        case t: Timestamp => s"${t.getTime}.${t.getNanos}"
        case x => String.valueOf(x)
      }.mkString("|")).sorted

    for (noData <- Seq(true, false)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val input = MemoryStream[Candle]
      val queries = Seq(
        StreamingIndicators.pipeline(input.toDS(), "10 minutes") -> "eq_fold",
        twoOperatorPipeline(input.toDS(), "10 minutes") -> "eq_oracle"
      ).map { case (ds, name) =>
        ds.writeStream.outputMode("append").format("memory").queryName(name).start()
      }
      batches.foreach { b =>
        input.addData(b)
        queries.foreach(_.processAllAvailable())
      }
      val fold = rowsOf(s.table("eq_fold"))
      val oracle = rowsOf(s.table("eq_oracle"))
      val dropped = queries.head.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      queries.foreach(_.stop())

      assert(fold == oracle, s"noDataMicroBatches=$noData:\n fold=$fold\n oracle=$oracle")
      val times = s.table("eq_fold").as[graft.model.EnrichedCandle].collect()
        .map(e => (e.stock_symbol, e.local_time.toString)).toSeq
      assert(times.distinct.size == times.size, "a (symbol, time) was emitted twice")
      assert(!times.contains(("AAA", "2024-01-01 00:05:30.0")))
      assert(times.contains(("AAA", "2024-01-01 00:26:00.0001")) &&
        times.contains(("AAA", "2024-01-01 00:26:00.0004")))
      assert(dropped > 0, "no row went through the late filter")
      if (!noData) {
        assert(times.contains(("BBB", "2024-01-01 00:05:30.000001")))
        assert(times.contains(("BBB", "2024-01-01 00:04:30.0")))
        assert(times.contains(("AAA", "2024-01-01 00:12:30.0")))
      }
    }
  }

  test("re-sends with different payloads in one batch: the smallest by sort key wins") {
    // dropDuplicates kept whichever copy reached it first; the fold sorts
    // the batch by (time, close, open, high, low, volume) and keeps the first
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Candle]
    val query = StreamingIndicators.pipeline(input.toDS(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_resend_payload").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    input.addData(Seq(Candle("AAA", t, 1, 1, 1, 7, 1), Candle("AAA", t, 1, 1, 1, 3, 1),
      Candle("AAA", t, 1, 1, 1, 5, 1)))
    query.processAllAvailable()
    val got = spark.table("stream_resend_payload").collect()
    query.stop()
    assert(got.map(_.getAs[Double]("close")).toSeq == Seq(3.0))
  }

  test("a checkpoint of the two-operator plan fails to restart instead of losing dedup") {
    // The folded pipeline keeps its dedup in the indicator state; the
    // previous plan kept it in a separate dropDuplicates operator. Restarting
    // on such a checkpoint must fail, not run with an empty seen set.
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_old_ck").toString
    val input = MemoryStream[Candle]
    def start(ds: org.apache.spark.sql.Dataset[graft.model.EnrichedCandle]) =
      ds.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ck").start()

    val old = start(twoOperatorPipeline(input.toDS(), "10 minutes"))
    input.addData(symA.take(6))
    old.processAllAvailable()
    old.stop()

    val folded = start(StreamingIndicators.pipeline(input.toDS(), "10 minutes"))
    input.addData(symA.slice(2, 8))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      folded.processAllAvailable()
    }
    folded.stop()
    assert(err.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"),
      err.getMessage)
    assert(spark.read.parquet(s"$base/out").count() == 6)
  }

  test("stream -> enriched -> day-partitioned store via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val input = MemoryStream[Candle]
    // symA spans one day; add a second-day candle to get 2 partitions
    val day2 = Candle("AAA", Timestamp.valueOf("2024-01-02 00:00:00"),
      1, 1, 1, 1, 1)
    val query = StreamingIndicators.sinkToStore(
      StreamingIndicators.pipeline(input.toDS()),
      s"$base/store", s"$base/ck")
    input.addData(symA.take(10))
    query.processAllAvailable()
    input.addData(symA.drop(10) :+ day2)
    query.processAllAvailable()
    query.stop()

    val back = graft.sources.PartitionedStore.read(spark, s"$base/store")
    assert(back.count() == symA.length + 1)
    assert(back.select("trade_date").distinct().count() == 2)
    // enrichment columns survived the store round-trip
    assert(back.columns.contains("signal"))
    assert(back.filter(col("ema_10").isNotNull).count() > 0)
  }

  test("kafka frame + json decode round-trip preserves the candle") {
    val df = StreamingIndicators.toKafkaFrame(
      spark.createDataset(Seq(
        graft.model.EnrichedCandle("AAA",
          Timestamp.valueOf("2024-01-01 00:00:00"), 1, 2, 0.5, 1.5, 100,
          None, None, None, None, None, None, None, None, None, "HOLD"))))
    val row = df.collect().head
    assert(row.getAs[String]("key") == "AAA")
    assert(row.getAs[String]("value").contains("\"signal\":\"HOLD\""))

    val raw = Seq(
      """{"stock_symbol":"BBB","local_time":"2024-01-01 00:01:00","open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":7.0}""")
      .toDF("value")
    val decoded = StreamingIndicators.decodeCandleJson(raw).collect().head
    assert(decoded.stock_symbol == "BBB")
    assert(decoded.close == 1.5)
  }
}
