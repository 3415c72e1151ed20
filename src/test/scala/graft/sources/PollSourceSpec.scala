package graft.sources

import java.nio.file.Files

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingIndicators

/** In-memory growing feeds, keyed by name — simulates the live endpoint
  * a [[PollSource.Poller]] cursors over. Static registry is visible to
  * in-process executors in local mode.
  */
object PollFeeds {
  val feeds: TrieMap[String, ArrayBuffer[String]] = TrieMap.empty
  def append(name: String, recs: Seq[String]): Unit =
    feeds.getOrElseUpdate(name, ArrayBuffer.empty) ++= recs
}

/** Registry-backed poller (ctor contract: one java.util.Map arg). */
class RegistryPoller(options: java.util.Map[String, String])
    extends PollSource.Poller {
  private val feed = options.get("feed")
  private def recs = PollFeeds.feeds.getOrElse(feed, ArrayBuffer.empty)
  override def end(): Long = recs.size.toLong
  override def fetch(since: Long, max: Int): Seq[String] =
    recs.slice(since.toInt, since.toInt + max).toSeq
}

/** A poller without the `(java.util.Map)` constructor the source needs. */
class NoOptionsPoller extends PollSource.Poller {
  override def end(): Long = 0L
  override def fetch(since: Long, max: Int): Seq[String] = Seq.empty
}

class PollSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def readFeed(feed: String, extra: (String, String)*) = {
    val base = spark.readStream.format("graft-poll")
      .option("poller", classOf[RegistryPoller].getName)
      .option("feed", feed)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("delivers every record exactly once, in cursor order, in capped batches") {
    PollFeeds.append("f1", (0 until 7).map(i => s"rec$i"))
    val query = readFeed("f1", "maxPerPoll" -> "3")
      .writeStream.outputMode("append").format("memory")
      .queryName("poll_e2e").start()
    try {
      query.processAllAvailable()
      val rows = spark.table("poll_e2e")
        .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
      assert(rows.toSeq == (0 until 7).map(i => i.toLong -> s"rec$i"))
      // admission control: no micro-batch admitted more than maxPerPoll
      val batchSizes = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 3),
        s"batches must respect maxPerPoll: ${batchSizes.toSeq}")
      // the frontier grows between polls: only the new records arrive
      PollFeeds.append("f1", Seq("rec7", "rec8"))
      query.processAllAvailable()
      val all = spark.table("poll_e2e").collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
      assert(all.toSeq == (0 until 9).map(i => i.toLong -> s"rec$i"))
    } finally query.stop()
  }

  test("restart from checkpoint resumes at the committed cursor, no duplicates") {
    PollFeeds.append("f2", (0 until 4).map(i => s"a$i"))
    val ckpt = Files.createTempDirectory("poll-ckpt").toString
    val out = Files.createTempDirectory("poll-out").toString
    // memory sink refuses checkpoint recovery — use the parquet sink,
    // whose commit log also makes the exactly-once claim checkable
    def start() = readFeed("f2")
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", out).start()
    def sunk(): Seq[(Long, String)] = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(sunk() == (0 until 4).map(i => i.toLong -> s"a$i"))

    PollFeeds.append("f2", (4 until 6).map(i => s"a$i"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(sunk() == (0 until 6).map(i => i.toLong -> s"a$i"),
        s"restart must resume at the committed cursor exactly once: ${sunk()}")
    } finally q2.stop()
  }

  test("startingOffset=latest skips the backlog") {
    PollFeeds.append("f3", (0 until 5).map(i => s"old$i"))
    val query = readFeed("f3", "startingOffset" -> "latest")
      .writeStream.outputMode("append").format("memory")
      .queryName("poll_latest").start()
    try {
      query.processAllAvailable()
      assert(spark.table("poll_latest").count() == 0)
      PollFeeds.append("f3", Seq("new5"))
      query.processAllAvailable()
      val got = spark.table("poll_latest").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(got.toSeq == Seq(5L -> "new5"))
    } finally query.stop()
  }

  test("polled candle JSON decodes through the S3 path into typed candles") {
    val json =
      """{"stock_symbol":"AAPL","local_time":"2024-04-01 09:30:00",""" +
        """"open":1e0,"high":2e0,"low":0.5,"close":1.5,"volume":100.0}"""
    PollFeeds.append("f4", Seq(json))
    val decoded = StreamingIndicators.decodeCandleJson(
      readFeed("f4").select(org.apache.spark.sql.functions.col("value")))
    val query = decoded.writeStream.outputMode("append").format("memory")
      .queryName("poll_decoded").start()
    try {
      query.processAllAvailable()
      val c = spark.table("poll_decoded").as[graft.model.Candle](
        org.apache.spark.sql.Encoders.product[graft.model.Candle])
        .collect().head
      assert(c.stock_symbol == "AAPL" && c.close == 1.5 && c.volume == 100.0)
    } finally query.stop()
  }

  test("a batch splits into contiguous cursor ranges across numPartitions") {
    val stream = new PollMicroBatchStream(
      new RegistryPoller(java.util.Map.of("feed", "none")),
      maxPerPoll = 100, numPartitions = 3, startFromLatest = false)
    val parts = stream
      .planInputPartitions(PollOffset(0), PollOffset(7))
      .map(_.asInstanceOf[PollInputPartition])
    assert(parts.map(p => (p.start, p.count)).toSeq ==
      Seq((0L, 3), (3L, 3), (6L, 1)))
    assert(stream.planInputPartitions(PollOffset(7), PollOffset(7)).isEmpty)
  }

  test("one endpoint probe per trigger: reportLatestOffset reuses latestOffset's frontier") {
    var probes = 0
    val recs = ArrayBuffer("r0", "r1", "r2")
    val poller = new PollSource.Poller {
      override def end(): Long = { probes += 1; recs.size.toLong }
      override def fetch(since: Long, max: Int): Seq[String] = Seq.empty
    }
    val stream = new PollMicroBatchStream(poller, maxPerPoll = 2, numPartitions = 1,
      startFromLatest = false)
    // before any trigger there is no probed frontier: it probes
    assert(stream.reportLatestOffset() == PollOffset(3) && probes == 1)
    var start: org.apache.spark.sql.connector.read.streaming.Offset = stream.initialOffset()
    for (trigger <- 1 to 3) {
      // Spark's order within a trigger: latestOffset, then reportLatestOffset
      val frontier = recs.size.toLong
      val next = stream.latestOffset(start, stream.getDefaultReadLimit)
      recs += s"late$trigger" // the endpoint grows between the two calls
      assert(stream.reportLatestOffset() == PollOffset(frontier))
      assert(probes == 1 + trigger, s"trigger $trigger probed the endpoint ${probes - trigger} times")
      start = next
    }
  }

  test("a poller without the (java.util.Map) constructor fails at query start") {
    val failure = intercept[Exception] {
      val query = spark.readStream.format("graft-poll")
        .option("poller", classOf[NoOptionsPoller].getName).load()
        .writeStream.format("memory").queryName("poll_no_ctor").start()
      try query.awaitTermination(60000) finally query.stop()
    }
    val messages = Iterator.iterate[Throwable](failure)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).toList
    assert(messages.exists(m => m != null &&
      m.contains("needs a public (java.util.Map[String, String]) constructor")),
      messages.mkString("\n"))
  }

  test("JsonlFeedPoller cursors over a growing line file") {
    val f = Files.createTempFile("feed", ".jsonl")
    Files.writeString(f, "l0\nl1\n")
    val poller = new JsonlFeedPoller(java.util.Map.of("path", f.toString))
    assert(poller.end() == 2 && poller.fetch(0, 10) == Seq("l0", "l1"))
    Files.writeString(f, "l0\nl1\nl2\n")
    assert(poller.end() == 3 && poller.fetch(2, 10) == Seq("l2"))
    assert(poller.fetch(1, 1) == Seq("l1"))
  }
}
