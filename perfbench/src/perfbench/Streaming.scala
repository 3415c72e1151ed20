package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.model.EnrichedCandle
import graft.ops.Indicators
import graft.sources.{HttpPoller, PollSource}
import graft.streaming.StreamingIndicators

/** `live_feed` and `backfill`: the paper's hot path, HttpPoller ->
  * decodeCandleJson -> StreamingIndicators.pipeline -> sinkToStore (parquet
  * plus checkpoint), on the default trigger.
  *
  * live_feed (open loop): 50 symbols, one candle per symbol per tick, 5
  * ticks/s, each tick one event-time minute. The operation is a tick; its
  * latency runs from the tick's due time at the feed to the end of the
  * micro-batch whose committed source offset covers its last record. The
  * first [[WarmTicks]] ticks are not timed.
  *
  * backfill (closed loop): the whole backlog exists at start and
  * `maxPerPoll` caps each batch, so a drain is a handful of large batches.
  * The operation is a micro-batch; a pass is one drain, from `start()` to the
  * commit of the last offset, on a fresh store and checkpoint.
  */
final class StreamWorkload(
    spark: SparkSession,
    cores: Int,
    work: Path,
    seed: Long,
    live: Boolean,
    traced: Boolean,
    seconds: Int) extends Workload {

  import StreamWorkload._

  private val phases = if (traced) 2 else 1
  private var sched: Schedule = _
  private var server: FeedServer = _
  private var query: StreamingQuery = _
  private var runs = 0
  /** Every finished drain's store (backfill) or the one store (live_feed). */
  private val stores = scala.collection.mutable.ArrayBuffer[String]()
  private var phase = 0

  private def dir(name: String): String = work.resolve(name).toString

  private def start(store: String, ckpt: String): StreamingQuery = {
    val reader = spark.readStream.format(PollSource.format)
      .option("poller", classOf[HttpPoller].getName)
      .option("url", server.url)
      .option("numPartitions", cores.toString)
    val raw = (if (live) reader else reader.option("maxPerPoll", BackfillMaxPerPoll.toString)).load()
    StreamingIndicators.sinkToStore(
      StreamingIndicators.pipeline(StreamingIndicators.decodeCandleJson(raw)), store, ckpt)
  }

  def prepare(): Unit =
    sched =
      if (live) Schedule(seed, LiveSymbols, WarmTicks + plannedTicks * phases, lateFrom = WarmTicks)
      else {
        // late rows start after the first two batches (see warmup)
        val perMinute = BackfillSymbols * 11 / 10
        Schedule(seed, BackfillSymbols, BackfillMinutes,
          lateFrom = 2 * BackfillMaxPerPoll / perMinute + 2)
      }

  def setup(): Unit = {
    runs += 1
    server = new FeedServer(sched, TickMs, live, threads = math.min(4, cores))
    if (live) {
      val store = dir(s"live-store-$runs")
      query = start(store, dir(s"live-ckpt-$runs"))
      stores.clear(); stores += store
    }
  }

  def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (server != null) { server.close(); server = null }
  }

  /** Timed ticks per window: the run length at the feed's tick rate. */
  private val plannedTicks: Int = seconds * TicksPerSecond

  def warmup(): Unit =
    if (live) {
      // publish nothing until the query has initialized and polled the feed
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (query.status.message != "Waiting for data to arrive" &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      server.startClock(System.currentTimeMillis() + 100, WarmTicks)
      // Late rows start with the timed ticks. Spark filters late rows with
      // the previous batch's watermark, so a batch drops them only once two
      // batches have committed; the timed clock starts after that.
      while (!(query.lastProgress != null && query.lastProgress.batchId >= 2 &&
        endOffset(query.lastProgress) >= sched.tickEnd(WarmTicks - 1)) &&
        System.currentTimeMillis() < deadline + DrainTimeoutMs) Thread.sleep(10)
      server.startTimed(System.currentTimeMillis() + 100)
    } else drain(dir("warm-store"), dir("warm-ckpt"), None)

  // ---- backfill ----

  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.sortBy(_.batchId)

  /** One drain of the whole backlog; returns (drain seconds, batch latencies). */
  private def drain(store: String, ckpt: String, tracer: Option[Tracer]): (Double, Seq[Double]) = {
    val total = sched.lines.length.toLong
    val startWall = System.currentTimeMillis()
    val q = start(store, ckpt)
    tracer.foreach(_.linkToCurrentOp(q.runId.toString))
    try {
      q.processAllAvailable()
      val ps = progressOf(q)
      val last = ps.find(p => endOffset(p) >= total).getOrElse(
        throw new IllegalStateException(s"drain ended before offset $total"))
      val batches = ps.filter(_.numInputRows > 0).map(p => dur(p, "triggerExecution"))
      ((batchEndMs(last) - startWall) / 1000.0, batches)
    } finally q.stop()
  }

  // ---- live ----

  private def liveWindow(tracer: Option[Tracer]): Window = {
    val first = WarmTicks + phase * plannedTicks
    val last = first + plannedTicks - 1
    val dueLast = server.dueMs(last)
    // wait for the last tick to be due, then for its commit
    val deadline = dueLast + DrainTimeoutMs
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      if (query.exception.isDefined) done = true
      else if (System.currentTimeMillis() >= dueLast) {
        val lp = query.lastProgress
        done = lp != null && endOffset(lp) >= sched.tickEnd(last)
      }
    }
    val ps = progressOf(query)
    val commits = (first to last).map { k =>
      ps.find(p => endOffset(p) >= sched.tickEnd(k)).map(batchEndMs)
    }
    val lat = (first to last).zip(commits).collect { case (k, Some(c)) => (c - server.dueMs(k)).toDouble }
    val failed = commits.count(_.isEmpty)
    val pass = commits.last.map(c => (c - server.dueMs(first)) / 1000.0).toSeq
    tracer.foreach { tr =>
      (first to last).zip(commits).foreach {
        case (k, Some(c)) =>
          val tick = tr.addSpan(0L, "tick", s"tick $k",
            tr.wallToMs(server.dueMs(k).toDouble), tr.wallToMs(c.toDouble))
          // a micro-batch is the child of the newest tick it committed
          ps.find(p => endOffset(p) >= sched.tickEnd(k))
            .filter(p => k == last || endOffset(p) < sched.tickEnd(k + 1))
            .foreach { p =>
              val s = tr.wallToMs(Instant(p.timestamp).toDouble)
              val b = tr.addSpan(tick, "micro-batch", s"batch ${p.batchId}", s, s + dur(p, "triggerExecution"))
              tr.link(s"${p.runId}/${p.batchId}", b)
            }
        case _ => ()
      }
    }
    val layers = tracer.map(tr => streamLayers(tr.progress.asScala.toSeq, None)).getOrElse(Map.empty)
    Window.of(lat, pass, plannedTicks, failed, layers)
  }

  def window(seconds: Int, tracer: Option[Tracer]): Window = {
    server.drainCounters() // count this window only
    val w =
      if (live) liveWindow(tracer)
      else {
        val t0 = System.nanoTime()
        val lat = scala.collection.mutable.ArrayBuffer[Double]()
        val pass = scala.collection.mutable.ArrayBuffer[Double]()
        var attempted = 0
        var failed = 0
        while (Stats.seconds(t0) < seconds) {
          attempted += 1
          val store = dir(s"bf-store-$phase-$attempted")
          try {
            val (s, b) = tracer match {
              case Some(tr) => tr.op("drain", s"drain $attempted")(drain(store, dir(s"bf-ckpt-$phase-$attempted"), tracer))
              case None => drain(store, dir(s"bf-ckpt-$phase-$attempted"), None)
            }
            pass += s; lat ++= b; stores += store
          } catch {
            case e: Exception =>
              failed += 1
              Main.log(s"drain $attempted failed: $e")
          }
        }
        val layers = tracer.map(tr =>
          streamLayers(tr.progress.asScala.toSeq,
            Some(sched.onTime.length * pass.size / math.max(1e-9, pass.sum)))).getOrElse(Map.empty)
        Window.of(lat.toSeq, pass.toSeq, attempted, failed, layers)
      }
    phase += 1
    val (reqs, bytes, handler) = server.drainCounters()
    val feed = Map(
      "sources.poll.requests" -> reqs.toDouble,
      "sources.poll.bytes" -> bytes.toDouble,
      "feed.handler_p95_ms" -> Stats.quantile(handler, 0.95))
    if (tracer.isDefined) w.copy(layers = w.layers ++ feed ++ storeLayers()) else w
  }

  private def storeLayers(): Map[String, Double] = {
    val store = stores.last
    val files = listParquet(store)
    val bytes = files.map(f => java.nio.file.Files.size(f)).sum
    val rows = spark.read.parquet(store).count()
    Map(
      "sources.store.files" -> files.size.toDouble,
      "sources.store.bytes" -> bytes.toDouble,
      "sources.store.bytes_per_row" -> bytes.toDouble / math.max(1L, rows))
  }

  // ---- checks ----

  def check(): (Int, Seq[String]) = {
    if (query != null) { query.stop(); query = null }
    import spark.implicits._
    val ref = Indicators.enrich(spark.createDataset(sched.onTime.toSeq).toDF(),
      col("stock_symbol"), col("local_time"), col("close"))
    val want = contentHash(ref)
    val bad = stores.toSeq.flatMap { s =>
      val got = spark.read.parquet(s)
      val late = got.filter(col("local_time") < lit(Gen.ts(0))).count()
      val h = contentHash(got)
      val msgs =
        (if (late > 0) Seq(s"$s holds $late beyond-watermark rows") else Nil) ++
          (if (h != want) Seq(s"$s content $h differs from batch enrich $want") else Nil)
      msgs
    }
    Main.log(s"checked ${stores.size} store(s) against batch enrich of " +
      s"${sched.onTime.length} distinct on-time candles; ${sched.lateRows} late rows " +
      s"and ${sched.resent} re-sends in the feed")
    // live_feed: a bad store fails every tick it holds; backfill: the drain
    val failed = if (bad.isEmpty) 0 else if (live) plannedTicks * phases else bad.size
    (failed, bad)
  }
}

object StreamWorkload {
  val LiveSymbols = 50
  val TickMs = 200L
  val TicksPerSecond = 5
  val WarmTicks = 40
  val DrainTimeoutMs = 30000L
  val BackfillSymbols = 2000
  val BackfillMinutes = 10
  val BackfillMaxPerPoll = 5000

  val EnrichedCols: Seq[String] =
    org.apache.spark.sql.Encoders.product[EnrichedCandle].schema.fieldNames.toSeq

  def Instant(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  def endOffset(p: StreamingQueryProgress): Long =
    if (p.sources.isEmpty || p.sources.head.endOffset == null) -1L
    else p.sources.head.endOffset.trim.toLong

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def batchEndMs(p: StreamingQueryProgress): Long =
    Instant(p.timestamp) + dur(p, "triggerExecution").toLong

  /** Order-independent content hash: (rows, sum of low 32 bits, sum of high
    * 32 bits) of xxhash64 over the enriched columns.
    */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(EnrichedCols.map(col): _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def listParquet(dir: String): Seq[Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq finally s.close()
    }
  }

  /** Per-layer streaming metrics from the traced window's progress events. */
  def streamLayers(all: Seq[StreamingQueryProgress], rowsPerS: Option[Double]): Map[String, Double] = {
    val ps = all.filter(_.numInputRows > 0)
    def med(k: String) = Stats.median(ps.map(dur(_, k)))
    def ops(name: String) = all.flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains(name)))
    val dedup = ops("dedup")
    val ind = ops("flatmapgroupswithstate")
    val rows = ps.map(_.numInputRows).sum.toDouble
    def custom(o: org.apache.spark.sql.streaming.StateOperatorProgress, k: String): Double =
      Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    Map(
      "sources.poll.latest_offset_ms" -> med("latestOffset"),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch" -> Stats.median(ps.map(_.numInputRows.toDouble)),
      "streaming.planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.add_batch_us_per_row" -> 1000.0 * ps.map(dur(_, "addBatch")).sum / math.max(1.0, rows),
      "streaming.dedup.state_rows" -> dedup.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.dedup.state_bytes" -> dedup.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.dedup.commit_ms" -> Stats.median(dedup.map(_.commitTimeMs.toDouble)),
      "streaming.dedup.dropped_rows" -> dedup.map(custom(_, "numDroppedDuplicateRows")).sum,
      "streaming.dedup.kept_ratio" -> dedup.map(_.numRowsUpdated.toDouble).sum / math.max(1.0, rows),
      "streaming.indicators.state_rows" -> ind.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.indicators.state_bytes" -> ind.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.indicators.commit_ms" -> Stats.median(ind.map(_.commitTimeMs.toDouble)),
      "streaming.late_dropped_rows" -> (dedup ++ ind).map(_.numRowsDroppedByWatermark.toDouble).sum
    ) ++ rowsPerS.map("streaming.rows_per_s" -> _)
  }
}
