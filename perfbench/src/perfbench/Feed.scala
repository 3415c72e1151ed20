package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.Candle

/** Seeded candle generator. Every symbol follows its own random walk, one
  * candle per event-time minute. Minute 0 is [[Gen.Epoch]]; minutes below 0
  * are the beyond-watermark late rows.
  */
object Gen {
  val Epoch: Long = java.time.Instant.parse("2025-01-06T00:00:00Z").toEpochMilli

  def ts(minute: Long): Timestamp = new Timestamp(Epoch + minute * 60000L)

  def symbol(i: Int): String = f"S$i%04d"

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** `nMin` consecutive candles per symbol: prices(s)(m) for minute m. */
  def walks(rng: java.util.Random, nSym: Int, nMin: Int): Array[Array[Candle]] =
    Array.tabulate(nSym) { s =>
      var prev = round4(20.0 + 180.0 * rng.nextDouble())
      Array.tabulate(nMin) { m =>
        val open = prev
        val close = round4(math.max(1.0, open * math.exp(0.002 * rng.nextGaussian())))
        val high = round4(math.max(open, close) * (1 + 0.001 * math.abs(rng.nextGaussian())))
        val low = round4(math.min(open, close) * (1 - 0.001 * math.abs(rng.nextGaussian())))
        prev = close
        Candle(symbol(s), ts(m), open, high, low, close,
          (1000 + rng.nextInt(9000)).toDouble)
      }
    }

  def randomCandle(rng: java.util.Random, sym: Int, minute: Long): Candle = {
    val c = round4(20.0 + 180.0 * rng.nextDouble())
    Candle(symbol(sym), ts(minute), c, c, c, c, (1000 + rng.nextInt(9000)).toDouble)
  }

  def json(c: Candle): String = {
    val t = java.time.Instant.ofEpochMilli(c.local_time.getTime).toString
    s"""{"stock_symbol":"${c.stock_symbol}","local_time":"$t","open":${c.open},""" +
      s""""high":${c.high},"low":${c.low},"close":${c.close},"volume":${c.volume}}"""
  }

  /** Zipf(s) sampler over `n` ranks; rank 0 is the most popular. */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(rng: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** A cursored feed: its records in cursor order, grouped into ticks, plus the
  * distinct on-time candles it carries (what the store must end up holding).
  *
  * Each tick carries one new candle per symbol for that tick's minute, about
  * 10% re-sends of candles from the previous three ticks (Zipf-chosen
  * symbols: the reference's overlapping poll window), and, from tick
  * `lateFrom` on, about 1% new candles stamped a day or more before minute 0
  * (far beyond the 1-hour watermark).
  */
final class Schedule(
    val lines: Array[String],
    val tickEnd: Array[Long],
    val onTime: Array[Candle],
    val lateRows: Int,
    val resent: Int)

object Schedule {
  def apply(seed: Long, nSym: Int, nTicks: Int, lateFrom: Int): Schedule = {
    val rng = new java.util.Random(seed)
    val walks = Gen.walks(rng, nSym, nTicks)
    val zipf = new Gen.Zipf(nSym)
    val lines = ArrayBuffer[String]()
    val tickEnd = new Array[Long](nTicks)
    var late = 0
    var resent = 0
    var lateMinute = -1440L
    for (k <- 0 until nTicks) {
      val tick = ArrayBuffer[String]()
      for (s <- 0 until nSym) tick += Gen.json(walks(s)(k))
      if (k > 0) for (_ <- 0 until math.max(1, nSym / 10)) {
        val back = 1 + rng.nextInt(math.min(k, 3))
        tick += Gen.json(walks(zipf.draw(rng))(k - back))
        resent += 1
      }
      if (k >= lateFrom) for (s <- 0 until nSym if rng.nextDouble() < 0.01) {
        tick += Gen.json(Gen.randomCandle(rng, s, lateMinute))
        lateMinute -= 1
        late += 1
      }
      // arrival order within a tick is arbitrary; the pipeline must not care
      val shuffled = scala.util.Random.javaRandomToRandom(rng).shuffle(tick)
      lines ++= shuffled
      tickEnd(k) = lines.length.toLong
    }
    val onTime = (0 until nTicks).iterator
      .flatMap(k => (0 until nSym).iterator.map(s => walks(s)(k))).toArray
    new Schedule(lines.toArray, tickEnd, onTime, late, resent)
  }
}

/** The feed endpoint: the `op=end` / `op=fetch` contract of
  * `graft.sources.HttpPoller`, served by at most `threads` handler threads.
  *
  * Live mode: tick k is published at its due time, so the frontier is a pure
  * function of the clock and the schedule never slows when the system under
  * test does. The warm-up ticks run on one clock; the timed ticks run on a
  * second one, started once the warm-up has been committed. Backlog mode:
  * everything is published from the start.
  */
final class FeedServer(sched: Schedule, tickMs: Long, live: Boolean, threads: Int) {
  @volatile private var t0: Long = Long.MaxValue
  @volatile private var t1: Long = Long.MaxValue
  @volatile private var warmTicks: Int = 0
  val requests = new AtomicLong
  val bytes = new AtomicLong
  private val handlerNanos = new ConcurrentLinkedQueue[java.lang.Long]()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/feed", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/feed"

  /** Start publishing: tick 0 is due at `at` (epoch ms); ticks from
    * `warm` on wait for [[startTimed]].
    */
  def startClock(at: Long, warm: Int): Unit = { warmTicks = warm; t0 = at }
  /** Tick `warm` is due at `at`, the ones after it on the same cadence. */
  def startTimed(at: Long): Unit = t1 = at

  def dueMs(k: Int): Long =
    if (k < warmTicks) t0 + k * tickMs else t1 + (k - warmTicks) * tickMs

  def frontier(now: Long): Long =
    if (!live) sched.lines.length.toLong
    else if (now < t0) 0L
    else {
      val k =
        if (now < t1) math.min(warmTicks - 1, ((now - t0) / tickMs).toInt)
        else warmTicks + ((now - t1) / tickMs).toInt
      sched.tickEnd(math.min(k, sched.tickEnd.length - 1))
    }

  private def handle(ex: HttpExchange): Unit = {
    val t = System.nanoTime()
    try {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").flatMap { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => Some(k -> v)
            case _ => None
          }
        }.toMap
      val end = frontier(System.currentTimeMillis())
      val body = q.get("op") match {
        case Some("end") => end.toString
        case Some("fetch") =>
          val since = q("since").toLong
          val until = math.min(end, since + q("max").toLong)
          val sb = new java.lang.StringBuilder
          var i = since
          while (i < until) { sb.append(sched.lines(i.toInt)).append('\n'); i += 1 }
          sb.toString
        case _ => null
      }
      if (body == null) {
        ex.sendResponseHeaders(400, -1)
      } else {
        val b = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
        bytes.addAndGet(b.length.toLong)
      }
      requests.incrementAndGet()
    } finally {
      ex.close()
      handlerNanos.add(System.nanoTime() - t)
    }
  }

  /** Counters since the last call, as (requests, bytes, handler ms samples). */
  def drainCounters(): (Long, Long, Seq[Double]) = {
    val ms = ArrayBuffer[Double]()
    var x = handlerNanos.poll()
    while (x != null) { ms += x / 1e6; x = handlerNanos.poll() }
    (requests.getAndSet(0), bytes.getAndSet(0), ms.toSeq)
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
