package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.StockApi
import graft.ops.Indicators
import graft.sources.PartitionedStore

/** `dashboard` (closed loop, one client): the store and API layers, with
  * writes beside reads.
  *
  * Setup enriches 8 symbols x (7 days + 2 hours) of minutes with
  * `Indicators.enrich` and seeds a `PartitionedStore` with it. Each round then
  * appends the next minute's 8 pre-enriched rows (`PartitionedStore.write`,
  * one small file per call: the streaming-sink debris pattern) and runs one
  * dashboard refresh over a `stock_data` view of `PartitionedStore.read`: the
  * four Grafana panel shapes as SQL plus seeded `StockApi.aggregate`,
  * `summarize` and `summarizeMultiple` calls. Periods cycle through {60,
  * 1440, 10080} minutes, symbols are Zipf-skewed, and `now` is the newest
  * appended minute.
  *
  * The operation is a read (panel query or API call); a pass is one round,
  * append included. Every answer is checked against a plain-Scala aggregate
  * over the generated rows.
  */
final class Dashboard(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import Dashboard._

  private val nMin = HistoryMinutes + AppendMinutes
  private var runs = 0
  private var store: String = _
  /** Reference values: field f of symbol s at minute m is vals(f)(s * nMin + m). */
  private var vals: Array[Array[Double]] = _
  private var signals: Array[String] = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var appended = 0
  private val rng = new java.util.Random(seed ^ 0x5DEECE66DL)
  private val zipf = new Gen.Zipf(Symbols)
  private val bad = ArrayBuffer[String]()
  private var checked = 0

  private var enriched: DataFrame = _

  /** Generate the candles and enrich them: the history plus the minutes the
    * rounds will append, kept in memory for the store seeding below.
    */
  def prepare(): Unit = {
    import spark.implicits._
    val candles = Gen.walks(new java.util.Random(seed), Symbols, nMin).flatten.toSeq
    enriched = Indicators.enrich(spark.createDataset(candles).toDF(),
      col("stock_symbol"), col("local_time"), col("close"))
      .select(StreamWorkload.EnrichedCols.map(col): _*)
      .persist()
    enriched.count()
  }

  /** Seed a fresh store with the history. */
  def setup(): Unit = {
    runs += 1
    store = work.resolve(s"dash-store-$runs").toString
    PartitionedStore.write(enriched.filter(col("local_time") < lit(Gen.ts(HistoryMinutes))), store)
  }

  /** The check's reference and the rows to append, collected once, outside
    * the set-up time.
    */
  private def collectReference(): Unit = {
    val oldest = HistoryMinutes - Periods.max - 1
    val rows = enriched.filter(col("local_time") >= lit(Gen.ts(oldest))).collect()
    schema = enriched.schema
    vals = Array.fill(NumFields.size)(new Array[Double](Symbols * nMin))
    signals = new Array[String](Symbols * nMin)
    rows.foreach { r =>
      val s = r.getString(0).drop(1).toInt
      val m = ((r.getTimestamp(1).getTime - Gen.Epoch) / 60000L).toInt
      val i = s * nMin + m
      NumFields.indices.foreach { f =>
        val v = r.get(r.fieldIndex(NumFields(f)))
        vals(f)(i) = if (v == null) Double.NaN else v.asInstanceOf[Double]
      }
      signals(i) = r.getAs[String]("signal")
    }
    appendSource = rows.groupBy(r => ((r.getTimestamp(1).getTime - Gen.Epoch) / 60000L).toInt)
      .filter(_._1 >= HistoryMinutes)
    enriched.unpersist()
  }

  private var appendSource: Map[Int, Array[Row]] = Map.empty

  def teardown(): Unit = ()

  /** Untimed rounds: read latencies fall for several rounds while the JIT
    * compiles the planner and the scan path.
    */
  def warmup(): Unit = {
    val t0 = System.nanoTime()
    collectReference()
    Main.log(f"reference collected in ${Stats.seconds(t0)}%.3f s")
    for (_ <- 1 to WarmRounds) round(None)
  }

  private def nowMinute: Int = HistoryMinutes + appended - 1

  /** Periods cycle over a round's reads, shifted by one each round, so every
    * round reads about the same mix of short and long ranges whatever the
    * seed; symbols, fields and aggregations are drawn.
    */
  private var rounds = 0
  private def period(read: Int): Int = Periods((rounds + read) % Periods.size)
  private def sym(): Int = zipf.draw(rng)
  private def distinctSyms(n: Int): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet[Int]()
    while (out.size < n) out += sym()
    out.toSeq
  }

  private def tsLit(m: Int): String = {
    val t = java.time.Instant.ofEpochMilli(Gen.Epoch + m * 60000L).toString
    s"TIMESTAMP '${t.replace("T", " ").stripSuffix("Z")}'"
  }

  /** One round; returns (read latencies, round seconds, append ms, failed). */
  private def round(tracer: Option[Tracer]): (Seq[(String, Double)], Double, Double, Int) = {
    def op[A](kind: String)(f: => A): A = tracer match {
      case Some(tr) => tr.op(kind, kind)(f)
      case None => f
    }
    val t0 = System.nanoTime()
    var failed = 0
    val m = HistoryMinutes + appended
    require(appendSource.contains(m), "dashboard ran out of pre-enriched minutes")
    val appendMs = try {
      val (_, ms) = Stats.timed(op("append") {
        PartitionedStore.write(spark.createDataFrame(appendSource(m).toSeq.asJava, schema), store)
      })
      appended += 1
      ms
    } catch { case e: Exception => failed += 1; bad += s"append threw $e"; Double.NaN }
    val now = nowMinute
    val nowTs = Gen.ts(now)
    val reads = ArrayBuffer[(String, Double)]()
    def read(kind: String, params: Seq[Any])(f: DataFrame => Any): Unit =
      try {
        // re-read per call: appends add files the previous listing lacks
        val (res, ms) = Stats.timed(op(kind) {
          val df = PartitionedStore.read(spark, store)
          df.createOrReplaceTempView("stock_data")
          f(df)
        })
        // checked outside the timed call; a wrong answer is a failed call
        val c = Call(kind, now, params, res)
        checked += 1
        if (ok(c)) reads += ((kind, ms))
        else {
          failed += 1
          bad += s"$kind ${params.mkString(",")} now=$now returned $res"
        }
      } catch { case e: Exception => failed += 1; bad += s"$kind threw $e" }

    def range(p: Int) = s"local_time BETWEEN ${tsLit(now - p)} AND ${tsLit(now)}"
    val (s1, p1) = (sym(), period(0))
    read("panel_timeseries", Seq(s1, p1)) { _ =>
      spark.sql(s"SELECT rsi_10, sma_5, ema_10, gain, loss, local_time AS time FROM stock_data " +
        s"WHERE stock_symbol = '${Gen.symbol(s1)}' AND ${range(p1)} ORDER BY time").collect().toSeq
    }
    val (s2, p2) = (sym(), period(1))
    read("panel_latest_signal", Seq(s2, p2)) { _ =>
      spark.sql(s"SELECT signal, local_time FROM stock_data WHERE stock_symbol = " +
        s"'${Gen.symbol(s2)}' AND ${range(p2)} ORDER BY local_time DESC LIMIT 1").collect().toSeq
    }
    val (s3, p3) = (sym(), period(2))
    read("panel_close_stats", Seq(s3, p3)) { _ =>
      spark.sql(s"SELECT max(close) AS max_close, avg(close) AS avg_close, min(close) AS min_close " +
        s"FROM stock_data WHERE stock_symbol = '${Gen.symbol(s3)}' AND ${range(p3)}").collect().toSeq
    }
    val (s4, p4) = (distinctSyms(4), period(3))
    read("panel_losses_pivot", Seq(s4, p4)) { _ =>
      val cols = s4.map(s => s"avg(CASE WHEN stock_symbol = '${Gen.symbol(s)}' THEN loss END) AS l$s")
      spark.sql(s"SELECT ${cols.mkString(", ")} FROM stock_data WHERE stock_symbol IN " +
        s"(${s4.map(s => s"'${Gen.symbol(s)}'").mkString(", ")}) AND ${range(p4)}").collect().toSeq
    }
    val (agg, field, s5, p5) = (Aggs(rng.nextInt(Aggs.size)), NumFields(rng.nextInt(NumFields.size)), sym(), period(4))
    read("api_aggregate", Seq(agg, field, s5, p5)) { df =>
      StockApi.aggregate(df, agg, Gen.symbol(s5), p5, field, nowTs).value
    }
    val (s6, p6) = (sym(), period(5))
    read("api_summarize", Seq(s6, p6)) { df =>
      StockApi.summarize(df, Gen.symbol(s6), p6, nowTs).summary
    }
    val (s7, p7) = (distinctSyms(5), period(6))
    read("api_summarize_multiple", Seq(s7, p7)) { df =>
      StockApi.summarizeMultiple(df, s7.map(Gen.symbol), p7, nowTs)
    }
    rounds += 1
    (reads.toSeq, Stats.seconds(t0), appendMs, failed)
  }

  def window(seconds: Int, tracer: Option[Tracer]): Window = {
    val filesBefore = StreamWorkload.listParquet(store).size
    val t0 = System.nanoTime()
    val reads = ArrayBuffer[(String, Double)]()
    val passes = ArrayBuffer[Double]()
    val appends = ArrayBuffer[Double]()
    var failed = 0
    var attempted = 0
    while (Stats.seconds(t0) < seconds) {
      val (r, s, a, f) = round(tracer)
      reads ++= r; passes += s; failed += f
      Main.log(f"round ${passes.size}: $s%.3f s, reads ${r.map(x => f"${x._2}%.0f").mkString(" ")} ms")
      if (!a.isNaN) appends += a
      attempted += 8
    }
    val layers = tracer.map { tr =>
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      def medOf(k: String) = Stats.median(reads.filter(_._1 == k).map(_._2).toSeq)
      val execs = tr.execs.asScala.toSeq.filter(_.funcName != "save")
      val files = StreamWorkload.listParquet(store)
      def per(f: Exec => Double) = if (execs.isEmpty) 0.0 else execs.map(f).sum / execs.size
      Map(
        "api.aggregate_ms" -> medOf("api_aggregate"),
        "api.summarize_ms" -> medOf("api_summarize"),
        "api.summarize_multiple_ms" -> medOf("api_summarize_multiple"),
        "api.panel_ms" -> Stats.median(reads.filter(_._1.startsWith("panel")).map(_._2).toSeq),
        "api.append_ms" -> Stats.median(appends.toSeq),
        "api.plan_ms" -> Stats.median(execs.map(_.planMs)),
        "api.exec_ms" -> Stats.median(execs.map(_.durMs)),
        "api.rows_scanned_per_call" -> per(_.rowsScanned.toDouble),
        "sources.store.files_read_per_call" -> per(_.files.toDouble),
        "sources.store.bytes_read_per_call" -> per(_.bytes.toDouble),
        "sources.store.partitions_read_per_call" -> per(_.partitions.toDouble),
        "sources.store.append_files" -> (files.size - filesBefore).toDouble / math.max(1, appends.size),
        "sources.store.files" -> files.size.toDouble,
        "sources.store.bytes" -> files.map(f => java.nio.file.Files.size(f)).sum.toDouble,
        "sources.store.bytes_per_row" ->
          files.map(f => java.nio.file.Files.size(f)).sum.toDouble / (Symbols.toDouble * (HistoryMinutes + appended)))
    }.getOrElse(Map.empty)
    Window.of(reads.map(_._2).toSeq, passes.toSeq, attempted, failed,
      layers + ("dashboard.append_p50_ms" -> Stats.median(appends.toSeq)))
  }

  // ---- plain-Scala reference ----

  private def field(f: String, s: Int, m: Int): Double = vals(NumFields.indexOf(f))(s * nMin + m)
  private def minutes(now: Int, p: Int): Range = (now - p) to now
  private def defined(f: String, s: Int, r: Range): Seq[Double] =
    r.map(m => field(f, s, m)).filterNot(_.isNaN)
  private def max(xs: Seq[Double]) = xs.reduceOption(_ max _)
  private def min(xs: Seq[Double]) = xs.reduceOption(_ min _)
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) None else Some(xs.sum / xs.size)
  /** `graft.queries.Num.davg`: fixed 6-decimal sum over the count. */
  private def davg(xs: Seq[Double]) =
    if (xs.isEmpty) None else Some(xs.map(x => math.floor(x * 1e6).toLong).sum.toDouble / 1e6 / xs.size)

  private def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case (None, None) => true
    case _ => false
  }
  private def opt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  private def summaryOk(got: StockApi.StockSummary, s: Int, r: Range): Boolean = {
    def stat(st: StockApi.Stat, f: String) = {
      val xs = defined(f, s, r)
      close(st.avg, davg(xs)) && st.highest == max(xs) && st.lowest == min(xs)
    }
    stat(got.close, "close") && stat(got.sma5, "sma_5") && stat(got.ema10, "ema_10") &&
      stat(got.rsi10, "rsi_10") && got.gainLoss.highestGain == max(defined("gain", s, r)) &&
      got.gainLoss.highestLoss == max(defined("loss", s, r))
  }

  private def ok(c: Call): Boolean = (c.kind, c.params, c.result) match {
    case ("panel_timeseries", Seq(s: Int, p: Int), rows: Seq[Row @unchecked]) =>
      val r = minutes(c.now, p)
      rows.size == r.size && rows.zip(r).forall { case (row, m) =>
        row.getTimestamp(5).getTime == Gen.ts(m).getTime &&
          Seq("rsi_10", "sma_5", "ema_10", "gain", "loss").zipWithIndex.forall { case (f, i) =>
            val want = field(f, s, m)
            if (want.isNaN) row.isNullAt(i) else !row.isNullAt(i) && row.getDouble(i) == want
          }
      }
    case ("panel_latest_signal", Seq(s: Int, _), rows: Seq[Row @unchecked]) =>
      rows.size == 1 && rows.head.getString(0) == signals(s * nMin + c.now) &&
        rows.head.getTimestamp(1).getTime == Gen.ts(c.now).getTime
    case ("panel_close_stats", Seq(s: Int, p: Int), Seq(row: Row)) =>
      val xs = defined("close", s, minutes(c.now, p))
      opt(row, 0) == max(xs) && close(opt(row, 1), mean(xs)) && opt(row, 2) == min(xs)
    case ("panel_losses_pivot", Seq(ss: Seq[Int @unchecked], p: Int), Seq(row: Row)) =>
      ss.zipWithIndex.forall { case (s, i) => close(opt(row, i), mean(defined("loss", s, minutes(c.now, p)))) }
    case ("api_aggregate", Seq(agg: String, f: String, s: Int, p: Int), v: Option[Double @unchecked]) =>
      val xs = defined(f, s, minutes(c.now, p))
      agg match {
        case "avg" => close(v, davg(xs))
        case "highest" => v == max(xs)
        case "lowest" => v == min(xs)
      }
    case ("api_summarize", Seq(s: Int, p: Int), got: StockApi.StockSummary) =>
      summaryOk(got, s, minutes(c.now, p))
    case ("api_summarize_multiple", Seq(ss: Seq[Int @unchecked], p: Int), got: StockApi.MultiSummaryResponse) =>
      got.errors.isEmpty && got.summaries.size == ss.size && ss.forall { s =>
        got.summaries.get(Gen.symbol(s)).exists(summaryOk(_, s, minutes(c.now, p)))
      }
    case _ => false
  }

  def check(): (Int, Seq[String]) = {
    Main.log(s"checked $checked answers against plain-Scala aggregates")
    (0, bad.toSeq)
  }
}

object Dashboard {
  val Symbols = 8
  /** Seven days and two hours: the longest period (7 days) reads most of
    * the store, the shorter ones prune by time.
    */
  val HistoryMinutes: Int = 7 * 1440 + 120
  /** Pre-enriched minutes available for appends, one per round. */
  val AppendMinutes = 400
  val WarmRounds = 2
  val Periods: Seq[Int] = Seq(60, 1440, 10080)
  val Aggs: Seq[String] = Seq("avg", "highest", "lowest")
  val NumFields: Seq[String] = Seq("open", "high", "low", "close", "volume", "sma_5", "ema_10",
    "delta", "gain", "loss", "avg_gain_10", "avg_loss_10", "rs", "rsi_10")

  final case class Call(kind: String, now: Int, params: Seq[Any], result: Any)
}
