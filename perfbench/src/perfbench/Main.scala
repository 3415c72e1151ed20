package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one timed window measured: the workload's median and tail operation
  * latency (ms), its pass time (s), how many operations and passes these
  * rest on, and the per-layer values the workload itself measured.
  */
final case class Window(
    p50Ms: Double,
    tailMs: Double,
    passS: Double,
    ops: Int,
    passes: Int,
    attempted: Int,
    failed: Int,
    layers: Map[String, Double] = Map.empty)

object Window {
  /** The usual summary: quantiles over operation latencies `lat` (ms) and the
    * median of the pass times `passS` (s).
    */
  def of(
      lat: Seq[Double],
      passS: Seq[Double],
      attempted: Int,
      failed: Int,
      layers: Map[String, Double] = Map.empty): Window =
    Window(Stats.median(lat), Stats.quantile(lat, Stats.TailQ), Stats.median(passS),
      lat.size, passS.size, attempted, failed, layers)
}

trait Workload {
  /** Generate the inputs; runs once. */
  def prepare(): Unit
  /** Create the system's state from the inputs. Runs [[Main.SetupReps]]
    * times, with [[teardown]] in between. `setup_s` is the time of
    * [[prepare]] plus the median time of this.
    */
  def setup(): Unit
  def teardown(): Unit
  /** Untimed operations before the first timed window. */
  def warmup(): Unit
  /** Run operations for `seconds` seconds; closed loops finish the pass
    * they are in when the time is up.
    */
  def window(seconds: Int, tracer: Option[Tracer]): Window
  /** Output checks, outside every timed window: (failed ops, messages). */
  def check(): (Int, Seq[String])
}

object Main {
  val SetupReps = 3

  final case class Args(
      workload: String = "",
      seed: Long = 0L,
      seconds: Int = 10,
      trace: Boolean = false,
      work: String = ".",
      tables: String = "",
      expected: String = "",
      spans: String = "spans.jsonl",
      record: Boolean = false,
      train: Boolean = false,
      genTables: Option[String] = None)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--tables" :: v :: t => parse(t, a.copy(tables = v))
    case "--expected" :: v :: t => parse(t, a.copy(expected = v))
    case "--spans" :: v :: t => parse(t, a.copy(spans = v))
    case "--record" :: t => parse(t, a.copy(record = true))
    case "--train" :: t => parse(t, a.copy(train = true))
    case "--gen-tables" :: v :: t => parse(t, a.copy(genTables = Some(v)))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** The session a deployment would run: the library's extensions, UTC,
    * AQE on, one shuffle partition per core.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep every micro-batch's progress: emit latency is read from it
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${Stats.seconds(started)}%.1fs] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = session(cores, work)
    val code =
      try a.genTables match {
        case Some(dir) => Analytics.generateTables(spark, dir); 0
        // the build's class-data-sharing run: a short live_feed run loads
        // the session, SQL, streaming and parquet classes every workload uses
        case None if a.train => run(spark, a.copy(workload = "live_feed", seconds = 1), cores, work)
        case None => run(spark, a, cores, work)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, cores: Int, work: Path): Int = {
    val w: Workload = a.workload match {
      case "live_feed" => new StreamWorkload(spark, cores, work, a.seed, live = true, a.trace, a.seconds)
      case "backfill" => new StreamWorkload(spark, cores, work, a.seed, live = false, a.trace, a.seconds)
      case "dashboard" => new Dashboard(spark, work, a.seed)
      case "analytics" => new Analytics(spark, a.tables, a.seed, a.expected, a.record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} cores=$cores")
    val t0 = System.nanoTime()
    w.prepare()
    val prepareS = Stats.seconds(t0)
    val setupS = (0 until SetupReps).map { i =>
      if (i > 0) w.teardown()
      val t0 = System.nanoTime()
      w.setup()
      Stats.seconds(t0)
    }
    log(f"prepare ${prepareS}%.3f s, setup runs ${setupS.map(x => f"$x%.3f").mkString(" ")} s")
    w.warmup()
    log("warm-up done")
    val untraced = w.window(a.seconds, None)
    log("timed window done")
    val traced = if (!a.trace) None else {
      val tr = new Tracer(spark)
      tr.attach()
      val r = try w.window(a.seconds, Some(tr)) finally tr.detach()
      tr.writeSpans(Paths.get(a.spans))
      Some((r, tr))
    }
    val (checkFailed, msgs) = w.check()
    msgs.foreach(m => log(s"CHECK FAILED: $m"))
    w.teardown()

    val attempted = untraced.attempted + traced.map(_._1.attempted).getOrElse(0)
    val failed = math.min(attempted,
      untraced.failed + traced.map(_._1.failed).getOrElse(0) + checkFailed)
    val correct = msgs.isEmpty && failed == 0
    val failedShare = failed.toDouble / math.max(1, attempted)
    log(f"cores=$cores ops=${untraced.ops} passes=${untraced.passes} " +
      f"attempted=$attempted failed=$failed failed_share=$failedShare%.4f")

    val metrics = traced match {
      case None =>
        Seq(
          ("setup_s", prepareS + Stats.median(setupS), "s"),
          ("p50_ms", untraced.p50Ms, "ms"),
          ("tail_ms", untraced.tailMs, "ms"),
          ("pass_s", untraced.passS, "s"))
      case Some((r, tr)) =>
        val overhead = 100.0 * (r.p50Ms / untraced.p50Ms - 1.0)
        val spans = tr.spans
        val self = tr.selfTimes()
        val ops = spans.filter(_.parent == 0L)
        val opSelf = ops.map(s => self(s.id)).sum / math.max(1e-9, ops.map(_.durMs).sum)
        val have = r.layers ++ tr.engineMetrics().map(m => m._1 -> m._2) ++ Map(
          "failed_share" -> failedShare,
          "trace.overhead_pct" -> overhead,
          "trace.spans" -> spans.size.toDouble,
          "trace.op_self_share" -> opSelf)
        Layers.all.map { case (n, u) => (n, have.getOrElse(n, 0.0), u) }
    }
    println(Stats.resultLine(correct, attempted, failed, metrics))
    if (correct) 0 else 1
  }
}
