package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the span that caused it (0 = the run). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, links: Seq[String] = Nil) {
  def durMs: Double = endMs - startMs
}

/** A finished SQL execution as the QueryExecutionListener saw it. */
final case class Exec(funcName: String, durMs: Double, planMs: Double,
    files: Long, bytes: Long, partitions: Long, rowsScanned: Long)

/** Stage totals as the SparkListener saw them. */
final case class StageStat(tasks: Int, shuffleBytes: Long, spillBytes: Long,
    skew: Double)

/** Traced mode. Listens only through Spark's public listener interfaces and
  * the benchmark's own timers around each public call; nothing inside the
  * library is instrumented. Spans stay in memory and are written out when
  * the run ends.
  *
  * Hierarchy: the run (span 0) -> one span per operation (tick, micro-batch
  * drain, call, append, entry) -> the Spark jobs and SQL executions it
  * caused. Jobs are linked to their operation through the job group the
  * benchmark sets before each call; jobs a streaming query runs carry its
  * run id and batch id instead, and link to the drain or micro-batch span
  * registered under those keys. Micro-batches are linked to the tick whose
  * records they committed.
  */
final class Tracer(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Wall = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def wallToMs(epochMs: Double): Double = epochMs - t0Wall

  private var nextId = 1L
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val links = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var currentOp = 0L

  /** Jobs carrying `key` (a streaming run id or run/batch pair) belong to span `id`. */
  def link(key: String, id: Long): Unit = links.put(key, id)
  def linkToCurrentOp(key: String): Unit = link(key, currentOp)

  /** Every span, with job spans re-parented through their links. */
  def spans: Seq[Span] = spanQ.asScala.toSeq.map { s =>
    if (s.parent != 0L) s
    else s.copy(parent = s.links.flatMap(k => Option(links.get(k))).headOption.map(_.longValue).getOrElse(0L))
  }

  /** Run `f` as operation `name`; Spark jobs it starts carry its span id. */
  def op[A](kind: String, name: String)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val start = nowMs
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    currentOp = id
    try f
    finally {
      sc.clearJobGroup()
      currentOp = 0L
      spanQ.add(Span(id, 0L, kind, name, start, nowMs))
    }
  }

  def addSpan(parent: Long, kind: String, name: String, startMs: Double, endMs: Double,
      links: Seq[String] = Nil): Long = {
    val id = synchronized { nextId += 1; nextId }
    spanQ.add(Span(id, parent, kind, name, startMs, endMs, links))
    id
  }

  // ---- engine: jobs, stages, tasks ----
  private val jobStart = mutable.Map[Int, (Double, Long, Seq[String])]()
  private val RunBatch = """(?s).*runId = ([0-9a-f-]+)\s+batch = (\d+).*""".r
  val stages = new ConcurrentLinkedQueue[StageStat]()
  private val taskTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  @volatile var jobs = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val g = prop("spark.jobGroup.id")
      val parent = g.filter(_.startsWith("op-")).map(_.drop(3).toLong).getOrElse(0L)
      val keys = prop("spark.job.description").toSeq.flatMap {
        case RunBatch(run, batch) => Seq(s"$run/$batch", run)
        case _ => Nil
      } ++ g.toSeq
      jobStart.synchronized(jobStart(e.jobId) = (wallToMs(e.time.toDouble), parent, keys))
      jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.synchronized(jobStart.remove(e.jobId))
      s.foreach { case (start, parent, keys) =>
        addSpan(parent, "job", s"job ${e.jobId}", start, wallToMs(e.time.toDouble), keys)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) taskTimes.synchronized {
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
          .append(e.taskInfo.duration)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val times = taskTimes.synchronized(taskTimes.remove((i.stageId, i.attemptNumber())))
        .map(_.toSeq.map(_.toDouble)).getOrElse(Nil)
      val med = Stats.median(times)
      val skew = if (times.isEmpty || med <= 0) 1.0 else times.max / med
      stages.add(StageStat(i.numTasks,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled, skew))
    }
  }

  // ---- SQL executions: planning phases and scan-node metrics ----
  val execs = new ConcurrentLinkedQueue[Exec]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val scans = leaves(qe.executedPlan)
      def metric(n: String): Long =
        scans.flatMap(_.metrics.get(n)).map(_.value).sum
      execs.add(Exec(funcName, durationNs / 1e6, plan, metric("numFiles"),
        metric("filesSize"), metric("numPartitions"), metric("numOutputRows")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case s: QueryStageExec => leaves(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
  }

  // ---- streaming progress ----
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  // ---- JVM ----
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private var gcAtAttach = 0L

  def attach(): Unit = {
    gcAtAttach = gcMs
    heapPools.foreach(_.resetPeakUsage())
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after the listener bus has delivered what is queued. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def gcSinceAttachMs: Double = (gcMs - gcAtAttach).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Self time of each span: its duration minus the union of its children. */
  def selfTimes(): Map[Long, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> (s.durMs - covered)
    }.toMap
  }

  /** Engine metrics over everything seen since attach. */
  def engineMetrics(): Seq[(String, Double, String)] = {
    val st = stages.asScala.toSeq
    Seq(
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.stages", st.size.toDouble, "count"),
      ("spark.tasks", st.map(_.tasks).sum.toDouble, "count"),
      ("spark.shuffle_bytes", st.map(_.shuffleBytes).sum.toDouble, "B"),
      ("spark.spill_bytes", st.map(_.spillBytes).sum.toDouble, "B"),
      ("spark.task_skew", if (st.isEmpty) 1.0 else Stats.median(st.map(_.skew)), "ratio"),
      ("jvm.gc_ms", gcSinceAttachMs, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"))
  }

  /** Write spans as JSON lines, with self time. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfTimes()
    val lines = spans.sortBy(_.startMs).map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"$name",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
