package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The one local-vs-distributed decision for every driver-local tail
  * ([[GraphLocal]], [[GreedyLocal]], [[SaLocal]], the
  * [[ConnectedComponents]] union-find, the [[Mst]] Kruskal tail). Per
  * round fixed cost dominates small inputs (guide §1.2), so a tail
  * collects its input and runs the op's exact recurrence on the driver;
  * the distributed rounds carry anything larger, with bit-identical rows.
  *
  * Budget: 1/[[HeapShare]] of the driver heap, in bytes, with no conf key.
  * Size: rows × (`schema.defaultSize` + [[RowOverhead]]), or a
  * per-character charge off a count the caller already computed. Where
  * a count would exist only to gate, [[collect]] probes with
  * `limit(bound + 1)` and the local branch reuses the rows.
  * Each decision is logged at INFO (logger `graft.ops.LocalTail`).
  * When a tail fires, its collect and loop run at DataFrame-construction
  * time and the op returns a LocalTableScan.
  */
private[graft] object LocalTail {

  /** Budget = 1/HeapShare of the driver heap. Measured at -Xmx3g with
    * inputs charged at the whole budget, heap after GC (garbage
    * included) peaked near a quarter of the heap: the CC union-find at
    * 0.23 of it, Kruskal at 0.27, GraphLocal's bfs at 0.21.
    */
  val HeapShare = 24L

  /** Heap bytes a collected row costs beyond its defaultSize: the Row,
    * its value array, the boxed values.
    */
  val RowOverhead = 64L

  sealed trait Branch
  case object Local extends Branch
  case object Distributed extends Branch

  /** `bytes`: the measured size (an overflowed probe's bound + 1 rows). */
  final case class Decision(
      op: String, branch: Branch, bytes: Long, budget: Long)

  private final class Scope(val force: Option[Branch]) {
    val decisions = scala.collection.mutable.ArrayBuffer.empty[Decision]
  }
  @volatile private var scope: Option[Scope] = None

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.LocalTail")

  /** Test-only: run `body` with every gate forced to `force` (None keeps
    * the measured decision) and return the decisions made inside.
    */
  private[graft] def scoped[T](force: Option[Branch])(body: => T)
      : (T, Seq[Decision]) = synchronized {
    val prev = scope
    val s = new Scope(force)
    scope = Some(s)
    try (body, s.decisions.toList)
    finally scope = prev
  }

  /** The budget in force; a forced branch passes or fails every size.
    * Also capped at `spark.driver.maxResultSize` (0 = unlimited), which
    * a probe's collect must pass.
    */
  def budget(spark: SparkSession): Long = scope.flatMap(_.force) match {
    case Some(Local) => Long.MaxValue
    case Some(Distributed) => -1L
    case None =>
      val heap = Runtime.getRuntime.maxMemory / HeapShare
      val results = spark.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g")
      if (results > 0) math.min(heap, results) else heap
  }

  /** Estimated heap bytes of one collected row of `schema`. */
  def rowBytes(schema: StructType): Long = schema.defaultSize + RowOverhead

  private def record(
      op: String, local: Boolean, bytes: Long, budget: Long): Boolean = {
    val branch = if (local) Local else Distributed
    scope.foreach(_.decisions += Decision(op, branch, bytes, budget))
    log.info(s"op=$op branch=${branch.toString.toLowerCase} bytes=$bytes budget=$budget")
    branch == Local
  }

  /** Gate on a size the caller already knows. True = run the local tail. */
  def fits(spark: SparkSession, op: String, bytes: Long): Boolean = {
    val b = budget(spark)
    record(op, bytes <= b, bytes, b)
  }

  /** Bounded probe of one frame: its rows if they fit, else None. */
  def collect(op: String, df: DataFrame): Option[Array[Row]] =
    collectAll(op, Seq(df)).map(_.head)

  /** Bounded probe of several frames under one shared budget: each is
    * collected through `limit(bound + 1)` with what the frames before it
    * left; the first one over its bound stops the probe.
    */
  def collectAll(op: String, dfs: Seq[DataFrame]): Option[Seq[Array[Row]]] = {
    val b = budget(dfs.head.sparkSession)
    var bytes = 0L
    var over = false
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
    val it = dfs.iterator
    while (it.hasNext && !over) {
      val df = it.next()
      val rb = rowBytes(df.schema)
      val bound = math.max(0L, math.min((b - bytes) / rb, Int.MaxValue - 1L))
      val rows = df.limit(bound.toInt + 1).collect()
      bytes += rows.length * rb
      over = rows.length > bound
      out += rows
    }
    if (record(op, !over && bytes <= b, bytes, b)) Some(out.toSeq) else None
  }

  /** Total order identical to Spark's own min() over the node types
    * [[orderable]] admits (integral compare; strings by UTF8 binary
    * order, which is what Spark's UTF8String comparison uses — NOT
    * java.lang.String's UTF-16 code-unit order).
    */
  def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case _ => throw new IllegalArgumentException(
      s"unsupported node type: ${a.getClass} vs ${b.getClass}")
  }

  /** Types [[cmpAny]] orders like Spark; other id types stay distributed. */
  def orderable(t: DataType): Boolean = t match {
    case LongType | IntegerType | StringType => true
    case _ => false
  }

  /** Dense int ids for node values, in first-seen order. */
  final class Interner {
    private val idx = new java.util.HashMap[Any, Integer]()
    private val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    def apply(v: Any): Int = {
      val got = idx.get(v)
      if (got == null) {
        idx.put(v, Integer.valueOf(nodes.length)); nodes += v
        nodes.length - 1
      } else got.intValue
    }
    def node(i: Int): Any = nodes(i)
    def size: Int = nodes.length
  }

  /** Union-find over dense ids (grown on demand), path-compressing. */
  final class UnionFind {
    private val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def find(x: Int): Int = {
      while (parent.length <= x) parent += parent.length
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    /** Merge the sets of `a` and `b`; false if they were one already. */
    def union(a: Int, b: Int): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
      ra != rb
    }
  }
}
