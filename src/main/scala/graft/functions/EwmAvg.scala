package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Recursive exponentially-weighted moving average as a native Catalyst
  * window function — the one computation in the reference's analytical core
  * that Spark's built-in window functions cannot express (it is recursive:
  * y_t = (1-alpha)*y_{t-1} + alpha*x_t).
  *
  * Semantics mirror pandas `Series.ewm(span=n, adjust=False,
  * min_periods=n).mean()` as used by the reference at
  * services/stream-processing/app/consumer.py:114 (`/root/reference`):
  *   - y_0 = x_0; y_t = (1-alpha)*y_{t-1} + alpha*x_t, alpha = 2/(span+1)
  *   - null inputs are skipped (state carries over; the observation count
  *     does not advance). NOTE: this is pandas' `ignore_na=True` behavior,
  *     not the `ignore_na=False` default (which re-weights across NaN
  *     gaps) — the distinction is unobservable on the reference's data
  *     plane, where candle closes are never null (ingest.py:89-97).
  *   - result is null until `minPeriods` non-null observations were seen.
  *
  * Implemented as a `DeclarativeAggregate` window function (same machinery
  * as Spark's own `RowNumber`/`NthValue`), so the per-row update is O(1)
  * and the whole computation is a single pass over each ordered partition —
  * this is the scale path: no O(n^2) frames, no collect, distributes by
  * the window's partition key.
  *
  * Frame is pinned to UNBOUNDED PRECEDING .. CURRENT ROW (running frame),
  * which is what `AggregateWindowFunction` provides.
  */
case class EwmAvg(child: Expression, alpha: Double, minPeriods: Int)
    extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ewm_avg"

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = true)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override def aggBufferAttributes: Seq[AttributeReference] = Seq(ema, cnt)

  override val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType), Literal(0L))

  private def x: Expression = Cast(child, DoubleType)

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(
      IsNull(x),
      ema,
      If(
        IsNull(ema),
        x,
        Add(Multiply(Literal(1.0 - alpha), ema), Multiply(Literal(alpha), x)))),
    If(IsNull(x), cnt, Add(cnt, Literal(1L)))
  )

  override lazy val evaluateExpression: Expression =
    If(
      GreaterThanOrEqual(cnt, Literal(minPeriods.toLong)),
      ema,
      Literal.create(null, DoubleType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EwmAvg =
    copy(child = newChildren.head)
}

object EwmAvg {

  /** Column API: `ewm_avg($"close", span = 10).over(w)`.
    *
    * Routed through the function registry (see
    * [[graft.GraftExtensions.register]]) because Spark 4.x's
    * Column->Expression converter only accepts resolvable function nodes
    * inside a window node; the session needs the extension or a
    * `GraftExtensions.register` call first (it is idempotent —
    * `SparkEntry.entry` does it eagerly).
    */
  def ewmAvg(col: Column, span: Int): Column = {
    require(span >= 1, s"span must be >= 1, got $span")
    // resolves through the function registry: populated by GraftExtensions
    // (spark.sql.extensions=graft.GraftExtensions, the deployment path) or
    // by GraftExtensions.register(spark) in extension-less sessions. NOTE: a
    // registry-free direct embedding (an EwmAvg column .over(w)) analyzes
    // under the legacy fixed-point analyzer but is rejected by Spark 4.1's
    // single-pass resolver (WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE), so the
    // registry route is the only one that works on both analyzers.
    org.apache.spark.sql.functions.call_function("ewm_avg", col,
      org.apache.spark.sql.functions.lit(span))
  }
}
