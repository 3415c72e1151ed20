package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.{ColumnBridge => CB}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding/ANN hot path.
  *
  * The composable formulation — `aggregate(zip_with(a, b, ...))` — is a
  * higher-order function: Spark evaluates the lambda per element through
  * the interpreter (`CodegenFallback`), allocating a zipped intermediate
  * array per row. At ANN scale (every candidate row in every bucket pays
  * 3 dot products) that interpreter round-trip dominates. These
  * expressions generate a tight primitive loop inside whole-stage codegen
  * instead: no allocation, no virtual calls, same result bit-for-bit
  * (accumulation is a left fold over products in index order, exactly the
  * semantics of the SQL `aggregate(...)` fold and of the DuckDB
  * `list_reduce` oracle twin).
  *
  * Null semantics (identical to the HOF formulation): null array -> null;
  * mismatched lengths -> null (zip_with pads with null, poisoning the
  * fold); any null element -> null.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires array<float|double> inputs, got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lFloat = elemType(left) == FloatType
    val rFloat = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, i: String, t: DataType): String =
      if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    val lt = elemType(left)
    val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (${get(a, i, lt)}) * (${get(b, i, rt)});
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Projection of a vector onto the deterministic pseudo-random hyperplane
  * family used by the LSH bucketer: sum_i x_i * (((i+1)*a + b) % 1000 *
  * 1e-3 - 0.5), with (i+1) the 1-based element index and int32 arithmetic
  * for the plane component — bit-identical to the SQL/oracle formulation
  * `zip_with(v, sequence(1, size(v)), (x, i) -> x * ((((i*a)+b) % 1000) *
  * 1e-3 - 5e-1))` folded left.
  */
case class VecPlaneDot(child: Expression, a: Int, b: Int)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_plane_dot"

  private def elemFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == FloatType || t == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_plane_dot requires array<float|double>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val f = elemFloat
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val x = if (f) arr.getFloat(i).toDouble else arr.getDouble(i)
      // 64-bit index arithmetic: DuckDB's range() yields BIGINT, so the
      // oracle computes (i*a+b) in 64-bit — int32 would wrap for dims
      // beyond ~2034 and silently diverge
      val plane = (((i + 1).toLong * a + b) % 1000L) * 1e-3 - 5e-1
      acc += x * plane
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter =
      if (elemFloat) (arr: String, i: String) => s"(double) $arr.getFloat($i)"
      else (arr: String, i: String) => s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $arr.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += (${getter(arr, i)}) * (((($i + 1L) * ${a}L + ${b}L) % 1000L) * 1e-3 - 5e-1);
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): VecPlaneDot = copy(child = newChild)
}

object VecOps {

  /** dot(a, b) as a codegen'd double. */
  def vecDot(a: Column, b: Column): Column =
    CB.column(VecDot(CB.expression(a), CB.expression(b)))

  /** cosine(a, b) composed from three codegen'd dots (matches the oracle's
    * dot/(sqrt(dot)*sqrt(dot)) expression exactly).
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    vecDot(a, b) / (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))
  }

  /** LSH hyperplane projection for plane family (a, b). */
  def planeDot(v: Column, a: Int, b: Int): Column =
    CB.column(VecPlaneDot(CB.expression(v), a, b))
}
