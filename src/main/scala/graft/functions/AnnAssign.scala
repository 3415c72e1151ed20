package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{ColumnBridge => CB}
import org.apache.spark.sql.types._

/** Row-local ANN codebook assignment: the one assignment path of
  * `IvfIndex.assign`, `Pq.assignSub`/`Pq.encode` and the IVF-PQ
  * cell-keyed codes.
  *
  * Both k-means codebooks of the ANN tier are INDEX METADATA that the
  * engine collects to the driver (k ~ sqrt(n) coarse rows,
  * m×min(256, sqrt(n)) PQ rows). A broadcast JOIN of that metadata would
  * fan each corpus row out to n×k (or n×m×k_sub) candidate rows for a
  * partial-aggregated `min(struct(...))` to collapse again — one
  * exchange plus the fan-out's row-materialization cost per assignment
  * pass, multiplied by the Lloyd iterations.
  *
  * These expressions run the identical argmin/argmax as a per-row loop
  * over the collected codebook instead: ZERO exchanges, zero candidate
  * rows, the codebook travels once per stage inside the task binary.
  * All three are `CodegenFallback` today: whole-stage codegen calls
  * their interpreted `eval` per row. Arithmetic is bit-identical to the
  * join shape by construction — the same `VecDot` left-fold per
  * candidate, the same `aa - 2.0*dot + bb` / `dot/(na*nb) * -1.0`
  * association, candidates visited in ascending cent_id with a strict
  * `Double.compare(x, best) < 0` update, which is exactly the
  * `min(struct(key, cent_id, ...))` ordering (ties keep the lowest
  * cent_id; Double.compare gives min-struct's -0.0 < 0.0 and NaN-last
  * semantics). `AnnAssignSpec` pins equality against a broadcast-join
  * reference on random fixtures; the DuckDB oracles re-verify end to
  * end.
  *
  * Scale: the loop is O(k·d) per row — the same work a broadcast hash
  * join's probe side would do, minus the join/aggregate machinery. The
  * codebook is index metadata, so nothing here grows with the corpus.
  */
object AnnAssign {

  /** Per-subspace PQ codebook in dense lookup form: for sub s,
    * `cents(s)` = ascending surviving cent_ids, `embs(s)(j)` = codeword
    * vectors, `c2s(s)(j)` = codeword self-dots (the broadcast side's
    * precomputed cent_c2, same fold).
    */
  final case class SubBook(
      cents: Array[Array[Long]],
      embs: Array[Array[Array[Double]]],
      c2s: Array[Array[Double]]) extends Serializable

  /** Build a [[SubBook]] from collected (sub_id, cent_id, cent_emb)
    * rows (cent_emb array<double>). Empty Lloyd cells may be missing —
    * ids stay sparse; order within a sub is ascending cent_id.
    */
  def subBook(rows: Array[org.apache.spark.sql.Row], m: Int): SubBook = {
    def num(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val bySub = rows.groupBy(num(_, 0))
    val cents = Array.ofDim[Array[Long]](m)
    val embs = Array.ofDim[Array[Array[Double]]](m)
    val c2s = Array.ofDim[Array[Double]](m)
    var s = 0
    while (s < m) {
      val rs = bySub.getOrElse(s.toLong, Array.empty)
        .sortBy(num(_, 1))
      cents(s) = rs.map(num(_, 1))
      embs(s) = rs.map(_.getSeq[Any](2).toArray.map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case x => x.asInstanceOf[Number].doubleValue
      })
      c2s(s) = embs(s).map { e =>
        var acc = 0.0; var i = 0
        while (i < e.length) { acc += e(i) * e(i); i += 1 }
        acc
      }
      s += 1
    }
    SubBook(cents, embs, c2s)
  }

  /** Coarse codebook in dense lookup form: ascending cent_ids, raw
    * centroid vectors, and their norms (sqrt of the self-dot fold —
    * the broadcast side's c_nrm).
    */
  final case class CentBook(
      cents: Array[Long],
      embs: Array[Array[Double]],
      nrms: Array[Double]) extends Serializable

  /** Build a [[CentBook]] from collected (cent_id, cent_emb) rows. */
  def centBook(rows: Array[org.apache.spark.sql.Row]): CentBook = {
    val rs = rows.sortBy(_.get(0).asInstanceOf[Number].longValue)
    val embs = rs.map(_.getSeq[Any](1).toArray.map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case x => x.asInstanceOf[Number].doubleValue
    })
    CentBook(
      rs.map(_.get(0).asInstanceOf[Number].longValue),
      embs,
      embs.map { e =>
        var acc = 0.0; var i = 0
        while (i < e.length) { acc += e(i) * e(i); i += 1 }
        math.sqrt(acc)
      })
  }

  /** `pq_codes(vec)` = the m nearest-codeword ids of the m subspace
    * slices of `vec` (index = sub_id) — the row-local form of
    * `Pq.assignSub` over a whole normalized vector. Null vector -> null
    * (the exploded shape dropped such rows; callers explode the result,
    * which drops them identically).
    */
  def pqCodes(vec: Column, book: SubBook): Column =
    CB.column(PqCodesExpr(CB.expression(vec), book))

  /** `pq_sub_code(sub_emb, sub_id)` = nearest codeword id for one
    * subspace slice — the row-local form of one `Pq.assignSub` row.
    */
  def pqSubCode(subEmb: Column, subId: Column, book: SubBook): Column =
    CB.column(PqSubCodeExpr(CB.expression(subEmb), CB.expression(subId), book))

  /** `ivf_cell(vec)` = the max-cosine coarse cell of `vec` (ties ->
    * lowest cent_id) — the row-local form of `IvfIndex.assign`.
    */
  def ivfCell(vec: Column, book: CentBook): Column =
    CB.column(IvfCellExpr(CB.expression(vec), book))

  /** Shared inner argmin: nearest codeword id within one subspace.
    * `xs`/`off` address the slice inside the full vector. Returns -1 on
    * an empty codebook slice (cannot happen for a trained book; kept
    * total so eval never throws).
    */
  private[functions] def bestSubCode(
      xs: Array[Double], off: Int, subLen: Int, book: SubBook,
      s: Int): Long = {
    val cents = book.cents(s)
    val embs = book.embs(s)
    val c2s = book.c2s(s)
    // sub_c2: the stream side's per-(vec, sub) self-dot, same fold
    var aa = 0.0
    var i = 0
    while (i < subLen) { val x = xs(off + i); aa += x * x; i += 1 }
    var best = 0.0
    var bestId = -1L
    var j = 0
    while (j < cents.length) {
      val ce = embs(j)
      var dot = 0.0
      var i2 = 0
      while (i2 < subLen) { dot += xs(off + i2) * ce(i2); i2 += 1 }
      val d2 = aa - 2.0 * dot + c2s(j)
      if (bestId < 0 || java.lang.Double.compare(d2, best) < 0) {
        best = d2; bestId = cents(j)
      }
      j += 1
    }
    bestId
  }

  private[functions] def toDoubles(a: ArrayData, float: Boolean): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    out
  }
}

/** See [[AnnAssign.pqCodes]]. */
case class PqCodesExpr(child: Expression, book: AnnAssign.SubBook)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes"
  override def toString: String =
    s"pq_codes($child, m=${book.cents.length})"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires array<float|double>, got ${other.catalogString}")
  }

  private def elemFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val xs = AnnAssign.toDoubles(v.asInstanceOf[ArrayData], elemFloat)
    val m = book.cents.length
    val subLen = xs.length / m
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      codes(s) = AnnAssign.bestSubCode(xs, s * subLen, subLen, book, s)
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodesExpr =
    copy(child = newChild)
}

/** See [[AnnAssign.pqSubCode]]. */
case class PqSubCodeExpr(
    left: Expression, right: Expression, book: AnnAssign.SubBook)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_sub_code"
  override def toString: String =
    s"pq_sub_code($left, $right, m=${book.cents.length})"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(t, _), it)
          if (t == FloatType || t == DoubleType) &&
            (it == LongType || it == IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_sub_code requires (array<float|double>, int), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  private def elemFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val xs = AnnAssign.toDoubles(l.asInstanceOf[ArrayData], elemFloat)
    val s = r match {
      case i: java.lang.Integer => i.intValue
      case j: java.lang.Long => j.intValue
      case x => x.asInstanceOf[Number].intValue
    }
    if (s < 0 || s >= book.cents.length) null
    else AnnAssign.bestSubCode(xs, 0, xs.length, book, s)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqSubCodeExpr =
    copy(left = newLeft, right = newRight)
}

/** See [[AnnAssign.ivfCell]]. */
case class IvfCellExpr(child: Expression, book: AnnAssign.CentBook)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_cell"
  override def toString: String = s"ivf_cell($child, k=${book.cents.length})"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_cell requires array<float|double>, got ${other.catalogString}")
  }

  private def elemFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val xs = AnnAssign.toDoubles(v.asInstanceOf[ArrayData], elemFloat)
    // e_nrm: the stream side's per-row norm, same fold + correctly
    // rounded sqrt as withNorm
    var aa = 0.0
    var i = 0
    while (i < xs.length) { aa += xs(i) * xs(i); i += 1 }
    val na = math.sqrt(aa)
    var bestNeg = 0.0
    var bestId = -1L
    var j = 0
    while (j < book.cents.length) {
      val ce = book.embs(j)
      var dot = 0.0
      var i2 = 0
      val n = math.min(xs.length, ce.length)
      while (i2 < n) { dot += xs(i2) * ce(i2); i2 += 1 }
      // cs = dot/(na*nb); candidates ordered by min(struct(cs * -1.0,
      // cent_id)) — replicate the negation then Double.compare
      val neg = (dot / (na * book.nrms(j))) * -1.0
      if (bestId < 0 || java.lang.Double.compare(neg, bestNeg) < 0) {
        bestNeg = neg; bestId = book.cents(j)
      }
      j += 1
    }
    bestId
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCellExpr =
    copy(child = newChild)
}
