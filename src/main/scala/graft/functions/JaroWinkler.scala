package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity as a codegen'd Catalyst expression, in exact
  * integer fixed point (x 1e6) — the name-matching primitive for entity
  * resolution on person/organization fields, where Levenshtein
  * over-penalizes transpositions and suffix noise ("maria gonzalez" vs
  * "maria gonzales").
  *
  * Exactness: the Jaro similarity is the rational
  * (m/|a| + m/|b| + (2m - k)/(2m)) / 3 with m = matches within the
  * window floor(max/2)-1 and k = half-transpositions; it is computed
  * over the common denominator 6*|a|*|b|*m in int64 — NO floating point
  * anywhere, so results are bit-stable across JVMs and partitionings.
  * Winkler boost: jw = jaro + L*(1e6 - jaro)/10 with L = common-prefix
  * length capped at 4 (exact integers again). Headroom: the numerator
  * is bounded by 6e6 * L^3 with L = max(|a|,|b|) (m <= L and each of
  * the three terms is <= 2e6 * L^3), so L <= 11,000 keeps it under
  * 2^63 — far beyond any name field; longer inputs raise loudly
  * instead of wrapping (JVM arithmetic would NOT raise on its own).
  *
  * Cross-engine note: DuckDB exposes jaro_winkler_similarity, but its
  * edge conventions (empty strings, the m=0 case, boost threshold)
  * differ across versions — parity is pinned by [[JaroWinklerSpec]]
  * against hand-computed references instead of a DuckDB oracle (the
  * NOTES.md round-7 adjudication).
  *
  * Empty-string convention: both empty -> 1e6 (identical); exactly one
  * empty -> 0; m = 0 -> 0.
  */
case class JaroWinklerFp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "jaro_winkler_fp"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler_fp requires two strings, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.simFp(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.JaroWinkler.simFp($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerFp =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static entry point shared by interpreted eval and generated code. */
  def simFp(ua: UTF8String, ub: UTF8String): Long = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length.toLong
    val lb = b.length.toLong
    if (la == 0 && lb == 0) return 1000000L
    if (la == 0 || lb == 0) return 0L
    require(la <= 11000 && lb <= 11000,
      "jaro_winkler_fp headroom bound: inputs must be <= 11k chars " +
        "(the 1e6-scaled numerator is ~6e6 * maxlen^3)")
    val window = math.max(0L, math.max(la, lb) / 2 - 1).toInt
    val aMatch = new Array[Boolean](a.length)
    val bMatch = new Array[Boolean](b.length)
    var m = 0L
    var i = 0
    while (i < a.length) {
      val lo = math.max(0, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0L
    // half-transpositions: matched chars of a vs matched chars of b, in order
    var k = 0L
    var j = 0
    i = 0
    while (i < a.length) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) k += 1
        j += 1
      }
      i += 1
    }
    // jaro = (m/la + m/lb + (2m-k)/(2m)) / 3 over common denominator
    val num = 1000000L * (2L * m * m * lb + 2L * m * m * la +
      (2L * m - k) * la * lb)
    val den = 6L * la * lb * m
    val jaro = num / den
    // Winkler boost: common prefix capped at 4
    var l = 0
    while (l < 4 && l < a.length && l < b.length &&
      a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * (1000000L - jaro) / 10L
  }
}
