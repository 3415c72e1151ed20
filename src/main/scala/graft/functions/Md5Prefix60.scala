package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** First 60 bits of the MD5 digest of a string, as a positive long —
  * the portable token/shingle hash used across the dedup and fingerprint
  * operators. Numerically identical to the SQL construction
  * `cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)` (and the
  * DuckDB oracle twin `CAST(concat('0x', substr(md5(x),1,15)) AS
  * BIGINT)`): the first 15 hex chars are the first 15 nibbles of the
  * digest, i.e. unsigned-BE(first 8 bytes) >>> 4 — but computed straight
  * from the digest bytes, skipping the 32-char hex-string allocation and
  * the base-16 string parse that `md5` + `conv` pay per row.
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5p60"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5p60 requires a string argument, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    Md5Prefix60.hash60(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix60.hash60($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Md5Prefix60 = copy(child = newChild)
}

/** Bits 61-120 of the MD5 digest (hex chars 16-30) as a positive long —
  * the second, independent 60-bit hash used by the wide (120-bit) SimHash
  * signature. SQL twin: `cast(conv(substring(md5(x), 16, 15), 16, 10) as
  * bigint)`; DuckDB `CAST(concat('0x', substr(md5(x),16,15)) AS BIGINT)`.
  * Hex char 16 is the LOW nibble of digest byte 8, chars 17-30 are bytes
  * 9..15 — disjoint bits from [[Md5Prefix60]] except byte 8's low nibble,
  * which Md5Prefix60 shifts out.
  */
case class Md5Suffix60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5s60"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5s60 requires a string argument, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    Md5Prefix60.suffix60(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix60.suffix60($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Md5Suffix60 = copy(child = newChild)
}

object Md5Prefix60 {

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Static entry point shared by interpreted eval and generated code. */
  def hash60(s: UTF8String): Long = {
    val digest = md.get()
    digest.reset()
    val bytes = digest.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Hex chars 16-30 of the digest: low nibble of byte 8, then bytes 9-15. */
  def suffix60(s: UTF8String): Long = {
    val digest = md.get()
    digest.reset()
    val bytes = digest.digest(s.getBytes)
    var v = bytes(7) & 0xfL
    var i = 8
    while (i < 15) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    v
  }
}
