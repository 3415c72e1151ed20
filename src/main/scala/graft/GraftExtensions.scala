package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst extension injector — the deployment path for the library's
  * custom expressions on a real cluster:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers the functions in every session the driver creates (including
  * Thrift-server/Connect sessions), with no imperative `register` call:
  *
  *   - `ewm_avg(expr, span)` — recursive EMA window function
  *     ([[graft.functions.EwmAvg]])
  *   - `vec_dot(a, b)` — codegen'd embedding dot product
  *     ([[graft.functions.VecDot]])
  *
  * The runtime `register(spark)` helpers on each function object remain for
  * notebook/test use; both routes produce identical expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("ewm_avg"),
      new ExpressionInfo(classOf[graft.functions.EwmAvg].getName, "ewm_avg"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "ewm_avg(expr, span) takes 2 arguments")
        val span = exprs(1) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType)   => v.toInt
          case other =>
            throw new IllegalArgumentException(
              s"ewm_avg span must be an integer literal, got $other")
        }
        graft.functions.EwmAvg(exprs.head, 2.0 / (span + 1.0), minPeriods = span)
      }))

    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[graft.functions.VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "vec_dot(a, b) takes 2 arguments")
        graft.functions.VecDot(exprs.head, exprs(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("md5p60"),
      new ExpressionInfo(classOf[graft.functions.Md5Prefix60].getName, "md5p60"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "md5p60(str) takes 1 argument")
        graft.functions.Md5Prefix60(exprs.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("md5s60"),
      new ExpressionInfo(classOf[graft.functions.Md5Suffix60].getName, "md5s60"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "md5s60(str) takes 1 argument")
        graft.functions.Md5Suffix60(exprs.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("lcs_len"),
      new ExpressionInfo(classOf[graft.functions.LcsLen].getName, "lcs_len"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "lcs_len(a, b) takes 2 arguments")
        graft.functions.LcsLen(exprs.head, exprs(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("jaro_winkler_fp"),
      new ExpressionInfo(
        classOf[graft.functions.JaroWinklerFp].getName, "jaro_winkler_fp"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "jaro_winkler_fp(a, b) takes 2 arguments")
        graft.functions.JaroWinklerFp(exprs.head, exprs(1))
      }))
  }
}

object GraftExtensions {

  /** The one session builder of the repo (`Bench`, `Verify` and the test
    * session): `local[cores]`, one shuffle partition per core, UTC, AQE
    * on, the custom functions through the injector above (the deployment
    * path) and no UI.
    */
  def localSession(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
