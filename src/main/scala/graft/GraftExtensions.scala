package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.streaming.LocalCheckpointFileManager

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
  *   - `md5p60(str)` / `md5s60(str)`, `lcs_len(a, b)`,
  *     `jaro_winkler_fp(a, b)`
  *
  * `GraftExtensions.register(spark)` installs the same builders in a
  * session built without the extension, so both routes produce identical
  * expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  import graft.functions._

  /** (SQL name, expression class, builder): one builder per function,
    * shared by the injector and [[register]].
    */
  private val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("ewm_avg", classOf[EwmAvg], { exprs =>
      require(exprs.size == 2, "ewm_avg(expr, span) takes 2 arguments")
      val span = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType)   => v.toInt
        case other =>
          throw new IllegalArgumentException(
            s"ewm_avg span must be an integer literal, got $other")
      }
      EwmAvg(exprs.head, 2.0 / (span + 1.0), minPeriods = span)
    }),
    ("vec_dot", classOf[VecDot], { exprs =>
      require(exprs.size == 2, "vec_dot(a, b) takes 2 arguments")
      VecDot(exprs.head, exprs(1))
    }),
    ("md5p60", classOf[Md5Prefix60], { exprs =>
      require(exprs.size == 1, "md5p60(str) takes 1 argument")
      Md5Prefix60(exprs.head)
    }),
    ("md5s60", classOf[Md5Suffix60], { exprs =>
      require(exprs.size == 1, "md5s60(str) takes 1 argument")
      Md5Suffix60(exprs.head)
    }),
    ("lcs_len", classOf[LcsLen], { exprs =>
      require(exprs.size == 2, "lcs_len(a, b) takes 2 arguments")
      LcsLen(exprs.head, exprs(1))
    }),
    ("jaro_winkler_fp", classOf[JaroWinklerFp], { exprs =>
      require(exprs.size == 2, "jaro_winkler_fp(a, b) takes 2 arguments")
      JaroWinklerFp(exprs.head, exprs(1))
    }))

  /** Register every function in a session built without
    * `spark.sql.extensions` (`SparkEntry.entry`, specs): idempotent, and
    * the expressions are the injector's.
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }

  /** The one session builder of the repo (`Bench`, `Verify` and the test
    * session): `local[cores]`, one shuffle partition per core, UTC, AQE
    * on, the custom functions through the injector above (the deployment
    * path), checkpoint files written without forks
    * ([[graft.streaming.LocalCheckpointFileManager]]) and no UI.
    */
  def localSession(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
