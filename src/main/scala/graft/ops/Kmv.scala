package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct sketch support (Bar-Yossef et al.
  * 2002; the theta-sketch core): keep the K smallest distinct 60-bit
  * hashes; estimate (K−1)·2^60 / h_(K). Deterministic md5 hashing
  * makes the whole sketch oracle-checkable, and "K smallest of a
  * union" is a lattice merge — order- and duplication-free.
  */
object Kmv {

  /** Sketch capacity (63·2^60 is exactly representable as a double —
    * 6-bit mantissa times a power of two — so the single estimate
    * divide is correctly rounded identically on every IEEE engine).
    */
  val K = 64

  /** Estimate from (sk_size, kth_h) columns — THE estimate spelling,
    * mirrored textually in the DuckDB oracle.
    */
  def estExpr: Column =
    when(col("sk_size") < K, col("sk_size"))
      .otherwise(expr(
        s"CAST(floor((${K - 1}e0 * 1152921504606846976e0) / kth_h)" +
          " AS BIGINT)"))
}
