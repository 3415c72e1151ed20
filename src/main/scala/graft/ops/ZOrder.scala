package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional scan locality.
  *
  * A 100 TB table filtered on TWO dimensions (time AND value, price AND
  * quantity) can only prune file/row-group stats for the single sort
  * column under a linear layout; sorting by the interleaved-bit z-value
  * keeps BOTH dimensions' min/max ranges narrow per file, so either
  * predicate skips data. `q_zorder` and `q_zorder3` compute that
  * clustering key.
  *
  * The bit-spreading uses the standard magic-number Morton encoding
  * (public "Bit Twiddling Hacks" construction). It is emitted as a SQL
  * string valid in BOTH Spark SQL and DuckDB (`<<`, `&`, `|` only), so
  * the oracle query (`q_zorder`) shares the exact arithmetic — one
  * source, no drift.
  */
object ZOrder {

  /** Spread the low 16 bits of `v` to even bit positions 0,2,..,30:
    * abcd -> 0a0b0c0d. Nested magic-number masks; input must already be
    * in [0, 65535].
    */
  def spreadSql(v: String): String = {
    val s1 = s"((($v) | (($v) << 8)) & 16711935)" // 0x00FF00FF
    val s2 = s"(($s1 | ($s1 << 4)) & 252645135)" // 0x0F0F0F0F
    val s3 = s"(($s2 | ($s2 << 2)) & 858993459)" // 0x33333333
    s"(($s3 | ($s3 << 1)) & 1431655765)" // 0x55555555
  }

  /** 32-bit z-value of two 16-bit cell coordinates: x on even bits, y on
    * odd bits.
    */
  def zvalueSql(x: String, y: String): String =
    s"(${spreadSql(x)} | (${spreadSql(y)} << 1))"

  /** 3-D variant: spread the low 21 bits of `v` to bit positions
    * 0,3,..,60 (stride 3). Standard 64-bit Morton magic numbers (decimal
    * so the string parses as BIGINT in both Spark SQL and DuckDB):
    * 0x1f00000000ffff, 0x1f0000ff0000ff, 0x100f00f00f00f00f,
    * 0x10c30c30c30c30c3, 0x1249249249249249. Each step uses the
    * overflow-safe form (x & m) | ((x & (m >> k)) << k) — identical to
    * the textbook (x | x << k) & m, but the pre-shift mask keeps every
    * intermediate below 2^63: DuckDB RAISES on BIGINT shift overflow
    * (the JVM wraps), so the naive form is not cross-engine-legal. The
    * max 3-way z-value is exactly 2^63 - 1.
    */
  def spread3Sql(v: String): String =
    Seq(
      (8725724278095871L, 32), (8725728556220671L, 16),
      (1157144660301377551L, 8), (1207822528635744451L, 4),
      (1317624576693539401L, 2)
    ).foldLeft(s"($v)") { case (x, (m, k)) =>
      s"(($x & $m) | (($x & ${m >> k}) << $k))"
    }

  /** 63-bit z-value of three 21-bit cell coordinates. */
  def zvalue3Sql(x: String, y: String, z: String): String =
    s"(${spread3Sql(x)} | (${spread3Sql(y)} << 1) | (${spread3Sql(z)} << 2))"

  /** Equi-width 21-bit cell coordinate of `c` within [mn, mx] — the 3-D
    * counterpart of [[cell16]] (same clamp-and-floor arithmetic, wider
    * cell space so three interleaved dims still give 21 bits/dim of
    * resolution).
    */
  def cell21(c: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L)).otherwise(
      least(lit(2097151L),
        floor((c.cast("double") - mn) * lit(2097152.0) / (mx - mn))))

  /** Equi-width 16-bit cell coordinate of `c` within [mn, mx] (both
    * Column): floor((c-mn)*65536/(mx-mn)) clamped to 65535; constant
    * ranges map to cell 0. The float arithmetic is IEEE-identical
    * cross-engine (no sums).
    */
  def cell16(c: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L)).otherwise(
      least(lit(65535L),
        floor((c.cast("double") - mn) * lit(65536.0) / (mx - mn))))
}
