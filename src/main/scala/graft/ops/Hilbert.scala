package graft.ops

/** Hilbert-curve clustering key — the locality-better companion to
  * [[ZOrder]]: the Hilbert curve visits every cell of the 2^16 × 2^16
  * grid in UNIT steps (adjacent curve positions are adjacent cells),
  * so range scans along the key touch strictly more-compact spatial
  * blocks than the Morton key's quadrant jumps — the layout Delta/Hudi
  * expose as OPTIMIZE ... ZORDER's higher-fidelity sibling.
  *
  * The standard iterative xy2d walk (the public textbook construction:
  * per bit, quadrant index (3*rx) XOR ry, then reflect-and-swap
  * rotation) is emitted as ONE unrolled lateral-alias SQL chain valid
  * verbatim in BOTH Spark SQL and DuckDB — the [[ZOrder]]/Dtw
  * shared-string convention, so the oracle cannot drift. Dialect
  * notes: XOR is spelled arithmetically (3*rx + ry - 2*rx*ry — `^` is
  * POWER in DuckDB), and only `&`, `>`, CASE and integer +/- appear;
  * every intermediate is far below 2^63 (max d = 2^32 - 1).
  */
object Hilbert {

  /** Bits per coordinate (cells in [0, 65535], d in [0, 2^32)). */
  val Bits = 16

  /** Unrolled lateral-alias columns computing the Hilbert index of
    * (`x`, `y`) — one single-alias expression per element (so the same
    * strings serve a SQL SELECT list AND Spark's `selectExpr` varargs);
    * the final alias is `hd0`. Each step consumes one bit (high to
    * low), accumulates s^2 * quadrant, and applies the
    * reflect-and-swap rotation.
    *
    * CAUTION (measured): DuckDB inlines lateral aliases TEXTUALLY, so
    * this chained form explodes to a ~3^16-node expression tree there
    * (minutes of planning); it is fine under Spark's analyzer (nested
    * projections). The oracle therefore uses [[stepCtes]] — one CTE
    * per step, whose materialization boundaries stop the blowup — and
    * the per-step arithmetic strings stay shared via [[stepExprs]].
    */
  def lateralColsSeq(x: String, y: String): Seq[String] = {
    val init = Seq(
      s"CAST($x AS BIGINT) AS hx$Bits",
      s"CAST($y AS BIGINT) AS hy$Bits",
      s"CAST(0 AS BIGINT) AS hd$Bits")
    val steps = (Bits - 1 to 0 by -1).flatMap { i =>
      val s = 1L << i
      val n1 = (1L << Bits) - 1
      Seq(
        s"CASE WHEN (hx${i + 1} & $s) > 0 THEN 1 ELSE 0 END AS hrx$i",
        s"CASE WHEN (hy${i + 1} & $s) > 0 THEN 1 ELSE 0 END AS hry$i",
        s"""hd${i + 1} + CAST(${s * s} AS BIGINT)
           |  * (3 * hrx$i + hry$i - 2 * hrx$i * hry$i) AS hd$i""".stripMargin,
        s"""CASE WHEN hry$i = 0
           |     THEN (CASE WHEN hrx$i = 1 THEN $n1 - hy${i + 1}
           |           ELSE hy${i + 1} END)
           |     ELSE hx${i + 1} END AS hx$i""".stripMargin,
        s"""CASE WHEN hry$i = 0
           |     THEN (CASE WHEN hrx$i = 1 THEN $n1 - hx${i + 1}
           |           ELSE hx${i + 1} END)
           |     ELSE hy${i + 1} END AS hy$i""".stripMargin)
    }
    init ++ steps
  }

  /** The i-th step's five output expressions over input columns
    * (hx, hy, hd) — the single arithmetic source both the lateral and
    * the CTE forms expand from.
    */
  private def stepExprs(i: Int): (String, String, Seq[String]) = {
    val s = 1L << i
    val n1 = (1L << Bits) - 1
    val rx = s"CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END"
    val ry = s"CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END"
    val outs = Seq(
      s"""hd + CAST(${s * s} AS BIGINT)
         |    * (3 * hrx + hry - 2 * hrx * hry) AS hd""".stripMargin,
      s"""CASE WHEN hry = 0
         |     THEN (CASE WHEN hrx = 1 THEN $n1 - hy ELSE hy END)
         |     ELSE hx END AS hx""".stripMargin,
      s"""CASE WHEN hry = 0
         |     THEN (CASE WHEN hrx = 1 THEN $n1 - hx ELSE hx END)
         |     ELSE hy END AS hy""".stripMargin)
    (rx, ry, outs)
  }

  /** Chained-CTE form of the walk for the DuckDB oracle: reads
    * `from` (carrying `carry` columns plus xc, yc), emits one CTE pair
    * per bit, and ends with a final CTE `hfin` exposing the carry
    * columns plus `hval`. Embed after a WITH ... , prefix-named to
    * avoid collisions.
    */
  def stepCtes(from: String, carry: Seq[String]): String = {
    val cs = carry.mkString(", ")
    val head =
      s"""h$Bits AS (
         |  SELECT $cs, CAST(xc AS BIGINT) AS hx, CAST(yc AS BIGINT) AS hy,
         |    CAST(0 AS BIGINT) AS hd
         |  FROM $from)""".stripMargin
    val steps = (Bits - 1 to 0 by -1).map { i =>
      val (rx, ry, outs) = stepExprs(i)
      s"""h$i AS (
         |  SELECT $cs, ${outs.mkString(",\n    ")}
         |  FROM (SELECT $cs, hx, hy, hd, $rx AS hrx, $ry AS hry
         |        FROM h${i + 1}))""".stripMargin
    }
    val fin =
      s"""hfin AS (
         |  SELECT $cs, hd AS hval FROM h0)""".stripMargin
    (head +: steps :+ fin).mkString(",\n")
  }

  /** Serial reference of the identical walk (spec cross-check). */
  def xy2d(x0: Long, y0: Long): Long = {
    require(x0 >= 0 && x0 <= 65535 && y0 >= 0 && y0 <= 65535)
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (Bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * (3 * rx + ry - 2 * rx * ry)
      if (ry == 0) {
        if (rx == 1) { x = 65535L - x; y = 65535L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
