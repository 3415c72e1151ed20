package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic HyperLogLog (Flajolet et al. 2007, with the
  * linear-counting small-range correction from the HLL++ paper's
  * baseline): m = 256 registers over the 60-bit md5 prefix hash the
  * whole sketch tier shares (q_countmin, q_minhash_bands, ...).
  *
  * Because the hash is pinned (not seeded per-run), the REGISTER ARRAY
  * itself is deterministic and the estimate is oracle-checkable — the
  * same upgrade q_countmin made for frequency sketches, here for
  * cardinality: where `q_approx_distinct` (Spark's native
  * approx_count_distinct) can only be rows-only gated, this sketch
  * hash-matches a DuckDB replay bit for bit.
  *
  * Layout of the 60-bit hash h: register index j = h mod 256 (low 8
  * bits), witness w = h div 256 (52 bits); rho = leading zeros of w in
  * the 52-bit field + 1 ∈ [1, 53], computed by an exact integer
  * comparison ladder (no floating log2 — exact at the power-of-two
  * boundaries where a double log2 can round either way). The harmonic
  * sum is exact int64: Z·2^53 = Σ_j 2^(53−M_j) ≤ 256·2^53 < 2^62, empty
  * registers contributing 2^53 each. Only the final α·m²·2^53/Z (and
  * the linear-counting branch m·ln(m/V)) are double chains, identical
  * op order on both engines, quantized 1e3.
  *
  * Scale shape: ONE map-side-combinable (key, j) max-aggregation — 256
  * rows per key reach the shuffle regardless of corpus size, and
  * register arrays merge by element-wise max (the property HllSpec
  * pins), so the sketch unions across partitions/days for free.
  */
object Hll {

  val m = 256
  private val pow53 = 9007199254740992L // 2^53

  /** Exact integer floor-log ladder: rho(w) = leading zeros in the
    * 52-bit witness + 1. Identical text on both engines.
    */
  def rhoCase(w: String): String =
    (1 to 52).map(r => s"WHEN $w >= ${1L << (52 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 53 END")

  /** Shared final-estimate double chain over (nr, zr) register
    * aggregates: alpha_256 · m² · 2^53 / Z with the V>0, E ≤ 2.5m
    * linear-counting correction. `raw` must be the alias of the raw
    * estimate column in scope.
    */
  val alphaChain: String =
    s"(7213e-4 / (1e0 + 1079e-3 / 256e0)) * 65536e0 * ${pow53}e0"

  /** Register estimate over (key: string, h: long) observations —
    * output one row per key: (key, zeros, hll_fp).
    */
  def estimate(obs: DataFrame): DataFrame = {
    val regs = obs
      .select(col("key"), (col("h") % m).as("j"),
        expr("h div 256").as("w"))
      .groupBy(col("key"), col("j"))
      .agg(max(expr(rhoCase("w"))).as("mj"))
    finish(regs.groupBy(col("key"))
      .agg(count(lit(1)).as("nr"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).as("zr"))
      .select(col("key"), (lit(m.toLong) - col("nr")).as("zeros"),
        col("zr")))
  }

  /** The estimate chain over register aggregates (key, zeros, zr). */
  private def finish(agg: DataFrame): DataFrame =
    agg
      .withColumn("raw", expr(s"$alphaChain / (zr + zeros * $pow53)"))
      .withColumn("hll_fp",
        expr("""CAST(floor(CASE WHEN zeros > 0 AND raw <= 640e0
               |  THEN 256e0 * ln(256e0 / zeros) ELSE raw END * 1e3)
               |  AS BIGINT)""".stripMargin))
      .drop("raw", "zr")

  /** DuckDB twin over a `graft_hll_obs` (key, h) relation: CTE chain
    * ending in a relation `graft_hll_est` (key, zeros, hll_fp).
    */
  def oracleSql: String =
    s"""graft_hll_regs AS (
       |  SELECT key, h % 256 AS j, max(${rhoCase("(h // 256)")}) AS mj
       |  FROM graft_hll_obs GROUP BY key, h % 256
       |), graft_hll_agg AS (
       |  SELECT key, CAST(256 - count(*) AS BIGINT) AS zeros,
       |    CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS zr
       |  FROM graft_hll_regs GROUP BY key
       |), graft_hll_est AS (
       |  SELECT key, zeros,
       |    CAST(floor(CASE WHEN zeros > 0 AND raw <= 640e0
       |      THEN 256e0 * ln(256e0 / zeros) ELSE raw END * 1e3)
       |      AS BIGINT) AS hll_fp
       |  FROM (
       |    SELECT key, zeros,
       |      $alphaChain / (zr + zeros * $pow53) AS raw
       |    FROM graft_hll_agg)
       |)""".stripMargin
}
