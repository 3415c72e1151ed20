package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank-1 alternating least squares over an implicit-feedback rating
  * matrix, in exact integer fixed point — the matrix-factorization
  * primitive behind collaborative-filtering recommenders (Koren/Bell/
  * Volinsky 2009), reduced to the one rank where the alternating update
  * is a pair of partial-aggregable grouped sums and therefore a pure
  * Spark shape (no per-row linear solves, no mllib dependency).
  *
  * Model: r_ui ~ u_u * v_i, all nonnegative. With one side fixed the
  * least-squares update for the other is closed-form:
  *
  * {{{
  *   u_u = sum_i r_ui * v_i / (sum_i v_i^2 + lambda)
  * }}}
  *
  * In scale-`S` fixed point (v carries scale S, r is caller-quantized
  * integer units) the update becomes
  *
  * {{{
  *   num_u = sum_i r_ui * v_i                 -- scale r_unit * S
  *   den_u = sum_i (v_i * v_i div S) + reg    -- scale S (reg = lambda*S)
  *   u_u   = (num_u * S) div den_u            -- scale r_unit * S
  * }}}
  *
  * followed by max-normalization `u * S div max(u)` (the [[Hits]]
  * numeric contract): every op is 64-bit integer arithmetic applied in
  * an identical order on both engines, so results are bit-identical at
  * any parallelism and the DuckDB oracle can unroll the same recurrence.
  * Normalizing each half-step fixes the rank-1 scale indeterminacy
  * (u,v) -> (cu, v/c), so the factors themselves — not just their
  * product — are comparable cross-engine.
  *
  * Headroom contract (the PageRank/PcaPower convention): with
  * r_ui <= Rmax and per-entity degree <= D, the pre-normalization
  * numerator is bounded by D * Rmax * S and the rescale multiplies by S
  * before dividing, so `D * Rmax * S^2 < 2^63` must hold — at the
  * default S = 1e6 that admits D * Rmax ~ 9e6 (e.g. 10k-degree users
  * rating on a 0..900 integer scale). Lower S for denser matrices; ANSI
  * mode turns a breach into a loud overflow, never silent corruption.
  *
  * Scale shape: the rating matrix is the corpus; it is materialized
  * TWICE, pinned by item key and by user key, so neither alternating
  * half-step re-shuffles it (the [[Hits]] eBySrc/eByDst pattern — factor
  * frames leave each groupBy already partitioned on the next join key).
  * Per half-step: one equi join + one grouped sum + a lazy 1-row max
  * broadcast into the rescale — no driver collect, no round-dependent
  * lineage growth (each half-step's grouped sum is checkpointed: the
  * rescale reads its input twice, so lazily-composed half-steps double
  * the plan tree per step — measured 8.8 s planning+codegen for one
  * composed 4-step job vs ~0.6 s per pinned step at sf0.1).
  */
object AlsRank1 {

  /** Fit rank-1 factors on `ratings` (columns `user`, `item`, `r`; r a
    * positive integer, duplicates summed). Returns (side, id, f_fp):
    * side 'u' rows carry user factors, side 'i' item factors, each in
    * [0, scale] with max = scale after the final half-step of that side.
    */
  def run(
      ratings: DataFrame, user: String = "user", item: String = "item",
      r: String = "r", iters: Int = 3, scale: Long = 1000000L,
      reg: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale >= 1 && reg >= 1)
    val rt0 = Iterate.materialize(
      ratings.select(col(user).as("user"), col(item).as("item"),
          col(r).as("r"))
        .groupBy(col("user"), col("item"))
        .agg(sum(col("r")).as("r"))
        .filter(col("r") > 0))
    Iterate.withWidth(ratings.sparkSession, rt0.count()) { p =>
      val rByItem = Iterate.materialize(rt0.repartition(p, col("item")))
      val rByUser = Iterate.materialize(rt0.repartition(p, col("user")))
      // both pinned copies are materialized eagerly, so lineage no longer
      // reaches rt0 — release its checkpoint instead of pinning a third
      rt0.unpersist()

      def normalized(full: DataFrame): DataFrame = {
        // lazy 1-row max frame, broadcast into the rescale — no collect
        val mx = full.agg(greatest(max(col("f")), lit(1L)).as("m"))
        full.crossJoin(broadcast(mx))
          .select(col("id"), expr(s"(f * ${scale}L) div m").as("f"))
      }

      // one alternating half-step: solve `outKey` factors against the
      // fixed `inKey` factors. The rating copy pinned on inKey feeds the
      // join; the grouped sums leave partitioned by outKey — which is
      // exactly the key the NEXT half-step joins on. The grouped sum is
      // materialized BEFORE normalization: `normalized` references its
      // input twice (max agg + rescale join), so letting half-steps
      // compose lazily doubles the plan tree per half-step — 2^k copies
      // of the deepest subtree after k steps. ReusedExchange dedups the
      // shuffles at runtime but planning + codegen of the exponential
      // tree dominated the measured cost (8.8 s for one composed 4-step
      // job vs ~0.6 s per pinned step). The checkpoint is one factor
      // frame (|users| or |items| rows), values bit-identical either way.
      def halfStep(
          fixed: DataFrame, inKey: String, outKey: String
      ): (DataFrame, DataFrame) = {
        val rt = if (inKey == "item") rByItem else rByUser
        val raw = Iterate.materialize(
          rt.join(fixed, rt(inKey) === fixed("id"))
            .groupBy(col(outKey).as("id"))
            .agg(sum(col("r") * col("f")).as("num"),
              sum(expr(s"(f * f) div ${scale}L")).as("den2"))
            .select(col("id"),
              expr(s"(num * ${scale}L) div (den2 + ${reg}L)").as("f")))
        (raw, normalized(raw))
      }

      // the returned u/v are lazy `normalized` views over the newest raw
      // checkpoint of each side — Iterate.RawQueue keeps the two most
      // recent, releasing older ones as their consuming step completes
      val live = new Iterate.RawQueue(keep = 2)
      def track(raw: DataFrame): Unit = live.track(raw)

      val v0 = Iterate.materialize(
        rByItem.select(col("item").as("id")).distinct()
          .select(col("id"), lit(scale).as("f")))
      track(v0)
      var v = v0
      var u = v0.limit(0)
      for (_ <- 1 to iters) {
        val (uRaw, uNorm) = halfStep(v, "item", "user")
        track(uRaw)
        u = uNorm
        val (vRaw, vNorm) = halfStep(u, "user", "item")
        track(vRaw)
        v = vNorm
      }
      u.select(lit("u").as("side"), col("id"), col("f").as("f_fp"))
        .union(v.select(lit("i").as("side"), col("id"), col("f").as("f_fp")))
    }
  }

  /** The same recurrence unrolled as DuckDB SQL over a `graft_ratings`
    * (user_id, item_id, r) relation — the oracle twin of [[run]]; kept
    * beside the Scala so the two stay in sync. Ends selecting
    * (side, id, f_fp).
    */
  def oracleSql(iters: Int = 3, scale: Long = 1000000L,
      reg: Long = 1000000L): String = {
    val sb = new StringBuilder
    sb.append(
      s"""rt AS MATERIALIZED (
         |  SELECT user_id, item_id, CAST(sum(r) AS BIGINT) AS r
         |  FROM graft_ratings GROUP BY user_id, item_id
         |  HAVING CAST(sum(r) AS BIGINT) > 0
         |), v0 AS (
         |  -- CAST: a bare INT32 literal seed would overflow in f * f
         |  SELECT DISTINCT item_id AS id, CAST(${scale} AS BIGINT) AS f
         |  FROM rt
         |)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |u${i}r AS (
           |  SELECT rt.user_id AS id,
           |    (CAST(sum(rt.r * v.f) AS BIGINT) * ${scale})
           |      // (CAST(sum((v.f * v.f) // ${scale}) AS BIGINT) + ${reg}) AS f
           |  FROM rt JOIN v${i - 1} v ON v.id = rt.item_id
           |  GROUP BY rt.user_id
           |), u${i}m AS (SELECT greatest(max(f), 1) AS m FROM u${i}r),
           |u$i AS MATERIALIZED (
           |  SELECT id, (f * ${scale}) // m AS f FROM u${i}r CROSS JOIN u${i}m
           |),
           |v${i}r AS (
           |  SELECT rt.item_id AS id,
           |    (CAST(sum(rt.r * u.f) AS BIGINT) * ${scale})
           |      // (CAST(sum((u.f * u.f) // ${scale}) AS BIGINT) + ${reg}) AS f
           |  FROM rt JOIN u$i u ON u.id = rt.user_id
           |  GROUP BY rt.item_id
           |), v${i}m AS (SELECT greatest(max(f), 1) AS m FROM v${i}r),
           |v$i AS MATERIALIZED (
           |  SELECT id, (f * ${scale}) // m AS f FROM v${i}r CROSS JOIN v${i}m
           |)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT 'u' AS side, id, f AS f_fp FROM u$iters
         |UNION ALL
         |SELECT 'i' AS side, id, f AS f_fp FROM v$iters""".stripMargin)
    sb.toString
  }
}
