package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
  * greedily select k results per query maximizing
  * `lambda*rel - (1-lambda)*max_sim_to_already_selected` — the standard
  * diversification pass over an ANN/BM25 top-N candidate list, so the
  * final k results aren't k near-copies of the same document.
  *
  * Fixed lambda = 1/2, which makes the greedy argmax equivalent to
  * `argmax(rel_fp - msim_fp)` over INTEGER fixed-point scores — exact,
  * order-independent, cross-engine-reproducible (ties broken by
  * candidate id). The selection depth k is a compile-time unroll: each
  * round is one anti join (drop picked), one max-sim aggregation
  * against the ≤ r picked rows, and one per-query argmax window — all
  * partitioned by query id. Candidate lists are bounded (top-N from
  * the upstream retriever), so per-query work is O(N*k) pair lookups —
  * in-cell pairs only, the `q_semdedup` budget, never corpus-pairs.
  */
object Mmr {

  /** Greedy-select `k` of each query's candidates.
    *
    * @param cand candidates: (q_id, c_id, rel_fp) — integer relevance
    * @param sims candidate-candidate similarities within each query:
    *             (q_id, a, b, s_fp) — integer, both directions present
    * @return (q_id, c_id, mmr_rank) with mmr_rank in 1..k
    */
  def rerank(cand: DataFrame, sims: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    // local tail (GreedyLocal, guide §1.2): the candidate frame is
    // bounded by construction (batch x top-N retriever output) and the
    // k rounds are pure per-round stage latency distributed — when both
    // frames fit the LocalTail budget the identical integer greedy runs
    // driver-local on the probe's rows. GreedyLocalSpec pins
    // local == distributed.
    val local = LocalTail.collectAll("mmr", Seq(cand, sims))
    if (local.isDefined)
      return GreedyLocal.mmr(cand, local.get(0), local.get(1), k)
    val byRel = Window.partitionBy(col("q_id"))
      .orderBy(col("rel_fp").desc, col("c_id"))
    var picks = cand
      .withColumn("rn", row_number().over(byRel)).filter(col("rn") === 1)
      .select(col("q_id"), col("c_id"), lit(1).as("mmr_rank"))
    for (r <- 2 to k) {
      val rem = cand.join(picks, Seq("q_id", "c_id"), "left_anti")
      val ms = rem
        .join(picks.select(col("q_id"), col("c_id").as("p_id")), Seq("q_id"))
        .join(
          sims.select(col("q_id").as("s_q"), col("a"), col("b"), col("s_fp")),
          // q_id equality included (r10): the oracle always had it; the
          // r9 join omitted it and was only value-correct because s_fp
          // is a function of (a, b) in every caller — keyed tighter the
          // join is both smaller and correct for arbitrary sims
          col("s_q") === rem("q_id") &&
            col("a") === col("c_id") && col("b") === col("p_id"),
          "inner")
        .groupBy(rem("q_id"), col("c_id"), col("rel_fp"))
        .agg(max(col("s_fp")).as("msim_fp"))
      val byMmr = Window.partitionBy(col("q_id"))
        .orderBy((col("rel_fp") - col("msim_fp")).desc, col("c_id"))
      val pick = ms.withColumn("rn", row_number().over(byMmr))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("c_id"), lit(r).as("mmr_rank"))
      picks = picks.union(pick)
    }
    picks
  }

  /** DuckDB twin of [[rerank]], as CTE text. Expects CTEs `mmr_cand
    * (q_id, c_id, rel_fp)` and `mmr_sims(q_id, a, b, s_fp)` defined by
    * the caller; ends in `mmr_out(q_id, c_id, mmr_rank)`. Generated
    * from the same parameters so Scala and SQL unroll identically.
    */
  def oracleCtes(k: Int): String = {
    require(k >= 1)
    val first =
      """mp1 AS (
        |  SELECT q_id, c_id, 1 AS mmr_rank FROM (
        |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY rel_fp DESC, c_id) AS rn FROM mmr_cand)
        |  WHERE rn = 1
        |), mpick1 AS MATERIALIZED (SELECT * FROM mp1)""".stripMargin
    val rounds = (2 to k).map { r =>
      val prev = s"mpick${r - 1}"
      s"""mrem$r AS (
         |  SELECT t.* FROM mmr_cand t LEFT JOIN $prev p
         |    ON t.q_id = p.q_id AND t.c_id = p.c_id
         |  WHERE p.c_id IS NULL
         |), mms$r AS (
         |  SELECT t.q_id, t.c_id, t.rel_fp, max(s.s_fp) AS msim_fp
         |  FROM mrem$r t
         |  JOIN $prev p ON p.q_id = t.q_id
         |  JOIN mmr_sims s ON s.q_id = t.q_id AND s.a = t.c_id
         |    AND s.b = p.c_id
         |  GROUP BY t.q_id, t.c_id, t.rel_fp
         |), mp$r AS (
         |  SELECT q_id, c_id, $r AS mmr_rank FROM (
         |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel_fp - msim_fp DESC, c_id) AS rn FROM mms$r)
         |  WHERE rn = 1
         |), mpick$r AS MATERIALIZED (
         |  SELECT * FROM mpick${r - 1} UNION ALL SELECT * FROM mp$r)""".stripMargin
    }
    ((first +: rounds) :+ s"mmr_out AS (SELECT * FROM mpick$k)").mkString(",\n")
  }
}
