package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Harmonic closeness centrality for a sampled seed set — the third
  * centrality axis on the trade graph next to [[PageRank]] (influence)
  * and [[Hits]] (hub/authority): how CLOSE a node sits to everything
  * else, the standard "can this hub reach the catalog quickly" curation
  * feature. Exact centrality needs all-pairs distances (O(V·E) —
  * Brandes-style), so the scalable form computes it for a small
  * deterministic sample of sources, the published approximation
  * (Eppstein-Wang); the sample here is md5-ordered (the k-means seed
  * convention), so it is a pure function of the data.
  *
  * Reference scope: extension surface (the reference has no graph
  * operators); training-data pipeline tier.
  *
  * Semantics: per seed s, run a directed BFS to `maxHops`; then
  * `harmonic_fp(s) = Σ_{v reached, v≠s} (1e6 div hop(v))` and
  * `n_reached(s)` counts those v. Harmonic (not classic 1/Σd)
  * closeness so partially-reachable seeds are well-defined without a
  * connectivity precondition. Everything is set algebra over exact
  * keys plus integer division — partition-invariant, oracle-replayable.
  *
  * Scale shape: the edge relation is distincted ONCE and pinned
  * hash-partitioned on `src` ([[Bfs]]'s convention); the frontier
  * carries `(seed, node)`, so k seeds multiply per-round work by at
  * most k (k is a constant ~4-16, never corpus-sized); the visited set
  * grows monotonically with per-round materialization keeping lineage
  * flat. No all-pairs step, no driver-side graph state.
  */
object Closeness {

  /** (node, n_reached, harmonic_fp) for every seed (single-column frame
    * of start nodes), scanning to `maxHops` directed hops.
    */
  def run(
      edges: DataFrame, seeds: DataFrame, maxHops: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(maxHops >= 1)
    val raw = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst"))
    // local tail (LocalTail gate) over the RAW edge list (duplicate
    // edges are harmless to per-seed BFS): k seed BFS runs + integer
    // harmonic sums driver-local
    val local = LocalTail.collect("closeness", raw)
    if (local.isDefined)
      return GraphLocal.closeness(local.get, seeds, maxHops)
    val e0 = Iterate.materialize(raw.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val e = Iterate.materialize(e0.repartition(p, col("src")))
    e0.unpersist()
    var frontier = Iterate.materialize(
      seeds.toDF("seed").distinct()
        .select(col("seed"), col("seed").as("node"))
        .withColumn("hop", lit(0)))
    var visited = frontier
    for (t <- 1 to maxHops) {
      // per-seed level-synchronous expansion: a (seed, node) pair
      // reached now cannot have been reachable from that seed earlier
      val next = Iterate.materialize(
        frontier.join(e, frontier("node") === e("src"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(visited.select(col("seed").as("vs"), col("node").as("vn")),
            col("seed") === col("vs") && col("node") === col("vn"),
            "left_anti")
          .withColumn("hop", lit(t)))
      val grown = Iterate.materialize(visited.union(next))
      frontier.unpersist(); visited.unpersist()
      frontier = next
      visited = grown
    }
    visited.groupBy(col("seed"))
      .agg(
        sum(when(col("hop") > 0, 1L).otherwise(0L)).as("n_reached"),
        sum(when(col("hop") > 0, expr("1000000 div hop")).otherwise(0L))
          .as("harmonic_fp"))
      .select(col("seed").as("node"), col("n_reached"), col("harmonic_fp"))
    } // withWidth
  }

  /** The identical per-seed expansion as unrolled DuckDB CTEs over
    * `graft_edges` (src, dst) and `graft_close_seeds` (node) — the
    * oracle twin of [[run]]; kept adjacent so the two cannot drift.
    * Ends selecting (node, n_reached, harmonic_fp).
    */
  def oracleSql(maxHops: Int): String = {
    val head =
      """ce AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM graft_edges WHERE src <> dst
        |), cvis0 AS (
        |  SELECT DISTINCT node AS seed, node, 0 AS hop
        |  FROM graft_close_seeds)""".stripMargin
    val steps = (1 to maxHops).map { t =>
      s"""cnxt$t AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, ce.dst AS node, $t AS hop
         |  FROM cvis${t - 1} f JOIN ce ON ce.src = f.node
         |  WHERE f.hop = ${t - 1}
         |    AND NOT EXISTS (SELECT 1 FROM cvis${t - 1} v
         |                    WHERE v.seed = f.seed AND v.node = ce.dst)
         |), cvis$t AS MATERIALIZED (
         |  SELECT seed, node, hop FROM cvis${t - 1}
         |  UNION ALL SELECT seed, node, hop FROM cnxt$t
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT seed AS node,
         |  CAST(sum(CASE WHEN hop > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_reached,
         |  CAST(sum(CASE WHEN hop > 0 THEN 1000000 // hop ELSE 0 END)
         |    AS BIGINT) AS harmonic_fp
         |FROM cvis$maxHops GROUP BY seed""".stripMargin
  }
}
