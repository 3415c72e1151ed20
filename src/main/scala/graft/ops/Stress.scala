package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled, depth-limited STRESS centrality — Brandes-style shortest-
  * path counting through each node, the betweenness-family axis the
  * centrality tier was missing (PageRank = influence, HITS =
  * hub/authority, closeness = distance-to-everything; stress/betweenness
  * = brokerage: how much shortest-path traffic RIDES THROUGH a node).
  * Stress (Shimbel 1953) counts paths where betweenness weights them
  * 1/σ_st — counting keeps EVERYTHING exact int64 (betweenness's
  * fractional dependencies need divisions Spark/DuckDB would have to
  * quantize identically at every level; counting has no such step).
  *
  * Per seed s (k md5-sampled seeds, depth <= maxHops — the
  * Eppstein-Wang-style sampled form, same trade as [[Closeness]]):
  *
  *   - forward level-synchronous BFS counting σ(v) = #shortest s→v
  *     paths: σ sums over frontier predecessors — one grouped join per
  *     level over the pinned edge frame;
  *   - backward accumulation g(v) = 1 + Σ_(w ∈ DAG-succ(v)) g(w)
  *     (#shortest-path continuations from v downward, self included),
  *     computed level-by-level from the deepest frontier up;
  *   - stress(v | s) = σ(v)·(g(v) − 1) for v ≠ s — shortest paths from
  *     s THROUGH v to any strictly-later node, exact.
  *
  * Scale shape: 2·maxHops frontier-sized grouped joins over ONE pinned
  * edge partitioning ([[Bfs]]'s convention); the frontier carries
  * (seed, node), so k seeds bound the blow-up at a constant factor.
  * Int64 headroom: σ and g are path COUNTS and can grow like
  * (avg deg)^depth — at depth 4 on a support-pruned graph they stay
  * far under 2^63, and ANSI mode fails loudly (the q_dist_drift
  * convention) rather than wrapping if a denser graph overflows;
  * reduce maxHops or prune harder then.
  */
object Stress {

  /** (node, stress) summed over the seed sample; nodes never reached
    * (or with zero through-traffic) are absent. `edges` is an
    * UNDIRECTED (a, b) frame, one row per edge.
    */
  def run(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val sym0 = Iterate.materialize(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct())
    Iterate.withWidth(edges.sparkSession, sym0.count()) { p =>
    val e = Iterate.materialize(sym0.repartition(p, col("src")))
    sym0.unpersist()
    // ---- forward: per-seed path counting ----
    var frontier = Iterate.materialize(
      seeds.toDF("seed").distinct()
        .select(col("seed"), col("seed").as("node"),
          lit(0).as("hop"), lit(1L).as("sigma")))
    var visited = frontier
    for (t <- 1 to maxHops) {
      val next = Iterate.materialize(
        frontier.join(e, frontier("node") === e("src"))
          .groupBy(col("seed"), col("dst").as("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(visited.select(col("seed").as("vs"), col("node").as("vn")),
            col("seed") === col("vs") && col("node") === col("vn"),
            "left_anti")
          .select(col("seed"), col("node"), lit(t).as("hop"), col("sigma")))
      // lazy union of per-hop checkpoints (the Bfs.expand r9 shape):
      // re-materializing the whole visited set per hop paid one extra
      // eager job + checkpoint write per round for already-stored rows
      visited = visited.union(next)
      frontier = next
    }
    // ---- backward: continuation counts, deepest level up ----
    var gPrev = Iterate.materialize(
      visited.filter(col("hop") === maxHops)
        .select(col("seed"), col("node"), lit(1L).as("g")))
    var gAll = gPrev
    for (l <- (maxHops - 1) to 0 by -1) {
      val lvl = visited.filter(col("hop") === l).select("seed", "node")
      val gl = Iterate.materialize(
        lvl.join(e, lvl("node") === e("src"), "left")
          .join(gPrev.select(col("seed").as("gs"), col("node").as("gn"),
            col("g")),
            col("seed") === col("gs") && col("dst") === col("gn"), "left")
          .groupBy(col("seed"), col("node"))
          .agg((lit(1L) + coalesce(sum(col("g")), lit(0L))).as("g")))
      gAll = gAll.union(gl) // lazy union of per-level checkpoints
      gPrev = gl
    }
    // ---- stress: σ(v)·(g(v) − 1), seeds excluded, summed over seeds ----
    visited.filter(col("hop") > 0)
      .join(gAll.select(col("seed").as("gs"), col("node").as("gn"), col("g")),
        col("seed") === col("gs") && col("node") === col("gn"))
      .select(col("node"), (col("sigma") * (col("g") - 1)).as("st"))
      .groupBy(col("node"))
      .agg(sum(col("st")).as("stress"))
      .filter(col("stress") > 0)
    } // withWidth
  }

  /** The identical forward/backward unroll as DuckDB CTEs over
    * `graft_sedges` (a, b) and `graft_stress_seeds` (node) — kept
    * adjacent so the two cannot drift. Ends selecting (node, stress).
    */
  def oracleSql(maxHops: Int): String = {
    val fwdHead =
      """se AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT a AS src, b AS dst FROM graft_sedges
        |    UNION ALL SELECT b, a FROM graft_sedges)
        |  WHERE src <> dst
        |), svis0 AS (
        |  SELECT node AS seed, node, 0 AS hop, CAST(1 AS BIGINT) AS sigma
        |  FROM (SELECT DISTINCT node FROM graft_stress_seeds)
        |)""".stripMargin
    val fwdSteps = (1 to maxHops).map { t =>
      s"""snxt$t AS MATERIALIZED (
         |  SELECT f.seed, se.dst AS node, $t AS hop,
         |    CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM svis${t - 1} f JOIN se ON se.src = f.node
         |  WHERE f.hop = ${t - 1}
         |    AND NOT EXISTS (SELECT 1 FROM svis${t - 1} v
         |                    WHERE v.seed = f.seed AND v.node = se.dst)
         |  GROUP BY f.seed, se.dst
         |), svis$t AS MATERIALIZED (
         |  SELECT seed, node, hop, sigma FROM svis${t - 1}
         |  UNION ALL SELECT seed, node, hop, sigma FROM snxt$t
         |)""".stripMargin
    }
    val bwdHead =
      s"""sg$maxHops AS MATERIALIZED (
         |  SELECT seed, node, CAST(1 AS BIGINT) AS g
         |  FROM svis$maxHops WHERE hop = $maxHops
         |), sgall$maxHops AS (
         |  SELECT seed, node, g FROM sg$maxHops
         |)""".stripMargin
    val bwdSteps = ((maxHops - 1) to 0 by -1).map { l =>
      s"""sg$l AS MATERIALIZED (
         |  SELECT f.seed, f.node,
         |    1 + CAST(COALESCE(sum(gn.g), 0) AS BIGINT) AS g
         |  FROM (SELECT seed, node FROM svis$maxHops WHERE hop = $l) f
         |  LEFT JOIN se ON se.src = f.node
         |  LEFT JOIN sg${l + 1} gn
         |    ON gn.seed = f.seed AND gn.node = se.dst
         |  GROUP BY f.seed, f.node
         |), sgall$l AS (
         |  SELECT seed, node, g FROM sgall${l + 1}
         |  UNION ALL SELECT seed, node, g FROM sg$l
         |)""".stripMargin
    }
    val tail =
      s"""
         |SELECT v.node, CAST(sum(v.sigma * (g.g - 1)) AS BIGINT) AS stress
         |FROM svis$maxHops v
         |JOIN sgall0 g ON g.seed = v.seed AND g.node = v.node
         |WHERE v.hop > 0
         |GROUP BY v.node
         |HAVING sum(v.sigma * (g.g - 1)) > 0""".stripMargin
    ((fwdHead +: fwdSteps) ++ (bwdHead +: bwdSteps)).mkString(",\n") + tail
  }
}
