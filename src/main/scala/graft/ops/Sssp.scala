package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source(-set) shortest paths over a directed edge
  * list — Bellman-Ford relaxation rounds in exact int64 arithmetic.
  * The weighted companion to [[Bfs]]: where BFS tiers the crawl graph
  * by hop count, SSSP tiers it by an edge COST (latency, toll,
  * 1/affinity), the primitive behind weighted
  * distance-from-trusted-set curation features and cheapest-route
  * queries over entity graphs.
  *
  * Reference scope: extension surface (the reference has no graph
  * operators — its data plane is flat candle rows,
  * services/stream-processing/app/consumer.py); part of the
  * training-data pipeline tier.
  *
  * Semantics: `dist(v)` = minimum total weight over directed paths of
  * at most `rounds` edges from ANY seed to `v` (weights int64 >= 0,
  * parallel edges collapsed to their minimum weight). Nodes unreached
  * within `rounds` edges are absent (callers left-join and read null
  * as unreachable). With `rounds` >= |V|-1 this is exact shortest
  * path; a smaller cap is itself meaningful (bounded-effort
  * reachability) and keeps the loop length fixed — matching the
  * unrolled oracle.
  *
  * Everything is integer min/+ over exact keys — no floats, no
  * randomness — so the result is partition-invariant and the DuckDB
  * oracle ([[oracleSql]]) replays the identical relaxation.
  *
  * Scale shape: the edge relation is min-collapsed ONCE, checkpointed,
  * and pinned hash-partitioned on `src` ([[PageRank]]'s convention via
  * [[Iterate.withWidth]]); each round is one co-partitioned
  * dist-join-edges relax plus one groupBy(node) min — never all-pairs,
  * no driver-side graph state; [[Iterate.Cadence]] checkpoints every
  * second round so lineage stays flat. Integer headroom: the caller
  * must keep `rounds * max(w)` inside int64 (at the int32 weights and
  * single-digit round counts used here, ~2^35 of headroom remains).
  */
object Sssp {

  /** (node, dist) for every node within `rounds` relaxation rounds of
    * the seed set. `edges` must carry (src, dst, w) with w int64 >= 0;
    * `seeds` is a single-column frame of start nodes (dist 0, present
    * in the output even when absent from the graph).
    */
  def run(
      edges: DataFrame, seeds: DataFrame, rounds: Int,
      src: String = "src", dst: String = "dst", w: String = "w"): DataFrame = {
    require(rounds >= 1)
    val raw = edges.select(col(src).as("src"), col(dst).as("dst"),
        col(w).cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
    // local tail (LocalTail gate) over the RAW edge list (the relax
    // min absorbs parallel edges exactly like the min-collapse):
    // synchronous Bellman-Ford rounds driver-local
    val local = LocalTail.collect("sssp", raw)
    if (local.isDefined)
      return GraphLocal.sssp(local.get, seeds, rounds)
    val e0 = Iterate.materialize(
      raw.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
      val e = Iterate.materialize(e0.repartition(p, col("src")))
      e0.unpersist()
      var dist = Iterate.materialize(
        seeds.toDF("node").distinct().withColumn("dist", lit(0L)))
      val cadence = new Iterate.Cadence(dist)
      for (t <- 1 to rounds) {
        val relaxed = dist.join(e, dist("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = dist.select(col("node"), col("dist"))
          .union(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        dist = cadence.step(t, t == rounds, next)
      }
      dist
    }
  }

  /** The identical relaxation as unrolled DuckDB CTEs over
    * `graft_edges` (src, dst, w) and `graft_sssp_seeds` (node) — the
    * oracle twin of [[run]]; kept adjacent so the two cannot drift.
    * Ends selecting (node, dist).
    */
  def oracleSql(rounds: Int): String = {
    val head =
      """we AS MATERIALIZED (
        |  SELECT src, dst, CAST(min(w) AS BIGINT) AS w FROM graft_edges
        |  WHERE src <> dst GROUP BY src, dst
        |), sd0 AS (
        |  SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist
        |  FROM graft_sssp_seeds)""".stripMargin
    val steps = (1 to rounds).map { t =>
      s"""sd$t AS MATERIALIZED (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM sd${t - 1}
         |    UNION ALL
         |    SELECT we.dst AS node, p.dist + we.w AS dist
         |    FROM sd${t - 1} p JOIN we ON we.src = p.node
         |  ) GROUP BY node
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, dist FROM sd$rounds"
  }
}
