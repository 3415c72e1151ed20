package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic graph random walks — the corpus-generation pass behind
  * DeepWalk/node2vec-style graph embeddings: emit a fixed-length walk
  * from every seed node, then feed the walks to a sequence model as
  * training text.
  *
  * Reference scope: the reference has no graph surface at all (its data
  * plane is flat candle rows — services/stream-processing/app/consumer.py);
  * this is extension surface for the training-data pipeline tier, next
  * to PageRank/TrustRank on the same trade graph.
  *
  * Determinism contract: the walk is "random" only in distribution — the
  * next hop from node `u` at step `t` is the out-edge `(u, v)` minimizing
  * `md5p60(u || '|' || t || '|' || v)` (ties by `v`; 60-bit hash ties are
  * the same measure-zero event every md5-keyed operator here accepts).
  * Seeding by `(node, step, dst)` means the choice is a pure function of
  * the graph — independent of partitioning, execution order, and engine —
  * so the DuckDB oracle replays the identical walks, and two runs over
  * the same graph always emit the same corpus (the reproducibility
  * property a training-data pipeline needs from its samplers; same
  * rationale as the hash-threshold sampling in [[Curation]]).
  *
  * Scale shape: one equi-join frontier->edges plus one partial-aggregable
  * `min(struct(hash, dst))` argmin groupBy per step — walk count fans the
  * frontier, steps are a fixed small constant, and the edge relation is
  * hash-partitioned on `src` so every step reuses the same shuffle key.
  * Nothing is ever all-pairs and no state leaves the executors. Walks
  * that reach a sink node (no out-edges) simply end short, like the
  * random-walk corpus generators do.
  */
object RandomWalk {

  /** Walk `steps` hops from every row of `seeds` (single column = start
    * node). Output: (walk_id, step, node) — `walk_id` is the seed node,
    * step 0 is the seed itself.
    */
  def run(
      edges: DataFrame, seeds: DataFrame,
      steps: Int, src: String = "src", dst: String = "dst",
      edgesDistinct: Boolean = false): DataFrame = {
    require(steps >= 1)
    // the edge relation is joined once per step: distinct it ONCE,
    // checkpoint, and pin it hash-partitioned on the join key `src` —
    // the distinct's (src, dst) partitioning does NOT satisfy a
    // src-keyed join, so without the repin every step re-shuffles the
    // whole edge relation; pinned, only the frontier (one row per live
    // walk) moves per step. Width scoped by edge count (session width
    // at scale, fewer tasks on toy graphs).
    val sel = edges.select(col(src).as("src"), col(dst).as("dst"))
    // edgesDistinct (r10): caller-asserted distinctness skips the
    // corpus-sized distinct shuffle (RankQueries.tradeEdgesDistinct)
    val e0 = Iterate.materialize(if (edgesDistinct) sel else sel.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val e = Iterate.materialize(e0.repartition(p, col("src")))
    e0.unpersist()
    val s0 = seeds.toDF("walk_id").distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
    var frontier = Iterate.materialize(s0)
    var out = Seq(frontier.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      // argmin over the out-neighborhood: hash seeded by (node, step, dst).
      // Each step materializes so step t's job starts from step t-1's rows
      // rather than replaying the whole walk prefix (O(steps) per step =
      // O(steps^2) total without the checkpoint)
      val next = Iterate.materialize(frontier.join(e, frontier("node") === e("src"))
        .select(col("walk_id"),
          struct(
            expr(s"md5p60(concat(node, '|', '$t', '|', dst))").as("h"),
            col("dst")).as("hd"))
        .groupBy(col("walk_id"))
        .agg(min(col("hd")).as("hd"))
        .select(col("walk_id"), col("hd.dst").as("node")))
      frontier = next
      out = out :+ next.withColumn("step", lit(t))
    }
    out.reduce(_ union _).select(col("walk_id"), col("step"), col("node"))
    } // withWidth
  }

  /** The identical walk unrolled as DuckDB CTEs over a `graft_edges`
    * (src, dst) relation and a `graft_walk_seeds` (node) relation — the
    * oracle twin of [[run]]. Kept beside the Scala so the hash-seed
    * construction cannot drift.
    */
  def oracleSql(steps: Int): String = {
    val head =
      """we AS MATERIALIZED (SELECT DISTINCT src, dst FROM graft_edges),
        |w0 AS (SELECT DISTINCT node AS walk_id, node FROM graft_walk_seeds)""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT walk_id, dst AS node FROM (
         |    SELECT p.walk_id, we.dst,
         |      row_number() OVER (PARTITION BY p.walk_id ORDER BY
         |        CAST(concat('0x', substr(md5(concat(p.node, '|', '$t', '|', we.dst)), 1, 15)) AS BIGINT),
         |        we.dst) AS rn
         |    FROM w${t - 1} p JOIN we ON we.src = p.node)
         |  WHERE rn = 1
         |)""".stripMargin
    }
    val sel = (0 to steps)
      .map(t => s"SELECT walk_id, $t AS step, node FROM w$t")
      .mkString("\nUNION ALL\n")
    (head +: stepCtes).mkString(",\n") + "\n" + sel
  }

  /** [[oracleSql]]'s CTE chain with the walk union wrapped as a named
    * CTE `resultName` (walk_id, step, node) — so downstream operators
    * (e.g. the [[PpmiEmbed]] graph-embedding composition) can chain
    * onto the walks inside one statement.
    */
  def oracleCtes(steps: Int, resultName: String): String = {
    val full = oracleSql(steps)
    val splitAt = full.lastIndexOf("\nSELECT walk_id, 0 AS step")
    val ctes = full.substring(0, splitAt)
    val sel = full.substring(splitAt + 1)
    s"$ctes,\n$resultName AS (\n$sel\n)"
  }
}
