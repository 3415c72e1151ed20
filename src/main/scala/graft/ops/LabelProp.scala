package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label propagation (Zhu & Ghahramani 2002 / Raghavan et al. 2007 LPA)
  * with clamped seeds: labels spread from a trusted seed set across an
  * edge list by synchronous majority vote — the weak-supervision /
  * semi-supervised labeling pass of a training-data pipeline (propagate
  * a small set of human labels over a near-dup or co-occurrence graph).
  *
  * Determinism: votes are integer counts; the per-node winner is the
  * (votes DESC, label ASC) argmax taken as a partial-aggregable
  * `min(struct(-votes, label))`; rounds are synchronous. No floats
  * anywhere, so the fixpoint trajectory is bit-identical at any
  * parallelism and the DuckDB oracle unrolls the same rounds.
  *
  * Scale shape: per round ONE equi join (current labels x edges) + one
  * (node, label) groupBy + one argmax groupBy — all partial-aggregable,
  * label cardinality never materializes per node beyond its neighbor
  * labels. Unlabeled nodes carry no rows (NULL-label rows are dropped
  * from the vote side). Rounds checkpoint to keep plans flat.
  */
object LabelProp {

  /** Propagate `seeds` (node, label) over the DIRECTED edge frame for
    * `iters` synchronous rounds (pass both directions for an undirected
    * graph). Seed labels are clamped; non-seed nodes re-vote every
    * round (and may flip as the frontier grows). Returns (node, label)
    * for every node of the graph; nodes never reached keep NULL.
    */
  def run(
      edges: DataFrame, seeds: DataFrame,
      src: String = "src", dst: String = "dst",
      iters: Int = 3, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1)
    // one pinned partitioning across rounds (the PageRank pattern):
    // edges by src, nodes/labels by node — the edge relation is never
    // re-shuffled inside the loop; explicit count so AQE cannot
    // de-co-partition one side
    // edgesDistinct (r10): caller-asserted distinctness skips the
    // corpus-sized distinct shuffle (RankQueries.tradeEdgesDistinct)
    val sel = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e0 = Iterate.materialize(if (edgesDistinct) sel else sel.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val e = Iterate.materialize(e0.repartition(p, col("src")))
    val nodes = Iterate.materialize(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
        .repartition(p, col("node")))
    e0.unpersist() // e + nodes materialized — drop the pre-repartition copy
    val sd = seeds.toDF("node", "seed_label")
    var labels = Iterate.materialize(
      nodes.join(sd, Seq("node"), "left")
        .select(col("node"), col("seed_label"),
          col("seed_label").as("label")))
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.filter(col("label").isNotNull)
          .select(col("node"), col("label")),
          e("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val best = votes
        .groupBy(col("dst"))
        .agg(min(struct((-col("votes")).as("neg"), col("label"))).as("w"))
        .select(col("dst"), col("w.label").as("new_label"))
      val next = Iterate.materialize(
        labels.join(best, labels("node") === best("dst"), "left")
          .select(col("node"), col("seed_label"),
            coalesce(col("seed_label"), col("new_label"), col("label"))
              .as("label")))
      labels.unpersist()
      labels = next
    }
    labels.select(col("node"), col("label"))
    } // withWidth
  }

  /** The same rounds unrolled as DuckDB SQL over `graft_edges`
    * (src, dst) and `graft_seeds` (node, label) CTEs — the oracle twin
    * of [[run]]. Ends selecting (node, label).
    */
  def oracleSql(iters: Int = 3): String =
    oracleCtes(iters) + s"\nSELECT node, label FROM l$iters"

  /** [[oracleSql]]'s CTE chain alone (no final SELECT), ending with the
    * `l<iters>(node, label)` relation — for composition by queries that
    * aggregate OVER the converged labels (q_modularity).
    */
  def oracleCtes(iters: Int = 3): String = {
    val sb = new StringBuilder
    sb.append(
      """e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM graft_edges WHERE src <> dst
        |), nodes AS MATERIALIZED (
        |  SELECT DISTINCT src AS node FROM e
        |  UNION SELECT DISTINCT dst FROM e
        |), l0 AS (
        |  SELECT n.node, s.label AS seed_label, s.label
        |  FROM nodes n LEFT JOIN graft_seeds s USING (node)
        |)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |v$i AS (
           |  SELECT e.dst, l.label, count(*) AS votes
           |  FROM e JOIN l${i - 1} l ON l.node = e.src
           |  WHERE l.label IS NOT NULL
           |  GROUP BY e.dst, l.label
           |), b$i AS (
           |  SELECT dst, label AS new_label FROM (
           |    SELECT *, row_number() OVER (PARTITION BY dst
           |      ORDER BY votes DESC, label) AS rn FROM v$i) WHERE rn = 1
           |), l$i AS MATERIALIZED (
           |  SELECT l.node, l.seed_label,
           |    COALESCE(l.seed_label, b.new_label, l.label) AS label
           |  FROM l${i - 1} l LEFT JOIN b$i b ON b.dst = l.node
           |)""".stripMargin)
    }
    sb.toString
  }
}
