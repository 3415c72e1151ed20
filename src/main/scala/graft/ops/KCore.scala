package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly drop nodes of
  * degree < k (with their edges) until the survivor graph is stable —
  * the classic graph-quality filter (link-spam farms and long chains
  * peel away; genuinely dense neighborhoods survive). Used in crawl
  * curation the same way PageRank/TrustRank are, but as a hard gate.
  *
  * Determinism: peeling is pure set algebra (integer degrees, no
  * scores), so the result is exact on any engine; the round count is
  * FIXED (not loop-until-fixpoint) so the DuckDB oracle can unroll the
  * identical rounds. Peeling cascades at most one dependency layer per
  * round; `KCoreSpec` asserts the fixture graphs reach the fixpoint
  * within the configured rounds (an extra peel changes nothing), and
  * callers size `rounds` to the peel depth their graphs need.
  *
  * Scale shape: per round, one degree groupBy over the live edge set +
  * two semi joins (endpoint-in-survivors) — all equi-keyed, the edge
  * set only shrinks; rounds materialize through checkpoints.
  */
object KCore {

  /** Surviving edges of the k-core after `rounds` peels of the
    * undirected (a, b) edge frame (one row per edge, a != b).
    */
  def coreEdges(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = Iterate.materialize(
      edges.select(col("a"), col("b")).filter(col("a") =!= col("b")).distinct())
    // checkpoint every SECOND peel (and the last): two peels compose
    // into one job — same fixpoint, half the materialization overhead
    val cadence = new Iterate.Cadence(e)
    for (i <- 1 to rounds) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("c"))
      val keep = deg.filter(col("c") >= k).select(col("node"))
      val next =
        e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      e = cadence.step(i, i == rounds, next)
    }
    e
  }

  /** Nodes of the k-core (endpoints of the surviving edges). */
  def coreNodes(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    val e = coreEdges(edges, k, rounds)
    e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .distinct()
  }

  /** The same peels unrolled as DuckDB SQL over a `graft_und_edges`
    * (a, b) CTE — the oracle twin of [[coreNodes]]; ends selecting
    * (node).
    */
  def oracleSql(k: Int, rounds: Int = 8): String = {
    val sb = new StringBuilder
    sb.append(
      """e0 AS MATERIALIZED (
        |  SELECT DISTINCT a, b FROM graft_und_edges WHERE a <> b
        |)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(
        s""",
           |k$i AS (
           |  SELECT node FROM (
           |    SELECT node, count(*) AS c FROM (
           |      SELECT a AS node FROM e${i - 1}
           |      UNION ALL SELECT b FROM e${i - 1})
           |    GROUP BY node)
           |  WHERE c >= $k
           |), e$i AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN k$i x ON x.node = e.a
           |  JOIN k$i y ON y.node = e.b
           |)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT DISTINCT node FROM (
         |  SELECT a AS node FROM e$rounds
         |  UNION SELECT b FROM e$rounds)""".stripMargin)
    sb.toString
  }
}
