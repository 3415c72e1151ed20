package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances over a directed edge list — the
  * graph-distance primitive next to [[PageRank]]/[[Hits]] on the same
  * trade graph: distance-from-trusted-set is a standard crawl-curation
  * feature (how many link hops from a whitelisted seed a document
  * sits), and the same pass computes reachability tiers for
  * link-graph-aware sampling.
  *
  * Reference scope: extension surface (the reference has no graph
  * operators — its data plane is flat candle rows,
  * services/stream-processing/app/consumer.py); part of the
  * training-data pipeline tier.
  *
  * Semantics: `hop(v)` = length of the shortest directed path from ANY
  * seed to `v`, capped at `maxHops`; unreached nodes are absent from
  * the output (the caller left-joins and treats null as unreachable).
  * Seeds not present in the graph still appear at hop 0 (they are
  * valid sources). Everything is set algebra over exact keys — no
  * floats, no randomness — so the result is partition-invariant and
  * the DuckDB oracle replays the identical frontier expansion.
  *
  * Scale shape: the edge relation is distincted ONCE, checkpointed,
  * and pinned hash-partitioned on `src` ([[PageRank]]'s convention, via
  * [[Iterate.withWidth]]); each round joins only the CURRENT frontier
  * (nodes first reached last round) against it, so per-round work is
  * frontier-sized, and the visited set grows monotonically with
  * per-round checkpoints keeping lineage flat. No all-pairs step, no
  * driver-side graph state.
  */
object Bfs {

  /** (node, hop) for every node within `maxHops` directed hops of the
    * seed set (single-column frame of start nodes).
    */
  def run(
      edges: DataFrame, seeds: DataFrame, maxHops: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(maxHops >= 1)
    val raw = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst"))
    // local tail (LocalTail gate): the probe collects the RAW edge
    // list — level-synchronous BFS is idempotent to duplicate edges, so
    // the distributed path's distinct shuffle + checkpoint never runs.
    // Identical set algebra; GraphLocalSpec pins it.
    val local = LocalTail.collect("bfs", raw)
    if (local.isDefined)
      return GraphLocal.bfs(local.get, seeds, maxHops)
    val e0 = Iterate.materialize(raw.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val e = Iterate.materialize(e0.repartition(p, col("src")))
    e0.unpersist()
    expand(e, seeds, maxHops)
    } // withWidth
  }

  /** The level-synchronous expansion over an already-pinned edge frame
    * `e` (src, dst) — shared by [[run]] and [[doubleSweep]].
    */
  private[ops] def expand(
      e: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    var frontier = Iterate.materialize(
      seeds.toDF("node").distinct().withColumn("hop", lit(0)))
    // `visited` stays a LAZY union of the per-hop checkpoints (maxHops
    // is a small constant, so the plan is a flat union of leaves): the
    // r8 shape re-materialized the whole visited set every hop — one
    // extra eager job and one extra |visited|-row checkpoint write per
    // round for data that is already checkpointed piecewise.
    var visited = frontier
    var t = 1
    var exhausted = false
    while (t <= maxHops && !exhausted) {
      // neighbors of the current frontier not seen before: the min-hop
      // property needs no argmin because expansion is level-synchronous —
      // a node reached now cannot have been reachable earlier
      val next = Iterate.materialize(
        frontier.join(e, frontier("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node").as("v")),
            col("node") === col("v"), "left_anti")
          .withColumn("hop", lit(t)))
      if (next.isEmpty) {
        // fixpoint: an empty frontier stays empty — the remaining
        // rounds would each pay a full edge-frame scan for zero rows
        next.unpersist()
        exhausted = true
      } else {
        visited = visited.union(next)
        frontier = next
        t += 1
      }
    }
    visited
  }

  /** Double-sweep diameter lower bound (Magnien-Latapy-Habib): BFS from
    * the md5-min node, then BFS again from the farthest node found —
    * the standard 2-pass estimator whose second eccentricity is a
    * tight diameter lower bound in practice. One row:
    * (start_node, end_node, diameter_lb), where end_node is the
    * (hop DESC, node) argmax of the second sweep. Both argmaxes are
    * TakeOrdered-shaped limits, the seed is a pure function of the
    * data, and the pinned edge frame is shared by both sweeps — two
    * frontier-sized passes total, no all-pairs work. On a disconnected
    * graph the bound covers the seed's component (documented estimator
    * semantics).
    */
  def doubleSweep(
      edges: DataFrame, maxHops: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(maxHops >= 1)
    val raw = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst"))
    // local tail over the RAW edge list (duplicates are harmless to
    // BFS and to the node set) — string ids only (the md5-min seed must
    // replay Spark's md5 over UTF8 bytes); both sweeps + argmaxes run
    // locally
    val local =
      if (raw.schema.fields.take(2).forall(_.dataType ==
            org.apache.spark.sql.types.StringType))
        LocalTail.collect("double_sweep", raw)
      else None
    if (local.isDefined)
      return GraphLocal.doubleSweep(local.get, maxHops, edges.sparkSession)
    val e0 = Iterate.materialize(raw.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val e = Iterate.materialize(e0.repartition(p, col("src")))
    e0.unpersist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val s1 = nodes
      .orderBy(md5(col("node")), col("node")).limit(1)
    val sweep1 = expand(e, s1, maxHops)
    val far1 = sweep1.orderBy(col("hop").desc, col("node")).limit(1)
      .select(col("node"))
    val sweep2 = expand(e, far1, maxHops)
    sweep2.orderBy(col("hop").desc, col("node")).limit(1)
      .select(col("node").as("end_node"), col("hop").as("diameter_lb"))
      .crossJoin(broadcast(
        s1.select(col("node").as("start_node"))))
      .select(col("start_node"), col("end_node"),
        col("diameter_lb").cast("long").as("diameter_lb"))
    } // withWidth
  }

  /** The identical frontier expansion as unrolled DuckDB CTEs over
    * `graft_edges` (src, dst) and `graft_bfs_seeds` (node) — the oracle
    * twin of [[run]]; kept adjacent so the two cannot drift. Ends
    * selecting (node, hop).
    */
  def oracleSql(maxHops: Int): String =
    s"""be AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM graft_edges WHERE src <> dst
       |),
       |""".stripMargin +
      expandCtes(maxHops, prefix = "", edges = "be",
        seeds = "graft_bfs_seeds") +
      s"\nSELECT node, hop FROM vis$maxHops"

  /** The unrolled expansion CTE chain only (no edge CTE, no final
    * SELECT), with every CTE name prefixed — so two sweeps can chain in
    * one statement ([[doubleSweep]]'s oracle). Ends defining
    * `<prefix>vis<maxHops>` (node, hop).
    */
  def expandCtes(
      maxHops: Int, prefix: String, edges: String, seeds: String): String = {
    val head =
      s"""${prefix}vis0 AS (SELECT DISTINCT node, 0 AS hop FROM $seeds)"""
    val steps = (1 to maxHops).map { t =>
      s"""${prefix}nxt$t AS MATERIALIZED (
         |  SELECT DISTINCT $edges.dst AS node, $t AS hop
         |  FROM ${prefix}vis${t - 1} f JOIN $edges ON $edges.src = f.node
         |  WHERE f.hop = ${t - 1}
         |    AND $edges.dst NOT IN (SELECT node FROM ${prefix}vis${t - 1})
         |), ${prefix}vis$t AS MATERIALIZED (
         |  SELECT node, hop FROM ${prefix}vis${t - 1}
         |  UNION ALL SELECT node, hop FROM ${prefix}nxt$t
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Oracle twin of [[doubleSweep]] over `graft_edges` (src, dst):
    * md5-min seed, two chained unrolled expansions, argmaxes as
    * (hop DESC, node) LIMIT 1 — kept adjacent so the two cannot drift.
    * Ends selecting (start_node, end_node, diameter_lb).
    */
  def doubleSweepOracleSql(maxHops: Int): String =
    s"""de AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM graft_edges WHERE src <> dst
       |), dn AS (
       |  SELECT src AS node FROM de UNION SELECT dst FROM de
       |), ds1 AS (
       |  SELECT node FROM dn ORDER BY md5(node), node LIMIT 1
       |),
       |""".stripMargin +
      expandCtes(maxHops, prefix = "da", edges = "de", seeds = "ds1") +
      s""",
         |df1 AS (
         |  SELECT node FROM davis$maxHops ORDER BY hop DESC, node LIMIT 1
         |),
         |""".stripMargin +
      expandCtes(maxHops, prefix = "db", edges = "de", seeds = "df1") +
      s"""
         |SELECT (SELECT node FROM ds1) AS start_node, node AS end_node,
         |  CAST(hop AS BIGINT) AS diameter_lb
         |FROM dbvis$maxHops ORDER BY hop DESC, node LIMIT 1""".stripMargin
}
