package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank over an edge list, in exact integer fixed-point arithmetic.
  *
  * Motivation (training-data pipeline): link-graph centrality is a
  * standard document-quality prior for web-scale corpus curation —
  * rank the crawl graph, keep/boost high-centrality hosts (the
  * "Common-Crawl PageRank filter" step) — and the same kernel ranks
  * entity graphs built from co-occurrence edges.
  *
  * Numeric contract: ranks are integers in units of 1e-9 "mass"
  * (`scale` = 1e9 per node initially). Every step is integer-only —
  * `div` for per-edge contribution splits, exact integer sums, and the
  * damping `d = dampNum/100` applied as `(dampNum * x) div 100` — so
  * the result is bit-identical at ANY parallelism and reproducible by
  * any engine with 64-bit integers (the DuckDB oracle unrolls the same
  * recurrence). Floating-point PageRank cannot be cross-engine exact
  * (sum order); fixed-point is the same trick `Num.dsum` uses, applied
  * to the whole recurrence rather than a single reduction.
  *
  * Per iteration:
  * {{{
  *   contrib(u->v) = r(u) div outdeg(u)                 // integer split
  *   dangling      = sum of r(u) over nodes with no out-edges
  *   r'(v) = ((100-dampNum)*scale) div 100
  *         + (dampNum * (inflow(v) + dangling div n)) div 100
  * }}}
  *
  * Scale shape: one hash join (ranks x edges, both partitioned on the
  * source key) + one groupBy(dst) sum per iteration — never all-pairs,
  * no driver-side graph. The dangling term is a lazy 1-row aggregate
  * frame broadcast into the update plan (no per-round driver collect —
  * exactly one job per round). Every round materializes
  * through a checkpoint so the plan stays flat across iterations (the
  * `ConnectedComponents.run` pattern). Integer headroom: total mass is
  * ~n*scale ~ 1e9 * 1e9 = 1e18 at n=1e9 nodes, inside int64; for
  * larger graphs lower `scale` (the contract names the precision, not
  * the representation).
  */
object PageRank {

  /** Rank every node of `edges` (directed, self-loops dropped,
    * duplicates collapsed). Output: (node, r_fp) with r_fp the integer
    * fixed-point rank after `iters` rounds; `r_fp / scale` ~ the
    * conventional rank relative to uniform=1.
    *
    * With `seeds` (personalized PageRank / TrustRank, Gyöngyi et al.
    * 2004): teleport and dangling mass flow ONLY to the seed set —
    * per-seed base = `((100-d) * n * scale) div (100 * |S|)`, per-seed
    * dangling share = `dangling div |S|`. Trust then propagates
    * outward through links, which is the standard seed-site quality
    * prior for crawl curation. `seeds` rows not present in the graph
    * are ignored. Integer headroom: `(100-d) * n * scale` must stay
    * inside int64 — at the default scale that bounds n at ~6e8 nodes;
    * lower `scale` for larger graphs (same contract as the uniform
    * path, one order tighter).
    */
  def run(
      edges: DataFrame, src: String = "src", dst: String = "dst",
      iters: Int = 10, dampNum: Int = 85, scale: Long = 1000000000L,
      seeds: Option[DataFrame] = None,
      edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= 100)

    // Pin ONE hash partitioning across all rounds: edges and outdeg by
    // src, nodes (and every rank frame) by node. Each round's joins are
    // then co-partitioned — the edge relation (the big frame) is never
    // re-shuffled after this point; only the rank-sized frames move.
    // The explicit partition count (not plain repartition(col)) keeps AQE
    // from coalescing one side and breaking co-partitioning mid-loop.
    // Width = Iterate.width over the edge count: the session's shuffle
    // width at cluster scale, proportionally fewer tasks on toy graphs
    // where 10 rounds of fixed 32-task scheduling would dominate.
    // edgesDistinct (r10): a caller that derives the edge list from a
    // grouped aggregate (RankQueries.tradeEdgesDistinct) asserts
    // distinctness, so the corpus-sized distinct shuffle is skipped
    val sel = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e0 = Iterate.materialize(if (edgesDistinct) sel else sel.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val e = Iterate.materialize(e0.repartition(p, col("src")))
    // nodes carry their seed tag from the start: ONE checkpointed node
    // frame (uniform mode: every node is a "seed" with the plain base
    // share), then ONE aggregate job for both scalars (n, |S|)
    val nodesRaw = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .repartition(p, col("node"))
    // r9: the per-node STATIC facts (seed flag, out-degree) are attached
    // to the rank frame ONCE — the r8 rounds re-joined ranks x outdeg
    // and update x nodes every iteration (two extra n-row hash joins per
    // round for values that never change)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = seeds match {
      case Some(sd) => Iterate.materialize(
        nodesRaw.join(
          sd.select(sd.columns.head).toDF("node").distinct()
            .withColumn("is_seed", lit(true)),
          Seq("node"), "left")
          .join(outdeg, nodesRaw("node") === outdeg("src"), "left")
          .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"),
            col("outdeg")))
      case None => Iterate.materialize(
        nodesRaw
          .join(outdeg, nodesRaw("node") === outdeg("src"), "left")
          .select(col("node"), lit(true).as("is_seed"), col("outdeg")))
    }
    e0.unpersist() // e + nodes are materialized — drop the pre-repartition copy
    val Array(n, nSeeds) = nodes
      .agg(count(lit(1)),
        coalesce(sum(when(col("is_seed"), 1L).otherwise(0L)), lit(0L)))
      .head().toSeq.map(v => v.asInstanceOf[Long]).toArray
    if (seeds.isDefined) require(nSeeds > 0, "no seed appears in the graph")
    val base = seeds match {
      case Some(_) => (100L - dampNum) * n * scale / (100L * nSeeds)
      case None => (100L - dampNum) * scale / 100L
    }

    var ranks = Iterate.materialize(nodes.select(
      col("node"), col("is_seed"), col("outdeg"), lit(scale).as("r")))
    // every=1: each round references `ranks` twice (dangling agg +
    // inflow join), so two lazily-composed rounds carry 4 copies of the
    // previous round's plan — planning/codegen outweighs the one saved
    // materialization of a |nodes|-row frame (the AlsRank1/Hits finding)
    val cadence = new Iterate.Cadence(ranks, every = 1)
    for (i <- 1 to iters) {
      // dangling mass: a LAZY 1-row frame broadcast into the update plan
      // (not a .head() collect) — one Spark job per round instead of two;
      // the integer math (dangling div nSeeds) is unchanged
      val dang = ranks.filter(col("outdeg").isNull)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dangling"))
      val inflow = ranks.filter(col("outdeg").isNotNull)
        .select(col("node").as("src"), expr("r div outdeg").as("c"))
        .join(e, "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      val next =
        ranks.join(inflow, ranks("node") === inflow("dst"), "left")
          .crossJoin(broadcast(dang))
          .select(
            col("node"), col("is_seed"), col("outdeg"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) + expr(
              s"""($dampNum * (coalesce(inflow, 0L) +
                 |  (case when is_seed then (dangling div ${nSeeds}L) else 0L end)))
                 |  div 100""".stripMargin)
            ).as("r"))
      // materialize every round (see the cadence note above) — same
      // arithmetic, plan depth bounded at one round
      ranks = cadence.step(i, i == iters, next)
    }
    ranks.select(col("node"), col("r").as("r_fp"))
    } // withWidth
  }

  /** The same recurrence as unrolled DuckDB SQL over a `graft_edges`
    * CTE with columns (src, dst) — the oracle twin of [[run]]. With
    * `seeded = true` the caller must also define a `graft_seeds(node)`
    * CTE, and the teleport/dangling terms flow only to seeds present
    * in the graph (the TrustRank recurrence). Kept next to the Scala
    * so the two stay in sync.
    */
  def oracleSql(iters: Int = 10, dampNum: Int = 85,
      scale: Long = 1000000000L, seeded: Boolean = false): String = {
    val uniformBase = (100L - dampNum) * scale / 100L
    // AS MATERIALIZED: without it DuckDB inlines each CTE at every
    // reference site — the unrolled recurrence references `e` ~3x per
    // iteration, which re-plans the parquet scan tens of times and
    // exhausts file handles
    val head =
      s"""e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM graft_edges WHERE src <> dst
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS node FROM e
         |  UNION SELECT DISTINCT dst FROM e
         |), odeg AS MATERIALIZED (
         |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
         |), nn AS (SELECT count(*) AS n FROM nodes),""".stripMargin +
        (if (seeded)
          s"""
             |sd AS MATERIALIZED (
             |  SELECT DISTINCT node FROM graft_seeds JOIN nodes USING (node)
             |), ns AS (SELECT count(*) AS s FROM sd),""".stripMargin
        else "") +
        s"""
           |r0 AS (SELECT node, CAST($scale AS BIGINT) AS r FROM nodes)""".stripMargin
    // per-iteration rank update: uniform mode inlines the constant base
    // and gives every node the dangling share; seeded mode computes the
    // base from (n, |S|) and gates both terms on seed membership
    def update(i: Int): String =
      if (seeded)
        s"""  SELECT nodes.node,
           |    CAST((CASE WHEN sd.node IS NOT NULL
           |        THEN ((100 - $dampNum) * nn.n * $scale) // (100 * ns.s)
           |        ELSE 0 END)
           |      + ($dampNum * (COALESCE(f, 0)
           |          + (CASE WHEN sd.node IS NOT NULL THEN dm // ns.s
           |             ELSE 0 END))) // 100
           |      AS BIGINT) AS r
           |  FROM nodes CROSS JOIN nn CROSS JOIN ns CROSS JOIN dang$i
           |  LEFT JOIN inf$i ON nodes.node = inf$i.node
           |  LEFT JOIN sd ON nodes.node = sd.node""".stripMargin
      else
        s"""  SELECT nodes.node,
           |    CAST($uniformBase + ($dampNum * (COALESCE(f, 0) + dm // n)) // 100
           |      AS BIGINT) AS r
           |  FROM nodes CROSS JOIN nn CROSS JOIN dang$i
           |  LEFT JOIN inf$i ON nodes.node = inf$i.node""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""dang$i AS MATERIALIZED (
         |  SELECT COALESCE(CAST(sum(r) AS BIGINT), 0) AS dm
         |  FROM $p LEFT JOIN odeg ON $p.node = odeg.src
         |  WHERE odeg.src IS NULL
         |), inf$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(r // outdeg) AS BIGINT) AS f
         |  FROM $p JOIN odeg ON $p.node = odeg.src JOIN e ON e.src = $p.node
         |  GROUP BY e.dst
         |), r$i AS MATERIALIZED (
         |${update(i)})""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, r AS r_fp FROM r$iters"
  }
}
