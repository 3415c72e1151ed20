package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg 1999) in exact integer fixed
  * point — the companion centrality to [[PageRank]]: authorities are
  * pages good links point TO, hubs are pages that point AT good
  * authorities (in a crawl-curation pipeline: link directories vs
  * destination content — a different quality axis than PageRank's
  * stationary mass).
  *
  * Numeric contract: the conventional L2 normalization is replaced by
  * max-normalization — after each half-step the column is rescaled to
  * `x * scale div max(x)` in pure integer arithmetic. Max-normalized
  * power iteration converges to the same dominant eigenvectors (scaling
  * never changes direction), and every step is exact 64-bit integer
  * math, so results are bit-identical at any parallelism and engine
  * (the DuckDB oracle unrolls the same recurrence). Headroom: the
  * pre-normalization value is bounded by maxdeg * scale and the rescale
  * multiplies by `scale` before dividing, so `maxdeg * scale^2 < 2^63`
  * — the default scale 1e6 admits max degree ~9e6; lower `scale` for
  * denser stars.
  *
  * Scale shape: per half-step, ONE equi join (scores x edges on the
  * endpoint key) + one groupBy sum; the normalizing max is a lazy 1-row
  * aggregate broadcast into the rescale plan (no driver collect, one
  * job per half-step). Rounds materialize through checkpoints to keep
  * the plan flat ([[ConnectedComponents]] pattern).
  */
object Hits {

  /** Hub/authority scores for every node of the directed edge frame
    * (self-loops dropped, duplicates collapsed). Output: (node, hub_fp,
    * auth_fp), integers in [0, scale] with max = scale in each column.
    * Max-normalized power iteration converges geometrically; 5 rounds
    * is ample for a ranking prior (raise `iters` when eigenvector
    * precision itself is the product).
    */
  def run(
      edges: DataFrame, src: String = "src", dst: String = "dst",
      iters: Int = 5, scale: Long = 1000000L,
      edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && scale >= 1)
    // two pinned copies of the edge relation — by src for the authority
    // half-step, by dst for the hub half-step — so the big frame is
    // never re-shuffled inside the loop (the PageRank pattern; score
    // frames come out of each groupBy already partitioned on the next
    // join key). Explicit count so AQE cannot de-co-partition a side;
    // width from Iterate.withWidth (session width at scale, fewer tasks
    // on toy graphs where per-round scheduling overhead dominates).
    // edgesDistinct (r10): caller-asserted distinctness skips the
    // corpus-sized distinct shuffle (RankQueries.tradeEdgesDistinct)
    val sel = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e0 = Iterate.materialize(if (edgesDistinct) sel else sel.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
    val eBySrc = Iterate.materialize(e0.repartition(p, col("src")))
    val eByDst = Iterate.materialize(e0.repartition(p, col("dst")))
    val nodes = Iterate.materialize(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node")))
        .distinct()
        .repartition(p, col("node")))
    // eBySrc / eByDst / nodes are materialized EAGERLY above, so their
    // lineage no longer reaches e0 — drop its corpus-sized checkpoint
    // now instead of pinning a third edge copy for the whole iteration
    e0.unpersist()

    def normalized(full: DataFrame): DataFrame = {
      // lazy 1-row max frame, broadcast into the rescale — no collect
      val mx = full.agg(greatest(max(col("v")), lit(1L)).as("m"))
      full.crossJoin(broadcast(mx))
        .select(col("node"), expr(s"(v * ${scale}L) div m").as("v"))
    }
    // zero-score nodes are DROPPED between rounds: they contribute
    // nothing to either the sums or the max, so the recurrence is
    // unchanged (the oracle keeps them with COALESCE 0 — same numbers);
    // the full node set is restored once, at the end.
    //
    // The grouped sum is materialized BEFORE normalization: `normalized`
    // references its input twice (max agg + rescale join), so letting
    // half-steps compose lazily doubles the plan tree per step — 2^k
    // copies of the deepest subtree after k composed steps. The shuffles
    // dedup via ReusedExchange at runtime but planning + codegen of the
    // exponential tree dominated the measured cost (the AlsRank1 finding:
    // 8.8 s for one composed 4-step job vs ~0.6 s per pinned step at
    // sf0.1). The checkpoint is one score frame (|nodes| rows), values
    // bit-identical either way.
    def halfStep(
        scores: DataFrame, inKey: String, outKey: String
    ): (DataFrame, DataFrame) = {
      val e = if (inKey == "src") eBySrc else eByDst
      val raw = Iterate.materialize(
        e.join(scores, e(inKey) === scores("node"))
          .groupBy(col(outKey).as("node")).agg(sum(col("v")).as("v")))
      (raw, normalized(raw))
    }

    // the live hub/auth frames are lazy `normalized` views over the
    // newest raw checkpoint of each side — Iterate.RawQueue keeps the
    // two most recent, releasing older ones as their step completes
    val live = new Iterate.RawQueue(keep = 2)
    def track(raw: DataFrame): Unit = live.track(raw)

    val hub0 = Iterate.materialize(nodes.select(col("node"), lit(scale).as("v")))
    track(hub0)
    var hub: DataFrame = hub0
    var auth: DataFrame = hub0
    for (_ <- 1 to iters) {
      val (aRaw, aNorm) = halfStep(hub, "src", "dst") // a(v) = sum h(u), u->v
      track(aRaw)
      auth = aNorm
      val (hRaw, hNorm) = halfStep(auth, "dst", "src")
      track(hRaw)
      hub = hNorm
    }
    nodes
      .join(hub.select(col("node"), col("v").as("hub_fp")), Seq("node"), "left")
      .join(auth.select(col("node"), col("v").as("auth_fp")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
    } // withWidth
  }

  /** The same recurrence unrolled as DuckDB SQL over a `graft_edges`
    * (src, dst) CTE — the oracle twin of [[run]]; kept beside the Scala
    * so the two stay in sync. Ends selecting (node, hub_fp, auth_fp).
    */
  def oracleSql(iters: Int = 5, scale: Long = 1000000L): String = {
    val sb = new StringBuilder
    sb.append(
      s"""e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM graft_edges WHERE src <> dst
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS node FROM e
         |  UNION SELECT DISTINCT dst FROM e
         |), h0 AS (SELECT node, ${scale} AS v FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      // authority half-step from h(i-1), then hub half-step from a(i)
      sb.append(
        s""",
           |a${i}r AS (
           |  SELECT n.node, COALESCE(s.sv, 0) AS v
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, CAST(SUM(h.v) AS BIGINT) AS sv
           |    FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst) s
           |  USING (node)
           |), a${i}m AS (SELECT greatest(max(v), 1) AS m FROM a${i}r),
           |a$i AS MATERIALIZED (
           |  SELECT node, (v * ${scale}) // m AS v FROM a${i}r CROSS JOIN a${i}m
           |),
           |h${i}r AS (
           |  SELECT n.node, COALESCE(s.sv, 0) AS v
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.src AS node, CAST(SUM(a.v) AS BIGINT) AS sv
           |    FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src) s
           |  USING (node)
           |), h${i}m AS (SELECT greatest(max(v), 1) AS m FROM h${i}r),
           |h$i AS MATERIALIZED (
           |  SELECT node, (v * ${scale}) // m AS v FROM h${i}r CROSS JOIN h${i}m
           |)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT h.node, h.v AS hub_fp, a.v AS auth_fp
         |FROM h$iters h JOIN a$iters a ON a.node = h.node""".stripMargin)
    sb.toString
  }
}
