package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Boruvka rounds — THE distributed MST
  * algorithm (Kruskal and Prim are inherently serial: both thread one
  * global structure through every edge; Boruvka lets every component
  * pick its cheapest incident edge independently, so each round is two
  * grouped aggregations and the component count at least halves —
  * O(log n) rounds of linear work).
  *
  * Determinism/uniqueness: edges are ordered by the strict total order
  * (w, a, b), so the MSF is UNIQUE (the standard tie-break-to-
  * uniqueness argument) and both engines agree exactly. Per round each
  * component takes its (w, a, b)-min incident edge (struct-min — one
  * hash agg), the chosen edges merge components via the checkpointed
  * [[ConnectedComponents]] star contraction, survivors relabel and
  * intra-component edges drop. The oracle runs serial KRUSKAL instead
  * (a recursive CTE threading a dense label list, merging by
  * list_transform) — two independent algorithms for the same unique
  * forest, the SccSpec convention.
  *
  * Scale shape: per round one edges-sized relabel join + struct-min
  * groupBy + the CC contraction over the (component-count-sized)
  * selected-edge graph; the live edge set only shrinks. Round count is
  * FIXED — components at least halve per round, so `rounds` = 12 covers
  * 4096 initial components; under-convergence cannot pass the gate
  * (the oracle's Kruskal is exact), and `MstSpec` asserts the budget on
  * random fixtures.
  *
  * Small graphs: when the edge frame fits the [[LocalTail]] budget,
  * [[forest]] runs driver-local Kruskal instead of the Boruvka rounds.
  */
object Mst {

  /** Driver-local Kruskal over a collected canonical edge frame (a, b,
    * w) — the hybrid tail of [[forest]]. Same strict total order
    * (w, a, b), union-find acceptance: selects exactly the unique MSF
    * the Boruvka rounds select (and the serial-Kruskal oracle checks).
    */
  private def forestLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val rows = e.collect()
    val ord = new Ordering[org.apache.spark.sql.Row] {
      def compare(x: org.apache.spark.sql.Row,
          y: org.apache.spark.sql.Row): Int = {
        var c = LocalTail.cmpAny(x.get(2), y.get(2))
        if (c != 0) return c
        c = LocalTail.cmpAny(x.get(0), y.get(0))
        if (c != 0) return c
        LocalTail.cmpAny(x.get(1), y.get(1))
      }
    }
    val ids = new LocalTail.Interner
    val uf = new LocalTail.UnionFind
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.sorted(ord).foreach { r =>
      if (uf.union(ids(r.get(0)), ids(r.get(1)))) out.add(r)
    }
    spark.createDataFrame(out, e.schema)
  }

  /** MSF edges (a, b, w) of the weighted undirected edge frame
    * (a, b, w) — canonicalized a < b, min-w per pair.
    */
  def forest(edges: DataFrame, rounds: Int = 12): DataFrame = {
    require(rounds >= 1)
    var e = Iterate.materialize(
      edges.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"), col("w"))
        .groupBy(col("a"), col("b")).agg(min(col("w")).as("w")))
    val n = e.count()
    // Hybrid tail (same convention as ConnectedComponents' local
    // union-find): when the edge frame fits the LocalTail budget the
    // whole forest is latency-bound through Boruvka's nested
    // contraction rounds — finish it as driver-local Kruskal over the
    // SAME strict total order (w, a, b), which selects the identical
    // unique MSF. The distributed rounds still carry anything larger.
    // Unsupported node/weight types fall through to the Boruvka rounds.
    // The tail holds the edges plus up to one forest row per edge.
    if (e.schema.fields.take(3).forall(f => LocalTail.orderable(f.dataType)) &&
        LocalTail.fits(e.sparkSession, "mst", 2 * n * LocalTail.rowBytes(e.schema))) {
      val out = forestLocal(e)
      e.unpersist()
      return out
    }
    Iterate.withWidth(e.sparkSession, n) { _ =>
    var labels = Iterate.materialize(
      e.select(col("a").as("node")).union(e.select(col("b")))
        .distinct()
        .select(col("node"), col("node").as("comp")))
    var mst: DataFrame = null
    val eCad = new Iterate.Cadence(e)
    val lCad = new Iterate.Cadence(labels)
    var done = false
    for (i <- 1 to rounds if !done) {
      // relabel to current components; intra-component edges drop
      val le = e
        .join(labels.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(labels.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      // each component's (w, a, b)-min incident edge; ca/cb ride along
      val pick = struct(col("w"), col("a"), col("b"),
        col("ca"), col("cb")).as("e")
      val sel = le.select(col("ca").as("c"), pick)
        .unionAll(le.select(col("cb").as("c"), pick))
        .groupBy(col("c")).agg(min(col("e")).as("me"))
        .select(col("me.w").as("w"), col("me.a").as("a"),
          col("me.b").as("b"), col("me.ca").as("ca"), col("me.cb").as("cb"))
        .distinct() // both endpoints' components may pick the same edge
      val selM = Iterate.materialize(sel)
      // fixpoint probe on the already-checkpointed selection (one cheap
      // job — the ConnectedComponents.run signature convention): once no
      // component has an outgoing edge, later rounds are all no-ops
      if (selM.isEmpty) { done = true }
      else {
        val out = selM.select(col("a"), col("b"), col("w"))
        mst = if (mst == null) Iterate.materialize(out)
          else Iterate.materialize(mst.unionAll(out))
        // contract: CC over the selected component graph, then relabel
        val cc = ConnectedComponents.run(
          selM.select(col("ca").as("src"), col("cb").as("dst")))
        labels = lCad.step(i, i == rounds,
          labels.join(cc.select(col("id").as("comp"), col("rep")),
              Seq("comp"), "left")
            .select(col("node"), coalesce(col("rep"), col("comp")).as("comp")))
        e = eCad.step(i, i == rounds,
          le.select(col("a"), col("b"), col("w")))
      }
    }
    if (mst == null)
      e.select(col("a"), col("b"), col("w")).limit(0)
    else mst
    }
  }

  /** Serial Kruskal as a DuckDB recursive CTE over a `graft_w_edges`
    * (a, b, w) relation — the independent oracle twin of [[forest]];
    * ends selecting (a, b, w). The label state is a dense list indexed
    * by node rank, merged with list_transform per accepted edge.
    */
  def oracleSql: String =
    oracleCtes + "\nSELECT a, b, w FROM kr WHERE sel"

  /** The CTE chain only (ends defining `kr` (rn, labels, sel, a, b, w),
    * plus `mn` (node, i) and `mw` (a, b, w, rn, ia, ib)) — so downstream
    * oracles (single-link clustering) can read Kruskal's label state at
    * any edge-rank prefix in one statement.
    */
  def oracleCtes: String =
    """mn AS MATERIALIZED (
      |  SELECT node, row_number() OVER (ORDER BY node) AS i
      |  FROM (SELECT DISTINCT least(a, b) AS node FROM graft_w_edges
      |        WHERE a <> b
      |        UNION SELECT DISTINCT greatest(a, b) FROM graft_w_edges
      |        WHERE a <> b)
      |), mw AS MATERIALIZED (
      |  SELECT a, b, w,
      |    row_number() OVER (ORDER BY w, a, b) AS rn,
      |    ia.i AS ia, ib.i AS ib
      |  FROM (SELECT least(a, b) AS a, greatest(a, b) AS b, min(w) AS w
      |        FROM graft_w_edges WHERE a <> b GROUP BY 1, 2)
      |  JOIN mn ia ON ia.node = a JOIN mn ib ON ib.node = b
      |), kr(rn, labels, sel, a, b, w) AS (
      |  SELECT 0, (SELECT list(i ORDER BY i) FROM mn), false,
      |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |  UNION ALL
      |  SELECT e.rn,
      |    CASE WHEN kr.labels[e.ia] <> kr.labels[e.ib]
      |      THEN list_transform(kr.labels,
      |        x -> CASE WHEN x = greatest(kr.labels[e.ia], kr.labels[e.ib])
      |             THEN least(kr.labels[e.ia], kr.labels[e.ib])
      |             ELSE x END)
      |      ELSE kr.labels END,
      |    kr.labels[e.ia] <> kr.labels[e.ib], e.a, e.b, e.w
      |  FROM kr JOIN mw e ON e.rn = kr.rn + 1
      |)""".stripMargin
}
