package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Earliest-arrival reachability over a TEMPORAL directed graph — each
  * edge carries a day it is usable on, and a path must respect time
  * (you can only leave a node on or after the day you arrived at it).
  * This is the temporal-network primitive static BFS/SSSP get wrong:
  * an edge sequence that exists but runs backwards in time is not a
  * path (Holme & Saramäki 2012's central point) — contact tracing,
  * information-flow, and supply-propagation queries all need it.
  *
  * Semantics: `arr(v)` = minimum day d such that a time-respecting
  * path of at most `rounds` edges reaches v arriving on day d, from
  * any seed (seeds arrive at day `seedDay`, default -1 = before all
  * data, so their first edge is unconstrained). Bellman-Ford-style
  * relaxation: round t relaxes `arr(v) = min(arr(v), min{day(u,v,day)
  * : day >= arr(u)})` — labels only decrease, and a smaller arrival at
  * u can unlock EARLIER edges out of u in later rounds, exactly like
  * cost relaxation in [[Sssp]]. After `rounds` rounds the labels are
  * exact for all time-respecting paths of <= `rounds` edges. Everything
  * is integer min over exact keys — partition-invariant, oracle-
  * replayable.
  *
  * Scale shape: the [[Sssp]] loop verbatim plus one filter — edges
  * min-collapsed per (src, dst, day)… not even that: parallel same-day
  * edges collapse via DISTINCT; the edge relation is checkpointed and
  * pinned on `src`, each round is one co-partitioned join (with the
  * day >= arr filter fused into it) and one groupBy min.
  */
object TemporalReach {

  /** (node, arr_day) for every node with a time-respecting path of at
    * most `rounds` edges from the seed set. `edges` must carry
    * (src, dst, day) with day int64; `seeds` a single-column frame.
    */
  def run(
      edges: DataFrame, seeds: DataFrame, rounds: Int,
      src: String = "src", dst: String = "dst", day: String = "day",
      seedDay: Long = -1L): DataFrame = {
    require(rounds >= 1)
    val raw = edges.select(col(src).as("src"), col(dst).as("dst"),
        col(day).cast("long").as("day"))
      .filter(col("src") =!= col("dst"))
    // local tail (LocalTail gate) over the RAW edge list (duplicate
    // (src, dst, day) rows are harmless to the min): time-respecting
    // relaxation rounds driver-local
    val local = LocalTail.collect("temporal_reach", raw)
    if (local.isDefined)
      return GraphLocal.temporalReach(local.get, seeds, rounds, seedDay)
    val e0 = Iterate.materialize(raw.distinct())
    Iterate.withWidth(edges.sparkSession, e0.count()) { p =>
      val e = Iterate.materialize(e0.repartition(p, col("src")))
      e0.unpersist()
      var arr = Iterate.materialize(
        seeds.toDF("node").distinct().withColumn("arr_day", lit(seedDay)))
      val cadence = new Iterate.Cadence(arr)
      for (t <- 1 to rounds) {
        val relaxed = arr.join(e,
            arr("node") === e("src") && e("day") >= arr("arr_day"))
          .select(col("dst").as("node"), col("day").as("arr_day"))
        val next = arr.select(col("node"), col("arr_day"))
          .union(relaxed)
          .groupBy(col("node")).agg(min(col("arr_day")).as("arr_day"))
        arr = cadence.step(t, t == rounds, next)
      }
      arr
    }
  }

  /** The identical relaxation as unrolled DuckDB CTEs over
    * `graft_edges` (src, dst, day) and `graft_reach_seeds` (node) —
    * the oracle twin of [[run]]; ends selecting (node, arr_day).
    */
  def oracleSql(rounds: Int, seedDay: Long = -1L): String = {
    val head =
      s"""te AS MATERIALIZED (
         |  SELECT DISTINCT src, dst, CAST(day AS BIGINT) AS day
         |  FROM graft_edges WHERE src <> dst
         |), ar0 AS (
         |  SELECT DISTINCT node, CAST($seedDay AS BIGINT) AS arr_day
         |  FROM graft_reach_seeds)""".stripMargin
    val steps = (1 to rounds).map { t =>
      s"""ar$t AS MATERIALIZED (
         |  SELECT node, CAST(min(arr_day) AS BIGINT) AS arr_day FROM (
         |    SELECT node, arr_day FROM ar${t - 1}
         |    UNION ALL
         |    SELECT te.dst AS node, te.day AS arr_day
         |    FROM ar${t - 1} p JOIN te
         |      ON te.src = p.node AND te.day >= p.arr_day
         |  ) GROUP BY node
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, arr_day FROM ar$rounds"
  }
}
