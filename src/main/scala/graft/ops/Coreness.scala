package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full coreness decomposition (every node's core NUMBER, not one
  * k-core's membership) by the distributed h-index iteration of
  * Montresor/De Pellegrini/Miorandi: start at the degree and repeatedly
  * set c(v) = H(neighbors' c) — the largest h with at least h neighbors
  * at c ≥ h. The sequence is non-increasing, bounded below by the true
  * coreness, and its fixpoint IS the coreness (their Theorem 1) — the
  * whole k-core hierarchy from one iteration instead of one [[KCore]]
  * peel per k.
  *
  * Pure integer set algebra — exact on any engine; rounds are FIXED
  * (the KCore convention) so the oracle unrolls identically. The bound
  * is graph-dependent (longest "influence chain"); 28 covers the gate
  * graphs with margin (measured 21 at sf0.001, 10 at sf0.01) and
  * `CorenessSpec` asserts fixture fixpoints inside it; a wrong budget
  * cannot pass silently — the oracle runs the same rounds, but the
  * serial-peeling spec reference is budget-free.
  *
  * Scale shape: per round one adjacency join (und edge list × current
  * estimates) + a per-node rank window + one groupBy max — all keyed by
  * node, the h-index window partitions by node (never global). State
  * is one int per node.
  */
object Coreness {

  /** (node, coreness) for every endpoint of the undirected (a, b)
    * edge frame.
    */
  def run(edges: DataFrame, rounds: Int = 28): DataFrame = {
    require(rounds >= 1)
    val e0 = Iterate.materialize(
      edges.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct())
    Iterate.withWidth(e0.sparkSession, e0.count()) { _ =>
      val und = Iterate.materialize(
        e0.select(col("a").as("n"), col("b").as("m"))
          .unionAll(e0.select(col("b").as("n"), col("a").as("m"))))
      var c = Iterate.materialize(
        und.groupBy(col("n")).agg(count(lit(1)).as("c")))
      // early exit at the fixpoint: the estimate is elementwise
      // NON-INCREASING (Montresor Thm 1), so an unchanged Σc is an
      // unchanged vector and later rounds are no-ops; every round
      // materializes so the probe reads checkpointed data
      def sig(df: DataFrame): Long =
        df.agg(sum(col("c"))).head().getLong(0)
      var prev = sig(c)
      var done = false
      val cad = new Iterate.Cadence(c, every = 1)
      val w = Window.partitionBy(col("n")).orderBy(col("cm").desc)
      for (i <- 1 to rounds if !done) {
        val next = und
          .join(c.select(col("n").as("m"), col("c").as("cm")), "m")
          .withColumn("rk", row_number().over(w))
          .groupBy(col("n"))
          .agg(max(least(col("rk"), col("cm"))).as("c"))
        c = cad.step(i, i == rounds, next)
        val s = sig(c)
        if (s == prev) done = true
        prev = s
      }
      c.select(col("n").as("node"), col("c").as("coreness"))
    }
  }

  /** The same rounds unrolled as DuckDB SQL over a `graft_und_edges`
    * (a, b) CTE — ends selecting (node, coreness).
    */
  def oracleSql(rounds: Int = 28): String = {
    val sb = new StringBuilder
    sb.append(
      """cu AS MATERIALIZED (
        |  SELECT a AS n, b AS m FROM (
        |    SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |    FROM graft_und_edges WHERE a <> b)
        |  UNION ALL
        |  SELECT b, a FROM (
        |    SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |    FROM graft_und_edges WHERE a <> b)
        |), cr0 AS MATERIALIZED (
        |  SELECT n, CAST(count(*) AS BIGINT) AS c FROM cu GROUP BY n
        |)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |cr$i AS MATERIALIZED (
         |  SELECT n, max(least(rk, cm)) AS c FROM (
         |    SELECT cu.n, cp.c AS cm,
         |      row_number() OVER (PARTITION BY cu.n ORDER BY cp.c DESC) AS rk
         |    FROM cu JOIN cr${i - 1} cp ON cp.n = cu.m)
         |  GROUP BY n
         |)""".stripMargin)
    sb.append(s"\nSELECT n AS node, c AS coreness FROM cr$rounds")
    sb.toString
  }
}
