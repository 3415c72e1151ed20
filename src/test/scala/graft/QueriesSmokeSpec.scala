package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LocalTail

/** Every registered query runs end-to-end at sf0.001 and returns a sane
  * result; queries that can legitimately be empty are allowlisted. Every
  * entry gated by LocalTail returns the same rows on both branches.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val mayBeEmpty =
    Set("q_anti_customers_no_orders", "q_minhash_pairs")

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // rows-only queries: no cross-engine oracle exists; each must carry a
  // dedicated unit spec instead (q_media_features -> MultimodalSpec,
  // q_approx_distinct -> ApproxDistinctSpec and q_quantiles_approx ->
  // ApproxQuantilesSpec: DuckDB's sketches differ, so the contract is an
  // error bound, not a hash match). The BPE pair graduated to hash-exact
  // oracles in round 3 (OracleBpe's unrolled merge rounds).
  private val rowsOnlyAllowed =
    Set("q_media_features", "q_approx_distinct", "q_quantiles_approx")

  test("every query has either an oracle or a documented reason") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep this list tiny and intentional
    assert(noOracle == rowsOnlyAllowed, s"queries without oracle: $noOracle")
  }

  /** (rows, order-independent content hash). */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  // Both branches of every gated entry agree. The fixture reaches the
  // local tails (which the DuckDB oracles check), so each entry whose
  // construction consulted the LocalTail gate is re-run forced
  // distributed, and its row count and content hash must equal the
  // default run's — carrying the oracle check over to the distributed
  // branch, the one that runs at 100 TB.
  test("every gated entry: forced-distributed == default (rows + content hash)") {
    val builds = RegistryBuilds.of(sfDir).filter(_.gated)
    assert(builds.exists(_.decisions.exists(_.branch == LocalTail.Local)),
      "the default run must reach local tails")
    info(s"gated entries: ${builds.map(_.name).mkString(", ")}")
    val mismatches = builds.map(_.name).flatMap { name =>
      val fn = SparkEntry.queries(name)
      val default = fingerprint(fn(spark, sfDir))
      val (dist, decisions) = LocalTail.scoped(Some(LocalTail.Distributed))(
        fingerprint(fn(spark, sfDir)))
      assert(decisions.forall(_.branch == LocalTail.Distributed), decisions)
      if (dist == default) None else Some(s"$name: $default vs $dist")
    }
    assert(mismatches.isEmpty, mismatches)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }
}
