package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.queries.QueryDef

/** Physical-plan quality gates: these assert the *shape* that keeps each
  * operator viable at 100 TB — broadcast joins for small dims (no shuffle
  * of the fact table), filter/column pushdown into the parquet scan, and
  * no redundant shuffles in the window pipeline. A regression here means a
  * plan that still passes correctness but would fall over at scale.
  */
class PlanQualitySpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame) = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan
  }

  /** Every node of `plan`, through AQE wrappers, query stages and
    * subqueries.
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def collectAll[T](df: DataFrame)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    nodes(executed(df)).collect(pf)

  test("q5-shape join broadcasts every dimension (fact table never shuffled for the joins)") {
    val df = SparkEntry.queries("q5_local_supplier")(spark, sfDir)
    val bhj = collectAll(df) { case j: BroadcastHashJoinExec => j }
    bhj.size should be >= 4 // region, nation, supplier, customer/orders side
  }

  test("indicator pipeline is ONE shuffle: all window functions share the symbol partitioning") {
    val df = SparkEntry.queries("q_indicators")(spark, sfDir)
    val shuffles = collectAll(df) { case s: ShuffleExchangeExec => s }
    // one hash-partitioning by symbol feeds every window stage
    shuffles.size shouldBe 1
    val windows = collectAll(df) { case w: WindowExec => w }
    windows should not be empty
  }

  test("filtered aggregate pushes predicate and prunes columns at the scan") {
    val df = SparkEntry.queries("q_agg_avg")(spark, sfDir)
    val scans = collectAll(df) { case s: FileSourceScanExec => s }
    val ev = scans.find(_.metadata("Location").contains("events")).get
    ev.metadata("PushedFilters") should include("EqualTo(event_type,click)")
    // only the 3 referenced columns are read from the 5+-column table
    ev.metadata("ReadSchema") should not include "user_id"
  }

  test("top-1-per-key avoids a global sort (TakeOrdered or window, never Sort+Limit on all rows)") {
    val df = SparkEntry.queries("q_top_orders")(spark, sfDir)
    val plan = executed(df).toString
    withClue(plan) {
      (plan.contains("TakeOrderedAndProject") || plan.contains("Window")) shouldBe true
    }
  }

  test("ANN probe set is broadcast: candidate side streams, no cross-shuffle") {
    val df = SparkEntry.queries("q_knn_lsh")(spark, sfDir)
    val bhj = collectAll(df) { case j: BroadcastHashJoinExec => j }
    bhj should not be empty
  }

  test("simhash near-dup pairs avoid the O(n^2) nested-loop join (band LSH instead)") {
    val df = SparkEntry.queries("q_simhash_pairs")(spark, sfDir)
    val plan = executed(df).toString
    withClue(plan) {
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "CartesianProduct"
    }
  }

  /** Every registry entry's executed plan under the measured branch,
    * plus, for the entries whose construction consulted the LocalTail
    * gate, under forced-distributed — so the two plan-shape gates below
    * see the distributed plan (the one that runs at 100 TB) as well as
    * the local tail the fixture reaches. Built once for both gates.
    */
  private lazy val plans: Seq[(String, Seq[SparkPlan])] =
    RegistryBuilds.of(sfDir).map { b =>
      val forced =
        if (!b.gated) Nil
        else Seq(graft.ops.LocalTail.scoped(
          Some(graft.ops.LocalTail.Distributed))(
          SparkEntry.queries(b.name)(spark, sfDir).queryExecution.executedPlan)._1)
      b.name -> (b.plan +: forced)
    }

  /** Entries that plan `shape` on some branch, and the stale intents:
    * annotated entries that plan it on no branch. Intent lives ON the
    * QueryDef (with a justification string), so a new query cannot
    * silently skip a gate by editing a spec-local whitelist.
    */
  private def planned(annotated: QueryDef => Boolean)(shape: SparkPlan => Boolean)
      : (Seq[String], Seq[String]) = {
    val intended = SparkEntry.allQueries.filter(annotated).map(_.name).toSet
    val shaped = plans.map { case (name, ps) => name -> ps.exists(p => nodes(p).exists(shape)) }
    (shaped.collect { case (name, true) if !intended(name) => name },
      shaped.collect { case (name, false) if intended(name) => name })
  }

  private lazy val nestedLoop = planned(_.planIntent.broadcastNestedLoop.isDefined) {
    case _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }

  test("NO query plans a cartesian product or accidental nested-loop join") {
    // broadcast cross joins against a tiny probe/centroid set (knn/ivf/
    // semdedup: k ~ sqrt(n) centroid rows) — or the single-row corpus
    // stats frame (tfidf's doc count, domain_mix's min-domain count) —
    // are the intended shape for these; everything else must be an
    // equi join. No intent admits a cartesian product. Checked on both
    // branches of gated entries.
    val (cartesian, _) = planned(_ => false) {
      case _: CartesianProductExec => true
      case _ => false
    }
    cartesian shouldBe empty
    nestedLoop._1 shouldBe empty
  }

  test("declared plan intent is not stale: every intent-annotated query still plans that shape") {
    // the inverse gate — an intent annotation on a query whose plan no
    // longer contains the declared shape is dead documentation and must
    // be removed (keeps the QueryDef metadata honest over time). A gated
    // entry's intent holds if either branch plans the shape (q_diameter:
    // only its distributed double sweep cross-joins the 1-row seed).
    nestedLoop._2 shouldBe empty
  }

  test("per-key min/max normalization uses grouped agg + broadcast, never a whole-partition window") {
    // an unbounded-unordered `min/max OVER (PARTITION BY key)` buffers the
    // whole partition per task and caps parallelism at key cardinality —
    // these three must stay on the two-pass grouped-stats + broadcast plan
    for (name <- Seq("q_histogram", "q_minmax_norm", "q_minmax_denorm")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val windows = collectAll(df) { case w: WindowExec => w }
      withClue(s"$name plans a WindowExec:") { windows shouldBe empty }
      val bhj = collectAll(df) { case j: BroadcastHashJoinExec => j }
      withClue(s"$name lost its broadcast stats join:") { bhj should not be empty }
    }
  }

  test("documents-table operators prune to the referenced columns at the scan") {
    // chunking references only (doc_id, text): the 100 TB documents table
    // has wide metadata; reading it all for a 2-column operator is wrong
    val df = SparkEntry.queries("q_chunk_docs")(spark, sfDir)
    val scans = collectAll(df) { case s: FileSourceScanExec => s }
    val doc = scans.find(_.metadata("Location").contains("documents")).get
    doc.metadata("ReadSchema") should not include "lang"
    doc.metadata("ReadSchema") should include("text")
  }

  test("whole-stage codegen covers the indicator expressions") {
    val df = SparkEntry.queries("q_indicators")(spark, sfDir)
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("codegen id")
  }

  test("rank-limited operators push the limit into WindowGroupLimit") {
    // without the pushdown, the rank filter buffers every partition's
    // full candidate set through WindowExec before discarding it
    val plan = executed(
      SparkEntry.queries("q_sample_per_group")(spark, sfDir)).toString
    withClue(plan) { plan should include("WindowGroupLimit") }
  }

  test("global top-k ranks via TakeOrderedAndProject, not a whole-corpus window") {
    // a rank filter over an UNPARTITIONED window moves every candidate
    // into one task; pattern match must take per-partition top-10s and
    // only rank the 10 survivors
    for (name <- Seq("q_pattern_match", "q_pattern_match_znorm",
        "q_pattern_match_dtw")) {
      val plan = executed(SparkEntry.queries(name)(spark, sfDir)).toString
      withClue(s"$name:\n$plan") { plan should include("TakeOrderedAndProject") }
    }
  }

  test("heavy-hitter recount joins the candidate set by broadcast") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sfDir)
    val bhj = collectAll(df) { case j: BroadcastHashJoinExec => j }
    bhj should not be empty
  }

  test("PQ ADC search joins the broadcast lookup table (codes side streams)") {
    // the ADC contract: the corpus-sized codes frame is scanned once and
    // joined to the tiny (queries x m x k) dot-product table by broadcast;
    // a sort-merge join here would shuffle the whole compressed index
    val df = SparkEntry.queries("q_knn_pq")(spark, sfDir)
    val bhj = collectAll(df) { case j: BroadcastHashJoinExec => j }
    bhj should not be empty
    val plan = executed(df).toString
    withClue(plan) { plan should not include "SortMergeJoin" }
  }

  test("NO query runs an unpartitioned window over unbounded input") {
    // an empty partitionSpec moves the whole input into one task; the
    // only acceptable shapes are a window over an already-limited tiny
    // frame (pattern match ranks the 10 TakeOrdered survivors) or over a
    // time-bounded series (q_pair_corr rolls over the JOINT HOURLY series
    // of one symbol pair — cardinality grows with wall-clock hours, not
    // with data volume: ~9k rows/year at any scale factor). The same
    // pass fails a stale `intendsGlobalWindow`: one on a query that plans
    // such a window on neither branch.
    val (offenders, stale) = planned(_.planIntent.globalWindow.isDefined) {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }
    offenders shouldBe empty
    stale shouldBe empty
  }
}
