package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.ops.{Classify, IvfIndex, IvfPq, Pq}

/** The row-local ANN assignment (AnnAssign expressions over the
  * collected codebooks) must be INVISIBLE next to the r9 broadcast-join
  * + min(struct) shape, kept here as the reference: identical cells and
  * codes on random fixtures — including tie-heavy ones (duplicated
  * vectors force exact (dist2, cent_id) / (-cs, cent_id) tie-breaks) —
  * for materialized and lazy codebooks alike, with no exchange or join
  * in the assignment plan.
  */
class AnnAssignSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Random float corpus with duplicates (ties) and a fixed seed. */
  private def corpus(n: Int, d: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val base = (0 until n / 2).map(_ => Array.fill(d)(r.nextFloat()))
    (0 until n).map { i =>
      (i.toLong, base(i % base.length).toSeq) // every vector appears twice
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
  }

  /** The r9 distributed assignment, inlined (broadcast join + map-side
    * min(struct)) — the reference the fused path must match.
    */
  private def assignJoin(emb: DataFrame, cb: DataFrame): DataFrame = {
    def withNorm(df: DataFrame, vec: String, as: String) =
      df.withColumn(as, sqrt(VecOps.vecDot(col(vec), col(vec))))
    withNorm(emb, "embedding", "e_nrm")
      .crossJoin(broadcast(withNorm(cb, "cent_emb", "c_nrm")))
      .withColumn("cs",
        VecOps.vecDot(col("embedding"), col("cent_emb"))
          / (col("e_nrm") * col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cs") * lit(-1.0), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("cent_id"))
  }

  private def assignSubJoin(sub: DataFrame, cb: DataFrame): DataFrame =
    sub
      .withColumn("sub_c2", VecOps.vecDot(col("sub_emb"), col("sub_emb")))
      .join(broadcast(cb.withColumn("cent_c2",
        VecOps.vecDot(col("cent_emb"), col("cent_emb")))), "sub_id")
      .withColumn("dist2",
        col("sub_c2") - lit(2.0) * VecOps.vecDot(col("sub_emb"), col("cent_emb"))
          + col("cent_c2"))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(struct(col("dist2"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("sub_id"), col("m.cent_id").as("cent_id"))

  test("fused coarse assignment == broadcast-join argmax (with ties)") {
    val emb = corpus(120, 16, seed = 3)
    val cb = IvfIndex.materialize(IvfIndex.codebook(emb, k = 7))
    val fused = IvfIndex.assign(emb, cb)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().toMap
    val joined = assignJoin(emb, cb)
      .as[(Long, Long)].collect().toMap
    fused shouldBe joined
  }

  test("fused PQ sub-assignment == broadcast-join argmin (with ties)") {
    val m = 4
    val emb = corpus(100, 16, seed = 5)
      .select(col("vec_id"), Pq.normalized(col("embedding")).as("embedding"))
    val cb = Pq.codebooks(emb, m, k = 6)
    val sub = Pq.subVectors(emb, "vec_id", "embedding", m)
    val fused = Pq.assignSub(sub, cb)
      .select("vec_id", "sub_id", "cent_id")
      .as[(Long, Int, Long)].collect().toSet
    val joined = assignSubJoin(sub, cb)
      .as[(Long, Int, Long)].collect().toSet
    fused shouldBe joined
  }

  /** (vec_id, cent_id, sub_id, code) rows, sub_id as int. */
  private def cellCodeSet(df: DataFrame): Set[(Long, Long, Int, Long)] =
    df.select(col("vec_id"), col("cent_id"), col("sub_id").cast("int"),
      col("code"))
      .as[(Long, Long, Int, Long)].collect().toSet

  /** Reference PQ codes (vec_id, sub_id, code) of `emb` over `cb`. */
  private def codesJoin(emb: DataFrame, cb: DataFrame, m: Int): DataFrame =
    assignSubJoin(Pq.subVectors(emb, "vec_id", "embedding", m), cb)
      .select(col("vec_id"), col("sub_id"), col("cent_id").as("code"))

  test("fused IvfPq.build cellCodes == join-shaped cells x codes") {
    val raw = corpus(90, 16, seed = 8)
    val norm = raw.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"))
    val idx = IvfPq.build(raw, norm, m = 4)
    val joined = assignJoin(raw, idx.coarse)
      .join(codesJoin(norm, idx.pqCb, m = 4), "vec_id")
    cellCodeSet(idx.cellCodes) shouldBe cellCodeSet(joined)
  }

  test("fused residual build == r9 join-shaped residual chain") {
    val raw = corpus(80, 16, seed = 13)
    val norm = raw.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"))
    val idx = IvfPq.buildResidual(raw, m = 4)
    // the r9 shape derived residuals via norm >< cells on vec_id; the
    // fused path re-derives the cell row-locally off the raw scan —
    // codes must agree end to end
    val cells = assignJoin(raw, idx.coarse)
    val resid = norm.join(cells, "vec_id")
      .join(broadcast(idx.cmeans), "cent_id")
      .select(col("vec_id"),
        expr("zip_with(embedding, cent_mean, (a, b) -> a - b)")
          .as("embedding"))
    val joined = codesJoin(resid, idx.pqCb, m = 4).join(cells, "vec_id")
    cellCodeSet(idx.cellCodes) shouldBe cellCodeSet(joined)
  }

  /** A coarse codebook that is NOT a local relation: per-label centroids
    * straight out of their aggregate.
    */
  private def lazyCoarse(emb: DataFrame): DataFrame =
    Classify.centroids(
      emb.withColumn("label", (col("vec_id") % 5).cast("int")))

  /** A PQ codebook that is NOT a local relation: per-(sub, vec_id % 5)
    * means of the sub-vectors, straight out of their aggregate.
    */
  private def lazySub(sub: DataFrame): DataFrame =
    Classify.centroids(sub.select(
      (col("sub_id") * 5 + col("vec_id") % 5).cast("int").as("label"),
      col("sub_emb").as("embedding")))
      .select(floor(col("cent_id") / 5).cast("int").as("sub_id"),
        (col("cent_id") % 5).as("cent_id"), col("cent_emb"))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("a lazy codebook assigns exactly like the broadcast-join reference") {
    val emb = corpus(100, 16, seed = 21)
    val cb = lazyCoarse(emb)
    isLocal(cb) shouldBe false
    IvfIndex.assign(emb, cb)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().toMap shouldBe
      assignJoin(emb, cb).as[(Long, Long)].collect().toMap

    val m = 4
    val norm = emb.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"))
    val sub = Pq.subVectors(norm, "vec_id", "embedding", m)
    val scb = lazySub(sub)
    isLocal(scb) shouldBe false
    Pq.assignSub(sub, scb)
      .select("vec_id", "sub_id", "cent_id")
      .as[(Long, Int, Long)].collect().toSet shouldBe
      assignSubJoin(sub, scb).as[(Long, Int, Long)].collect().toSet
  }

  test("an empty corpus assigns, encodes and builds to zero rows") {
    val emb = corpus(10, 16, seed = 2).limit(0)
    val norm = emb.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"))
    val cb = IvfIndex.codebook(emb, k = 4)
    IvfIndex.assign(emb, cb).count() shouldBe 0L
    val pqCb = Pq.codebooks(norm, 4, k = 4)
    Pq.encode(norm, pqCb, 4).count() shouldBe 0L
    IvfPq.build(emb, norm, m = 4).cellCodes.count() shouldBe 0L
    IvfPq.buildResidual(emb, m = 4).cellCodes.count() shouldBe 0L
  }

  /** Every node of the executed plan, through AQE wrappers. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // materialize so AQE finalizes the plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan)
  }

  test("with a lazy codebook, assign and encode plan no exchange and no join") {
    val emb = corpus(60, 16, seed = 34)
    val norm = emb.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"))
    val scb = lazySub(Pq.subVectors(norm, "vec_id", "embedding", 4))
    for (df <- Seq(IvfIndex.assign(emb, lazyCoarse(emb)),
        Pq.encode(norm, scb, 4))) {
      val bad = executedNodes(df).filter {
        case _: Exchange | _: BaseJoinExec => true
        case _ => false
      }
      withClue(df.queryExecution.executedPlan.toString) {
        bad shouldBe empty
      }
    }
  }
}
