package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.functions.VecOps

/** Quality contract of the IVF-PQ composition on a corpus where it earns
  * its keep (clustered): pruning to a few cells AND scanning them
  * compressed must still return the true neighbours after the exact
  * re-rank. Value correctness against the unrolled two-chain oracle is
  * gated by q_knn_ivfpq.
  */
class IvfPqSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  /** 8 well-separated clusters in 64 dims, deterministic noise. */
  private def clusteredCorpus(): DataFrame = {
    import spark.implicits._
    val rows = (0 until 400).map { i =>
      val c = i % 8
      val v = Array.tabulate(64) { j =>
        val base = if (j >= 8 * c && j < 8 * (c + 1)) 1.0f else 0.0f
        base + (((i * 31 + j * 17) % 101) - 50) / 1000.0f
      }
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def bruteTop5(emb: DataFrame): Map[Long, Set[Long]] = {
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    emb.select(col("vec_id").as("c_id"), col("q_emb").as("c_emb"))
      .crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", VecOps.cosine(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
  }

  test("residual search: exhaustive probe + full shortlist = exact brute force") {
    val raw = clusteredCorpus()
    val idx = IvfPq.buildResidual(raw)
    val nCells = idx.coarse.count().toInt
    // probing every cell with a corpus-wide shortlist leaves only the
    // exact re-rank: the residual chain must reproduce brute force
    val truth = bruteTop5(raw.select(col("vec_id"), col("embedding").as("q_emb")))
    val got = IvfPq.searchResidual(idx, raw, Pq.M, col("vec_id") < 10,
      nprobe = nCells, topK = 5, shortlist = 400)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    got shouldBe truth
  }

  test("residual search: narrow probe + narrow shortlist keeps recall@5 >= 0.9 on clusters") {
    val raw = clusteredCorpus()
    val truth = bruteTop5(raw.select(col("vec_id"), col("embedding").as("q_emb")))
    val idx = IvfPq.buildResidual(raw)
    val got = IvfPq.searchResidual(idx, raw, Pq.M, col("vec_id") < 10,
      nprobe = 2, topK = 5, shortlist = 32)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val qs = truth.keys.toSeq
    val recall = qs.map(q => (truth(q) & got.getOrElse(q, Set.empty)).size / 5.0)
      .sum / qs.size
    recall should be >= 0.9
  }

  test("clustered corpus: 2-of-8-cell probe over 16-byte codes keeps recall@5 >= 0.9") {
    val raw = clusteredCorpus()
    val norm = raw.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"))
    val truth = bruteTop5(raw.select(col("vec_id"), col("embedding").as("q_emb")))
    val idx = IvfPq.build(raw, norm)
    val got = IvfPq.search(idx, raw, Pq.M, col("vec_id") < 10,
      nprobe = 2, topK = 5, shortlist = 32)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val qs = truth.keys.toSeq
    val recall = qs.map(q => (truth(q) & got.getOrElse(q, Set.empty)).size / 5.0)
      .sum / qs.size
    recall should be >= 0.9
  }
}
