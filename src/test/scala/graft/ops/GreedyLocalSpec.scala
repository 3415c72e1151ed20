package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The r10 greedy local tails (GreedyLocal) must be INVISIBLE: forcing
  * the distributed rounds (LocalTail forced distributed) and the
  * local path (default budget) on the same random inputs yields
  * identical picks for Mmr.rerank and the max-coverage greedy —
  * including tie-heavy score landscapes and candidates with no sim
  * edge to any picked item (the inner-join exclusion).
  */
class GreedyLocalSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("MMR local tail == distributed greedy rounds") {
    val r = new scala.util.Random(41)
    // 6 queries x 15 candidates, coarse scores to force ties; sims only
    // for ~60% of pairs so the no-edge exclusion is exercised
    val cand = (for (q <- 0 until 6; c <- 0 until 15)
      yield (q.toLong, c.toLong + 100, (r.nextInt(5) * 1000).toLong))
      .toDF("q_id", "c_id", "rel_fp")
    val sims = (for {
      q <- 0 until 6; a <- 0 until 15; b <- 0 until 15
      if a != b && r.nextInt(10) < 6
    } yield (q.toLong, a.toLong + 100, b.toLong + 100,
      (r.nextInt(4) * 500).toLong))
      .toDF("q_id", "a", "b", "s_fp")
    val (local, dist) = Branches.both {
      Mmr.rerank(cand, sims, k = 5)
        .as[(Long, Long, Int)].collect().toSet
    }
    local shouldBe dist
  }

  test("max-coverage local tail == distributed greedy rounds") {
    val r = new scala.util.Random(43)
    val toks = (for (d <- 0 until 40; _ <- 0 until 12)
      yield (d.toLong, s"w${r.nextInt(60)} w${r.nextInt(60)}"))
      .distinct
      .toDF("doc_id", "bigram")
    val k = 6
    val local = GreedyLocal.maxCoverage(toks, toks.collect(), k)
      .as[(Int, Long, Long)].collect().toSet
    // distributed reference: the q_max_coverage loop shape, inlined
    val dist = {
      var covered = toks.select(col("bigram")).limit(0)
      val picks = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      for (i <- 1 to k) {
        val gains = toks
          .join(broadcast(covered), Seq("bigram"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        val w = Iterate.materialize(
          gains.orderBy(col("gain").desc, col("doc_id")).limit(1))
        picks += w.select(lit(i).as("pick"), col("doc_id"), col("gain"))
        covered = Iterate.materialize(
          covered.union(
            toks.join(broadcast(w.select(col("doc_id"))), "doc_id")
              .select(col("bigram"))))
      }
      picks.reduce(_ unionAll _).as[(Int, Long, Long)].collect().toSet
    }
    local shouldBe dist
  }
}
