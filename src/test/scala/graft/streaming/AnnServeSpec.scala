package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{IvfPq, Pq}
import graft.streaming.AnnServe.QueryVec

/** The streaming ANN service must answer exactly as the batch residual
  * search: same index, same vectors, same top-k — across multiple
  * micro-batches.
  */
class AnnServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("residual-PQ service answers exactly as the batch residual search") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val corpus = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val served = IvfPq.buildServedResidual(corpus)
    try {
      val expected = IvfPq
        .searchResidual(served.idx, corpus, Pq.M, col("vec_id") < 6,
          nprobe = 4, topK = 5, shortlist = 32)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
        .toSet

      val queryVecs = corpus.filter(col("vec_id") < 6)
        .collect()
        .map(r => QueryVec(r.getLong(0), r.getSeq[Float](1).toArray))

      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val input = MemoryStream[QueryVec]
      val query = AnnServe.writerRes(input.toDS(), served,
        nprobe = 4, topK = 5, shortlist = 32) { (df, _) =>
        got ++= df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      }.start()
      try {
        input.addData(queryVecs.take(3).toIndexedSeq)
        query.processAllAvailable()
        val afterFirst = got.size
        assert(afterFirst > 0 && afterFirst < expected.size)
        input.addData(queryVecs.drop(3).toIndexedSeq)
        query.processAllAvailable()
        assert(got.toSet == expected)
      } finally query.stop()
    } finally served.close()
  }
}
