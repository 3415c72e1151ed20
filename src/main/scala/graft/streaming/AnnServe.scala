package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.IvfPq

/** Streaming ANN lookup service: a stream of query vectors answered per
  * micro-batch against a pre-built static residual IVF-PQ index
  * ([[IvfPq.buildServedResidual]]) — the serving half of the
  * similarity-search story (the batch half is `q_knn_ivfpq_res`).
  *
  * Shape: `foreachBatch` + the BATCH search
  * ([[IvfPq.searchResidualWith]]), because a top-k per query needs
  * ranking windows and a corpus join, which append-mode streaming
  * operators cannot express directly — and because each query is fully
  * answerable within its own micro-batch, so no cross-batch state is
  * needed at all. The index side is where the 100 TB scale lives: the
  * codebooks are collected local relations (at build they ship in the
  * stage's task binary; per batch the probe and ADC steps broadcast
  * them) and the cell-keyed codes are computed ONCE and cached, so each
  * query batch costs ADC scoring of the probed cells' codes plus a
  * shortlist re-rank.
  *
  * Results are exactly the batch search's results for the same vectors —
  * spec-pinned (AnnServeSpec), not just claimed.
  */
object AnnServe {

  /** A streamed query vector. */
  final case class QueryVec(q_id: Long, q_emb: Array[Float])

  /** Attach the per-batch answerer to a query stream; `onResult` receives
    * each batch's (q_id, c_id, score_pq, cosine, rank) frame (write it to
    * your sink — memory table, Kafka frame, JDBC — batch semantics
    * apply). Per batch the probed cells' RESIDUAL codes are ADC-scored and
    * corrected by the exact per-(query, probed-cell) q·c scalar (both
    * broadcast, both bounded by the query batch), so shortlist quality
    * survives clustered corpora.
    */
  def writerRes(
      queries: Dataset[QueryVec],
      served: IvfPq.ServedRes,
      nprobe: Int,
      topK: Int,
      shortlist: Int)(onResult: (DataFrame, Long) => Unit): DataStreamWriter[QueryVec] =
    queries.writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[QueryVec], batchId: Long) =>
        onResult(served.query(batch.toDF(), nprobe, topK, shortlist), batchId)
      }
}
