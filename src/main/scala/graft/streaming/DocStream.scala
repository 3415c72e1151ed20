package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.TextPrep

/** Streaming document-ingest pipeline — the LLM-training-data twin of the
  * candle pipeline: a live document stream is content-hash deduplicated,
  * quality-gated, and chunked into training samples, all with the SAME
  * column expressions the batch oracle queries compile
  * ([[graft.ops.TextPrep]]) — batch and streaming cannot drift.
  *
  * Scale/state contract:
  *   - dedup state = one md5 per distinct document within the watermark
  *     horizon, evicted as event time advances (same mechanism as the
  *     candle dedup gate, state bounded by arrival rate x horizon);
  *   - the quality gate and chunker are stateless per-row expressions —
  *     no shuffle, nothing buffered;
  *   - end-to-end the only stateful operator is the dedup, so the
  *     pipeline runs in append mode with one state store.
  */
object DocStream {

  /** A streamed document: event time + routing metadata + payload. */
  final case class DocEvent(
      doc_id: Long, ingest_ts: Timestamp, lang: String, text: String)

  /** Content-hash dedup gate: first arrival of a text wins inside the
    * watermark horizon (re-deliveries and exact-duplicate documents are
    * dropped); re-arrivals later than the watermark age out of state.
    */
  def dedupGate(docs: Dataset[DocEvent], watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicates("content_hash")

  /** Quality gate: keep only documents whose verdict is `keep`, carrying
    * the verdict column for observability sinks.
    */
  def qualityGate(docs: DataFrame): DataFrame =
    docs
      .withColumn("verdict", TextPrep.verdict)
      .filter(col("verdict") === "keep")

  /** Full pipeline: dedup -> quality -> chunk (size/stride of the batch
    * q_chunk_docs operator). Output: one row per training chunk.
    */
  def pipeline(
      docs: Dataset[DocEvent],
      watermark: String = "1 hour",
      chunkSize: Int = 32,
      stride: Int = 24): DataFrame =
    TextPrep.chunkDocs(
      qualityGate(dedupGate(docs, watermark)), chunkSize, stride)
      .select("doc_id", "ingest_ts", "lang", "chunk_id", "chunk_text",
        "n_chunk_tokens")
}
