package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming twin of `q_cross_dedup` — the incremental-ingest near-dup
  * gate as a STREAM-STATIC join: each arriving document's 4 row-local
  * MinHash bands ([[graft.ops.NearDup.withRowMinhashBands]], same values
  * as the batch operator) are looked up in a STATIC corpus band index,
  * and the doc is flagged with its min-id corpus match (null = new).
  *
  * The gate carries ZERO streaming state: the corpus
  * side is a static frame, so the whole gate is 4 append-mode
  * stream-static hash joins — no watermark, no state store, restart
  * cost nil. At 100 TB the index is a persisted table bucketed on
  * (band_id, band_hash); each micro-batch then probes only its buckets.
  * The static side is pre-aggregated to one row per band value (min
  * corpus id), so the join can never fan a stream row out.
  *
  * One semantic delta vs the batch query is deliberate: the batch
  * q_cross_dedup recomputes bands for BOTH sides in one job, while the
  * gate trusts a prebuilt index — the deployment reality for continuous
  * ingest (the index is refreshed by a periodic batch job, see
  * [[graft.ops.NearDup.minhashBands]]).
  */
object CrossDedupGate {

  /** Build the static corpus band index the gate probes:
    * (band_id, band_hash) -> min corpus doc id. One row per distinct
    * band value — the frame to persist bucketed by (band_id, band_hash).
    */
  def corpusIndex(corpusDocs: DataFrame): DataFrame =
    graft.ops.NearDup.minhashBands(corpusDocs)
      .groupBy(col("band_id"), col("band_hash"))
      .agg(min(col("doc_id")).as("corpus_id"))

  /** Gate a document stream against a static band index built by
    * [[corpusIndex]]. Output per doc:
    * (doc_id, ingest_ts, matched_corpus_id, is_dup) — append-mode, one
    * output row per input row, emitted in the arrival micro-batch.
    */
  def gate(docs: Dataset[DocStream.DocEvent], index: DataFrame): DataFrame = {
    val banded = graft.ops.NearDup
      .withRowMinhashBands(docs.toDF(), "doc_id", "text")
    // one static-side lookup per band column: the index slice for band k,
    // keyed directly by that column — 4 left hash joins, no explode (an
    // explode would need a streaming re-aggregation to get back to one
    // row per doc; this shape never leaves row granularity)
    val joined = (0 until 4).foldLeft(banded) { (df, k) =>
      val slice = index.filter(col("band_id") === k)
        .select(col("band_hash").as(s"band_$k"), col("corpus_id").as(s"__m$k"))
      df.join(slice, Seq(s"band_$k"), "left")
    }
    joined.select(
      col("doc_id"), col("ingest_ts"),
      least(col("__m0"), col("__m1"), col("__m2"), col("__m3"))
        .as("matched_corpus_id"),
      least(col("__m0"), col("__m1"), col("__m2"), col("__m3")).isNotNull
        .as("is_dup"))
  }
}
