package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ConnectedComponents, Curation, NearDup, SaDedup, Sharding, TextPrep}

/** The operators composed as one corpus-curation pipeline — what a user
  * of the reference would actually run end-to-end over a raw document
  * table to produce packed training chunks:
  *
  *   exact dedup  ->  transitive near-dup clusters (MinHash LSH +
  *   connected components)  ->  Gopher-style quality gate  ->  PII
  *   scrub  ->  optional benchmark decontamination  ->  overlapping
  *   token-window chunking  ->  deterministic token-budget packing.
  *
  * Ordering rationale: dedup first (cheapest row reduction before the
  * per-row text work), PII scrub BEFORE chunking (a chunk boundary must
  * not split a redaction match), decontamination on the scrubbed text
  * (eval sets are published prose — scrubbing does not touch benchmark
  * shingles, and probing fewer docs is cheaper).
  *
  * Every stage is one of the audited library operators; nothing here
  * adds a new shuffle shape. The whole pipeline is deterministic at any
  * parallelism (hash thresholds, no rand()) — re-running it on the same
  * corpus bit-reproduces the same packed chunks.
  */
object CorpusPipeline {

  /** The per-stage document frames, in order (last = curated docs ready
    * for chunking). Exposed for accounting/tests; `curate` is the
    * end-to-end entry point.
    */
  def docStages(
      docs: DataFrame,
      evalSet: Option[DataFrame],
      saSpans: Option[(Int, Int)] = None): Seq[(String, DataFrame)] = {
    val base = docs.select("doc_id", "text", "lang", "source")

    val keepExact = base
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exact = base.join(keepExact, Seq("doc_id"))

    val pairs = NearDup.minhashCandidatePairs(exact)
    val members = ConnectedComponents
      .run(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .filter(col("id") =!= col("rep")) // non-representative cluster members
      .select(col("id").as("doc_id"))
    val nearDeduped = exact.join(members, Seq("doc_id"), "left_anti")

    // optional ExactSubstr span removal (Lee et al. 2021, ops.SaDedup):
    // runs AFTER document-level dedup (fewer suffixes to sort) and
    // BEFORE the quality gate (a doc gutted to boilerplate should be
    // judged on what remains). Docs scrubbed to nothing drop out.
    val spanClean = saSpans match {
      case Some((minLen, cap)) =>
        val cleaned = SaDedup
          .clean(nearDeduped.select(col("doc_id").as("id"), col("text")),
            minLen, cap)
          .select(col("doc_id"), col("clean_text"))
        nearDeduped.drop("text")
          .join(cleaned.withColumnRenamed("clean_text", "text"), Seq("doc_id"))
          .filter(length(col("text")) > 0)
          .select("doc_id", "text", "lang", "source")
      case None => nearDeduped
    }

    val quality = spanClean.filter(TextPrep.verdict === "keep")

    val scrubbed = Curation.piiScrub(quality)
      .withColumn("text", col("redacted"))
      .drop("redacted", "n_emails", "n_phones", "n_ipv4")

    val clean = evalSet match {
      case Some(ev) =>
        val contaminated = Curation.decontaminate(scrubbed, ev)
          .filter(col("contaminated")).select("doc_id")
        scrubbed.join(contaminated, Seq("doc_id"), "left_anti")
      case None => scrubbed
    }

    val head = Seq(
      "input" -> base,
      "exact_dedup" -> exact,
      "near_dedup" -> nearDeduped)
    val spanStage =
      if (saSpans.isDefined) Seq("sa_span_dedup" -> spanClean) else Nil
    head ++ spanStage ++ Seq(
      "quality" -> quality,
      "decontaminated" -> clean)
  }

  /** Curated, chunked, packed training units: one row per chunk with
    * (doc_id, lang, source, chunk_id, chunk_text, n_chunk_tokens,
    * shard, cum_tokens, bin_id).
    */
  def curate(
      docs: DataFrame,
      evalSet: Option[DataFrame] = None,
      chunkSize: Int = 32,
      chunkStride: Int = 24,
      packShards: Int = 8,
      packBudget: Long = 2048L,
      saSpans: Option[(Int, Int)] = None): DataFrame = {
    val curated = docStages(docs, evalSet, saSpans).last._2
    val chunks = TextPrep
      .chunkDocs(curated, chunkSize, chunkStride)
      .withColumn("chunk_key",
        concat(col("doc_id"), lit("#"), col("chunk_id")))
    Sharding
      .packBins(chunks, "chunk_key", "n_chunk_tokens", packShards, packBudget)
      .drop("chunk_key", "text")
  }
}
