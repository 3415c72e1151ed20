package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AnnAssign, VecOps}

/** IVF-PQ: the production-scale ANN composition — [[IvfIndex]]'s coarse
  * k-means cells prune the corpus to `nprobe` cells per query, and
  * [[Pq]]'s 16-byte codes answer the in-cell scan by ADC, so a query
  * touches `nprobe/k` of the corpus AND reads it 16x compressed; only
  * the final shortlist is re-ranked at full precision. At n = 10^9
  * (k = 31623 cells, nprobe = 8): ~250k candidates x 16 code bytes =
  * 4 MB scanned per query vs 256 GB brute — with both index structures
  * (coarse codebook, PQ codebooks) broadcast and the corpus never
  * shuffled at search time. At build both codebooks are collected and
  * ship in the stage's task binary, so the cell-keyed codes are one
  * pass over the corpus.
  *
  * Determinism: the coarse side is exactly q_knn_ivf's codebook (raw
  * vectors, cosine assignment); the PQ side exactly q_knn_pq's
  * (normalized vectors, min-L2 codewords) — the q_knn_ivfpq oracle
  * replays both chains and the composition end-to-end.
  */
object IvfPq {

  /** Built index: coarse codebook, PQ codebooks, and the search-time
    * frame `cellCodes` = each vector's PQ codes keyed by its coarse cell.
    * The two codebooks are materialized local relations (index
    * metadata); `cellCodes` is corpus-sized but compact (small fixed
    * columns). On a real cluster `cellCodes` is the frame you persist
    * bucketed/partitioned BY `cent_id`, so a probe touches only its
    * cells' files.
    */
  final case class Index(coarse: DataFrame, pqCb: DataFrame, cellCodes: DataFrame)

  /** Build both index structures over a corpus given raw + normalized
    * views of it ((vec_id, embedding) each).
    */
  def build(raw: DataFrame, norm: DataFrame, m: Int = Pq.M): Index = {
    val n = raw.count()
    val coarse = IvfIndex.codebook(raw, IvfIndex.chooseK(n))
    val pqCb = Pq.codebooks(norm, m, Pq.chooseKsub(n))
    // cell-keyed codes: with both codebooks collected index metadata,
    // ONE raw scan computes the coarse cell and the m codes row-locally
    // (`norm` is by contract the [[Pq.normalized]] view of `raw`, so
    // normalizing inline is the same values) — zero exchanges, zero
    // joins
    val cellCodes = raw.select(col("vec_id"),
      AnnAssign.ivfCell(col("embedding"), IvfIndex.localBook(coarse))
        .as("cent_id"),
      posexplode(AnnAssign.pqCodes(
        Pq.normalized(col("embedding")), Pq.localSubBook(pqCb)))
        .as(Seq("sub_id", "code")))
      .select(col("vec_id"), col("cent_id"), col("sub_id"), col("code"))
    Index(coarse, pqCb, cellCodes)
  }

  /** RESIDUAL index: coarse cells as in [[build]], plus the per-cell
    * fixed-point mean of the NORMALIZED vectors (`cmeans`, index
    * metadata) and PQ codebooks/codes trained on the RESIDUALS
    * x_norm − c(cell). For any per-cell constant c,
    * q·x = q·(x−c) + q·c, so ADC over residual codes plus the exact
    * per-(query, probed-cell) scalar q·c reconstructs the dot — with
    * quantization error at the WITHIN-CELL scale instead of the global
    * scale. This is the variant that holds up on clustered corpora,
    * where plain-PQ codes of same-cluster members are nearly identical
    * and the ADC shortlist degenerates (measured: recall@10 0.08 plain
    * vs see BASELINE.md r8 residual record on the 131k mixture corpus).
    */
  final case class ResIndex(
      coarse: DataFrame, cmeans: DataFrame, pqCb: DataFrame,
      cellCodes: DataFrame)

  /** Build the residual index over raw (vec_id, embedding) vectors (same
    * coarse chain as [[build]]).
    */
  def buildResidual(raw: DataFrame, m: Int = Pq.M): ResIndex = {
    import graft.queries.Num
    val n = raw.count()
    val coarse = IvfIndex.codebook(raw, IvfIndex.chooseK(n))
    // the normalized view with its coarse cell, row-local off the raw
    // scan: the coarse chain scores RAW vectors, so the cell cannot be
    // re-derived from the normalized one
    val normCell = raw.select(col("vec_id"),
      Pq.normalized(col("embedding")).as("embedding"),
      AnnAssign.ivfCell(col("embedding"), IvfIndex.localBook(coarse))
        .as("cent_id"))
    // per-cell exact fixed-point mean of the normalized vectors — the
    // residual origin; cells-count rows of index metadata
    val cmeans = IvfIndex.materialize(
      normCell
        .select(col("cent_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((Num.dsum(col("x")) / count(lit(1))).as("val"))
        .groupBy(col("cent_id"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, val))), s -> s.val)")
          .as("cent_mean")))
    // residuals: only the cells-count mean frame is broadcast
    val residWithCell = normCell
      .join(broadcast(cmeans), "cent_id")
      .select(col("vec_id"), col("cent_id"),
        expr("zip_with(embedding, cent_mean, (a, b) -> a - b)")
          .as("embedding"))
    val pqCb = Pq.codebooks(
      residWithCell.select(col("vec_id"), col("embedding")), m,
      Pq.chooseKsub(n))
    // cell-keyed residual codes in the same pass (see [[build]])
    val cellCodes = residWithCell.select(col("vec_id"), col("cent_id"),
      posexplode(AnnAssign.pqCodes(col("embedding"), Pq.localSubBook(pqCb)))
        .as(Seq("sub_id", "code")))
      .select(col("vec_id"), col("cent_id"), col("sub_id"), col("code"))
    ResIndex(coarse, cmeans, pqCb, cellCodes)
  }

  /** The `nprobe` nearest coarse cells of each RAW query vector
    * ((q_id, q_emb)): (q_id, probe_cent) — queries x coarse codebook
    * (broadcast), top-nprobe by raw cosine, identical scoring to
    * q_knn_ivf's probe CTE.
    */
  private def probes(queries: DataFrame, coarse: DataFrame, nprobe: Int): DataFrame = {
    val wP = Window.partitionBy(col("q_id")).orderBy(col("cs").desc, col("cent_id"))
    queries
      .crossJoin(broadcast(coarse))
      .withColumn("cs", VecOps.cosine(col("q_emb"), col("cent_emb")))
      .withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("cent_id").as("probe_cent"))
  }

  /** In-cell ADC candidates (q_id, c_id, cent_id, sub_id, pdot): the
    * cell-keyed codes stream ONCE against the broadcast probe set and the
    * broadcast (queries x m x k_sub) dot table `tbl`. Both broadcasts are
    * bounded by the QUERY BATCH (nprobe rows/query; m*k_sub rows/query),
    * never by cell size — broadcasting the (queries x nprobe x
    * cell-size) candidate-id set instead would be ~250k rows PER QUERY at
    * n = 10^9 and blow the broadcast limit for a batch of hundreds. A
    * vector lives in exactly one cell, so (q_id, c_id) pairs are
    * distinct by construction.
    */
  private def inCell(cellCodes: DataFrame, probes: DataFrame, tbl: DataFrame): DataFrame =
    cellCodes
      .join(broadcast(probes), col("cent_id") === col("probe_cent"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(tbl),
        col("q_id") === col("t_q") && col("sub_id") === col("t_sub") &&
          col("code") === col("t_cent"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("cent_id"),
        col("sub_id"), col("pdot"))

  /** Residual-ADC top-`topK` search (twin of [[searchWith]]; same probe
    * chain, ADC against the residual codebooks, the exact q·c correction
    * joined from the broadcast probe frame, then exact re-rank).
    * Output: (q_id, c_id, score_pq, cosine, rank).
    */
  def searchResidual(
      idx: ResIndex,
      raw: DataFrame,
      m: Int,
      queryPred: Column,
      nprobe: Int,
      topK: Int,
      shortlist: Int): DataFrame =
    searchResidualWith(idx,
      raw.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      raw, m, nprobe, topK, shortlist)

  /** Residual search for an external query frame ((q_id, q_emb); same
    * id-disjointness contract as [[searchWith]]) — the serving entry
    * point ([[graft.streaming.AnnServe.writerRes]]). Per batch: probes
    * and ADC table broadcast as in the plain path, PLUS the exact
    * per-(query, probed-cell) correction scalar q·c — also bounded by
    * the probe set (nprobe rows/query), also broadcast.
    */
  def searchResidualWith(
      idx: ResIndex,
      queries: DataFrame,
      raw: DataFrame,
      m: Int,
      nprobe: Int,
      topK: Int,
      shortlist: Int): DataFrame = {
    val pr = probes(queries, idx.coarse, nprobe)
    val qNorm = queries.select(col("q_id"),
      Pq.normalized(col("q_emb")).as("embedding"))
    // exact correction scalar per (query, probed cell): q·c — bounded by
    // the probe set (queries x nprobe rows), travels by broadcast
    val corr = pr
      .join(broadcast(idx.cmeans), col("probe_cent") === col("cent_id"))
      .join(qNorm, "q_id")
      .select(col("q_id"), col("probe_cent"),
        VecOps.vecDot(col("embedding"),
          col("cent_mean").cast("array<double>")).as("qc"))
    val scored = Pq.adcScore(
      inCell(idx.cellCodes, pr, Pq.adcTableFor(qNorm, idx.pqCb, m)),
      "q_id", "c_id", "cent_id")
    val withCorr = scored
      .join(broadcast(corr.withColumnRenamed("q_id", "cq")),
        col("cq") === col("q_id") && col("probe_cent") === col("cent_id"))
      .select(col("q_id"), col("c_id"),
        (col("score_pq") + col("qc")).as("score_pq"))
    Pq.rerankExact(Pq.keepShortlist(withCorr, shortlist), raw, queries, topK)
  }

  /** Top-`topK` neighbours for RAW query vectors `queries` ((q_id,
    * q_emb) — corpus members or external; a candidate with c_id == q_id
    * is excluded, so external id spaces should not reuse corpus ids):
    * coarse probes -> in-cell ADC -> exact re-rank.
    * Output: (q_id, c_id, score_pq, cosine, rank).
    */
  def searchWith(
      idx: Index,
      queries: DataFrame,
      raw: DataFrame,
      m: Int,
      nprobe: Int,
      topK: Int,
      shortlist: Int): DataFrame = {
    // the ADC table is built from the unit-normalized queries
    val qNorm = queries.select(col("q_id"),
      Pq.normalized(col("q_emb")).as("embedding"))
    val scored = Pq.adcScore(
      inCell(idx.cellCodes, probes(queries, idx.coarse, nprobe),
        Pq.adcTableFor(qNorm, idx.pqCb, m)),
      "q_id", "c_id")
    Pq.rerankExact(Pq.keepShortlist(scored, shortlist), raw, queries, topK)
  }

  /** Top-`topK` neighbours for the corpus rows matching `queryPred`. */
  def search(
      idx: Index,
      raw: DataFrame,
      m: Int,
      queryPred: Column,
      nprobe: Int,
      topK: Int,
      shortlist: Int): DataFrame =
    searchWith(idx,
      raw.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      raw, m, nprobe, topK, shortlist)

  /** A served RESIDUAL IVF-PQ index ([[buildResidual]]): materialized
    * codebooks + the cached cell-keyed codes. Build once, answer many
    * query batches ([[graft.streaming.AnnServe.writerRes]]); per batch a
    * query reads the broadcast codebooks and the probed cells' CODES —
    * never the full-precision corpus beyond its shortlist. The residual
    * correction term (the exact q·c scalar per (query, probed cell)) is
    * recomputed per batch from the broadcast `cmeans` metadata.
    * `close()` releases the cached codes.
    */
  final case class ServedRes(idx: ResIndex, raw: DataFrame, m: Int) {
    def query(queries: DataFrame, nprobe: Int, topK: Int, shortlist: Int): DataFrame =
      searchResidualWith(idx, queries, raw, m, nprobe, topK, shortlist)
    def close(): Unit = { idx.cellCodes.unpersist(); () }
  }

  /** Build a served residual index (cell-keyed residual codes cached;
    * coarse codebook, PQ codebooks and cell means all local metadata).
    * Per-batch driver-side state is broadcasts bounded by the batch:
    * nprobe rows/query (probes and their correction scalars) and m*k_sub
    * rows/query (ADC table, ~4k rows/query at the defaults) — size
    * batches so batch * 4k stays comfortably under the broadcast
    * threshold (e.g. <= ~2k queries/batch at the defaults).
    */
  def buildServedResidual(raw: DataFrame, m: Int = Pq.M): ServedRes = {
    val idx0 = buildResidual(raw, m)
    ServedRes(idx0.copy(cellCodes = idx0.cellCodes.cache()), raw, m)
  }
}
