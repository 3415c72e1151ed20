package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** IVF-PQ: the production-scale ANN composition — [[IvfIndex]]'s coarse
  * k-means cells prune the corpus to `nprobe` cells per query, and
  * [[Pq]]'s 16-byte codes answer the in-cell scan by ADC, so a query
  * touches `nprobe/k` of the corpus AND reads it 16x compressed; only
  * the final shortlist is re-ranked at full precision. At n = 10^9
  * (k = 31623 cells, nprobe = 8): ~250k candidates x 16 code bytes =
  * 4 MB scanned per query vs 256 GB brute — with both index structures
  * (coarse codebook, PQ codebooks) broadcast and the corpus never
  * shuffled at search time.
  *
  * Determinism: the coarse side is exactly q_knn_ivf's codebook (raw
  * vectors, cosine assignment); the PQ side exactly q_knn_pq's
  * (normalized vectors, min-L2 codewords) — the q_knn_ivfpq oracle
  * replays both chains and the composition end-to-end.
  */
object IvfPq {

  /** Built index: coarse codebook, cell assignment, PQ codebooks, codes,
    * and the search-time frame `cellCodes` = codes keyed by their coarse
    * cell (the PQ code rows pre-joined to the cell assignment at BUILD
    * time). The two codebooks are materialized local relations (index
    * metadata); `cells`, `codes` and `cellCodes` are corpus-sized but
    * compact (small fixed columns). On a real cluster `cellCodes` is the
    * frame you persist bucketed/partitioned BY `cent_id`, so a probe
    * touches only its cells' files.
    */
  final case class Index(
      coarse: DataFrame, cells: DataFrame, pqCb: DataFrame, codes: DataFrame,
      cellCodes: DataFrame)

  /** Build both index structures over a corpus given raw + normalized
    * views of it ((vec_id, embedding) each).
    */
  def build(raw: DataFrame, norm: DataFrame, m: Int = Pq.M): Index = {
    val n = raw.count()
    val coarse = IvfIndex.materialize(IvfIndex.codebook(raw, IvfIndex.chooseK(n)))
    val cells = IvfIndex.assign(raw, coarse).select(col("vec_id"), col("cent_id"))
    val pqCb = Pq.codebooks(norm, m, Pq.chooseKsub(n))
    val codes = Pq.encode(norm, pqCb, m)
    // cell-keyed codes: r9 built cells and codes as two corpus passes
    // and equi-joined them back on vec_id (two n-row exchanges + the
    // join). With both codebooks collected index metadata, ONE raw scan
    // computes the coarse cell and the m codes row-locally (`norm` is by
    // contract the [[Pq.normalized]] view of `raw`, so normalizing
    // inline is the same values) — zero exchanges, zero joins.
    val cellCodes =
      (IvfIndex.localBook(coarse), Pq.localSubBook(pqCb)) match {
        case (Some(cbk), Some(sbk)) =>
          raw.select(col("vec_id"),
            graft.functions.AnnAssign.ivfCell(col("embedding"), cbk)
              .as("cent_id"),
            posexplode(graft.functions.AnnAssign.pqCodes(
              Pq.normalized(col("embedding")), sbk)).as(Seq("sub_id", "code")))
            .select(col("vec_id"), col("cent_id"), col("sub_id"), col("code"))
        case _ => cells.join(codes, "vec_id")
          .select(col("vec_id"), col("cent_id"), col("sub_id"), col("code"))
      }
    Index(coarse, cells, pqCb, codes, cellCodes)
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
      coarse: DataFrame, cells: DataFrame, cmeans: DataFrame,
      pqCb: DataFrame, cellCodes: DataFrame)

  /** Build the residual index (same coarse chain as [[build]];
    * `reuse` lets a caller that already built the plain index share its
    * (coarse, cells) pair instead of re-running the coarse Lloyd).
    */
  def buildResidual(
      raw: DataFrame,
      norm: DataFrame,
      m: Int = Pq.M,
      reuse: Option[(DataFrame, DataFrame)] = None): ResIndex = {
    import graft.queries.Num
    val n = raw.count()
    val (coarse, cells) = reuse.getOrElse {
      val cb = IvfIndex.materialize(
        IvfIndex.codebook(raw, IvfIndex.chooseK(n)))
      (cb, IvfIndex.assign(raw, cb).select(col("vec_id"), col("cent_id")))
    }
    // per-cell exact fixed-point mean of the normalized vectors — the
    // residual origin; cells-count rows of index metadata. With the
    // coarse codebook local, the (norm x cells) vec_id join collapses to
    // a row-local cell tag off the raw scan (same values: `norm` is the
    // [[Pq.normalized]] view of `raw` by contract).
    val normCell = IvfIndex.localBook(coarse) match {
      case Some(cbk) => raw.select(
        Pq.normalized(col("embedding")).as("embedding"),
        graft.functions.AnnAssign.ivfCell(col("embedding"), cbk)
          .as("cent_id"))
      case None => norm.join(cells, "vec_id")
        .select(col("embedding"), col("cent_id"))
    }
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
    // residuals: with the coarse codebook local, the cell tag is
    // row-local off the norm scan (r9 joined norm x cells on vec_id —
    // an n-row exchange per side) and only the cells-count mean frame
    // is broadcast. `norm` is by contract the [[Pq.normalized]] view of
    // `raw`, so re-deriving the cell from the normalized vector is NOT
    // valid (the coarse chain scores RAW vectors) — the fused path
    // instead recomputes the normalized view off the raw scan.
    val residWithCell = IvfIndex.localBook(coarse) match {
      case Some(cbk) =>
        raw.select(col("vec_id"),
          Pq.normalized(col("embedding")).as("embedding"),
          graft.functions.AnnAssign.ivfCell(col("embedding"), cbk)
            .as("cent_id"))
          .join(broadcast(cmeans), "cent_id")
          .select(col("vec_id"), col("cent_id"),
            expr("zip_with(embedding, cent_mean, (a, b) -> a - b)")
              .as("embedding"))
      case None => norm.join(cells, "vec_id")
        .join(broadcast(cmeans), "cent_id")
        .select(col("vec_id"), col("cent_id"),
          expr("zip_with(embedding, cent_mean, (a, b) -> a - b)")
            .as("embedding"))
    }
    val resid = residWithCell.select(col("vec_id"), col("embedding"))
    val pqCb = Pq.codebooks(resid, m, Pq.chooseKsub(n))
    val codes = Pq.encode(resid, pqCb, m)
    // cell-keyed residual codes in the same pass (see [[build]])
    val cellCodes = Pq.localSubBook(pqCb) match {
      case Some(sbk) =>
        residWithCell.select(col("vec_id"), col("cent_id"),
          posexplode(graft.functions.AnnAssign.pqCodes(col("embedding"), sbk))
            .as(Seq("sub_id", "code")))
          .select(col("vec_id"), col("cent_id"), col("sub_id"), col("code"))
      case None => cells.join(codes, "vec_id")
        .select(col("vec_id"), col("cent_id"), col("sub_id"), col("code"))
    }
    ResIndex(coarse, cells, cmeans, pqCb, cellCodes)
  }

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
    val wP = Window.partitionBy(col("q_id"))
      .orderBy(col("cs").desc, col("cent_id"))
    val probes = queries
      .crossJoin(broadcast(idx.coarse))
      .withColumn("cs", VecOps.cosine(col("q_emb"), col("cent_emb")))
      .withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("cent_id").as("probe_cent"))
    val qNorm = queries.select(col("q_id"),
      Pq.normalized(col("q_emb")).as("embedding"))
    // exact correction scalar per (query, probed cell): q·c — bounded by
    // the probe set (queries x nprobe rows), travels by broadcast
    val corr = probes
      .join(broadcast(idx.cmeans), col("probe_cent") === col("cent_id"))
      .join(qNorm, "q_id")
      .select(col("q_id"), col("probe_cent"),
        VecOps.vecDot(col("embedding"),
          col("cent_mean").cast("array<double>")).as("qc"))
    val tbl = Pq.adcTableFor(qNorm, idx.pqCb, m)
    val scored = idx.cellCodes
      .join(broadcast(probes), col("cent_id") === col("probe_cent"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(tbl),
        col("q_id") === col("t_q") && col("sub_id") === col("t_sub") &&
          col("code") === col("t_cent"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("cent_id"),
        col("sub_id"), col("pdot"))
      .groupBy(col("q_id"), col("c_id"), col("cent_id"))
      .agg(expr(
        "aggregate(transform(array_sort(collect_list(struct(sub_id, pdot)))," +
          " s -> s.pdot), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
        .as("score_res"))
    val withCorr = scored
      .join(broadcast(corr.withColumnRenamed("q_id", "cq")),
        col("cq") === col("q_id") && col("probe_cent") === col("cent_id"))
      .select(col("q_id"), col("c_id"),
        (col("score_res") + col("qc")).as("score_pq"))
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
    // probes: queries x coarse codebook (broadcast), top-nprobe cells by
    // raw cosine — identical scoring to q_knn_ivf's probe CTE
    val wP = Window.partitionBy(col("q_id")).orderBy(col("cs").desc, col("cent_id"))
    val probes = queries
      .crossJoin(broadcast(idx.coarse))
      .withColumn("cs", VecOps.cosine(col("q_emb"), col("cent_emb")))
      .withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("cent_id").as("probe_cent"))
    // in-cell ADC: the cell-keyed codes frame streams ONCE against the
    // broadcast probe set and the broadcast (queries x m x k_sub) dot
    // table built from the unit-normalized queries. Both broadcasts are
    // bounded by the QUERY BATCH (nprobe rows/query; m*k_sub rows/query),
    // never by cell size — the earlier shape broadcast the (queries x
    // nprobe x cell-size) candidate-id set, which at n = 10^9 is ~250k
    // rows PER QUERY and blows the broadcast limit for a batch of
    // hundreds. A vector lives in exactly one cell, so (q_id, c_id)
    // pairs are distinct by construction.
    val qNorm = queries.select(col("q_id"),
      Pq.normalized(col("q_emb")).as("embedding"))
    val tbl = Pq.adcTableFor(qNorm, idx.pqCb, m)
    val scored = Pq.adcScore(
      idx.cellCodes
        .join(broadcast(probes), col("cent_id") === col("probe_cent"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(tbl),
          col("q_id") === col("t_q") && col("sub_id") === col("t_sub") &&
            col("code") === col("t_cent"))
        .select(col("q_id"), col("vec_id").as("c_id"), col("sub_id"), col("pdot")))
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
    val norm = raw.select(col("vec_id"), Pq.normalized(col("embedding")).as("embedding"))
    val idx0 = buildResidual(raw, norm, m)
    ServedRes(idx0.copy(cellCodes = idx0.cellCodes.cache()), raw, m)
  }
}
