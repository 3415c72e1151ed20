package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.queries.Num

/** Product quantization (PQ) for embedding ANN: each unit-normalized
  * vector is split into `m` subspaces, each subspace gets its own small
  * k-means codebook, and a vector is stored as `m` codeword ids — at
  * m = 16 subspaces over a 64-dim float vector that is 16 bytes per
  * vector instead of 256, so a 10^9-row corpus's codes fit in ~16 GB
  * across the cluster (vs 256 GB raw) and the ADC scan reads 16x fewer
  * bytes than a brute-force pass.
  *
  * Search is asymmetric distance computation (ADC): the query stays
  * full-precision; one tiny (m x k) table of query-subvector x codeword
  * dot products is broadcast, every corpus code row becomes a table
  * lookup, and the per-candidate approximate cosine is the fold of its
  * m partial dots in subspace order. The ADC shortlist is then re-ranked
  * with exact cosine — only `shortlist` candidate vectors per query are
  * ever read at full precision.
  *
  * Everything is DETERMINISTIC and cross-engine reproducible under the
  * same contract as [[IvfIndex]] (md5-ordered seeds shared by all
  * subspaces, min-L2 assignment with (d2 ASC, cent_id) tie-break,
  * fixed-point exact centroid means, left-fold dot products) — the
  * DuckDB oracle of `q_knn_pq` derives bit-identical codebooks, codes,
  * and scores.
  *
  * Scale: codebook build shuffles only (sub_id, cent_id, pos) partial
  * sums (m * k * sub_dim groups); the codebooks are collected and ship
  * in the stage's task binary, so encoding is one pass over the corpus
  * (no corpus shuffle); ADC scans codes with the table broadcast (no
  * corpus shuffle); only the shortlist (queries x 64 rows) is joined
  * back to full vectors. Composes with IVF for 10^9+: assign
  * to coarse cells first, then PQ-encode within probed cells only.
  */
object Pq {

  /** Subspace count: 4-dim sub-vectors over the 64-dim corpus. */
  val M = 16

  /** ADC shortlist size re-ranked exactly (recall@5 0.98 vs brute on the
    * near-random driver corpus — the hardest case for PQ; clustered real
    * corpora quantize far better at the same settings).
    */
  val Shortlist = 64

  /** Per-subspace codebook size: min(256, max(4, ceil(sqrt(n)))) — caps
    * at the classic 1-byte-per-subspace code at n >= 64k.
    *
    * Scaling note (measured, BASELINE.md round-5 rehearsal): below the
    * cap, Lloyd work grows as n * sqrt(n) — sf0.1→sf1 (n 2k→20k, k
    * 45→142) cost ~20× for 10× rows. That regime ends at n >= 64k where
    * k pins to 256 and training/encode/search are strictly linear in n
    * (the regime the operator is designed for).
    */
  def chooseKsub(n: Long): Int =
    math.min(256, math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Unit-normalize (array&lt;double&gt;): PQ quantizes directions, so the
    * ADC dot approximates cosine directly. Element-wise divide by the
    * exact dot-fold norm — correctly rounded, bit-identical cross-engine.
    */
  def normalized(emb: Column): Column = {
    val nrm = sqrt(VecOps.vecDot(emb, emb))
    transform(emb, x => x.cast("double") / nrm)
  }

  /** (idCol, sub_id, sub_emb): the `m` equal slices of `vecCol`. */
  def subVectors(df: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame =
    df.select(col(idCol),
      posexplode(expr(
        s"transform(sequence(0, $m - 1), s -> slice($vecCol, s * (size($vecCol) div $m) + 1, size($vecCol) div $m))"))
        .as(Seq("sub_id", "sub_emb")))

  /** Nearest-codeword assignment per (vec_id, sub_id); ties -> lowest
    * cent_id. `sub` is (vec_id, sub_id, sub_emb); `cb` is (sub_id,
    * cent_id, cent_emb).
    *
    * The codebook is collected (m * k rows of index metadata) and the
    * argmin runs row-locally over it
    * ([[graft.functions.AnnAssign.pqSubCode]]): zero exchanges, no
    * n*m*k candidate rows. Distances (aa - 2*a.b + bb, each dot a
    * deterministic fold) and the (dist2 ASC, cent_id ASC) tie-break are
    * those of the oracle.
    */
  def assignSub(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.withColumn("cent_id",
      graft.functions.AnnAssign.pqSubCode(
        col("sub_emb"), col("sub_id"), localSubBook(cb)))
      .select(col("vec_id"), col("sub_id"), col("sub_emb"), col("cent_id"))

  /** The collected [[graft.functions.AnnAssign.SubBook]] of a codebook
    * frame (sub_id, cent_id, cent_emb); m = max(sub_id) + 1.
    */
  private[ops] def localSubBook(cb: DataFrame): graft.functions.AnnAssign.SubBook = {
    val rows = cb.select(col("sub_id"), col("cent_id"), col("cent_emb"))
      .collect()
    val m = rows.iterator
      .map(_.get(0).asInstanceOf[Number].intValue + 1).maxOption.getOrElse(0)
    graft.functions.AnnAssign.subBook(rows, m)
  }

  /** Deterministic per-subspace codebooks (sub_id, cent_id, cent_emb):
    * the k seed rows (smallest (md5(vec_id), vec_id)) are shared by all
    * subspaces; each Lloyd iteration assigns by min-L2 and re-centers
    * with fixed-point exact means. Returned materialized (m * k rows of
    * index metadata — the same payload every downstream step broadcasts).
    *
    * `emb` must have (vec_id: long, embedding) with `embedding` already
    * unit-normalized doubles ([[normalized]]).
    */
  def codebooks(emb: DataFrame, m: Int, k: Int, iters: Int = 2): DataFrame = {
    val wk = Window.orderBy(col("hk"), col("vec_id"))
    val seeds = emb
      .select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
      .withColumn("cent_id", row_number().over(wk).cast("long") - 1)
    // materialized from round 0, so the returned codebooks are always a
    // local relation — the m*k seed rows are the same payload the first
    // assignSub would collect
    var cb: DataFrame = IvfIndex.materialize(subVectors(
      seeds.select(col("cent_id"), col("embedding")), "cent_id", "embedding", m)
      .select(col("sub_id"), col("cent_id"), col("sub_emb").as("cent_emb")))
    val sub = subVectors(emb, "vec_id", "embedding", m)
    for (_ <- 0 until iters) {
      val a = assignSub(sub, cb)
      // materialize between iterations (see IvfIndex.codebook): m*k rows
      // of metadata; cutting the lineage keeps downstream uses from
      // re-running — and re-codegenning — the accumulated Lloyd subtree
      cb = IvfIndex.materialize(a
        .select(col("sub_id"), col("cent_id"),
          posexplode(col("sub_emb").cast("array<double>")).as(Seq("pos", "x")))
        .groupBy(col("sub_id"), col("cent_id"), col("pos"))
        .agg((Num.dsum(col("x")) / count(lit(1))).as("val"))
        .groupBy(col("sub_id"), col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, val))), s -> s.val)")
          .as("cent_emb")))
    }
    cb
  }

  /** PQ codes (vec_id, sub_id, code): one pass over the corpus — this
    * IS the compressed index (m small ints per vector).
    */
  def encode(emb: DataFrame, cb: DataFrame, m: Int): DataFrame =
    assignSub(subVectors(emb, "vec_id", "embedding", m), cb)
      .select(col("vec_id"), col("sub_id"), col("cent_id").as("code"))

  /** The ADC lookup table for NORMALIZED query vectors `queries`
    * ((q_id, embedding)): (t_q, t_sub, t_cent, pdot) — queries x m x k
    * rows of partial dots. Always broadcast by callers, so the codes scan
    * (the only corpus-sized input) never shuffles.
    */
  def adcTableFor(queries: DataFrame, cb: DataFrame, m: Int): DataFrame =
    subVectors(queries, "q_id", "embedding", m)
      .join(broadcast(cb), "sub_id")
      .select(col("q_id").as("t_q"), col("sub_id").as("t_sub"),
        col("cent_id").as("t_cent"),
        VecOps.vecDot(col("sub_emb"), col("cent_emb")).as("pdot"))

  /** [[adcTableFor]] over the corpus-member queries matching `queryPred`. */
  def adcTable(emb: DataFrame, cb: DataFrame, m: Int, queryPred: Column): DataFrame =
    adcTableFor(
      emb.filter(queryPred).select(col("vec_id").as("q_id"), col("embedding")),
      cb, m)

  /** Approximate cosine `score_pq` per group of `keys` (at least q_id,
    * c_id) from joined (keys, sub_id, pdot) candidate rows: the m
    * partial dots folded in subspace order — order-deterministic, same
    * fold as the oracle's list_reduce.
    */
  private[ops] def adcScore(cand: DataFrame, keys: String*): DataFrame =
    cand.groupBy(keys.map(col): _*)
      .agg(expr(
        "aggregate(transform(array_sort(collect_list(struct(sub_id, pdot))), s -> s.pdot), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
        .as("score_pq"))

  /** Keep the per-query top-`shortlist` by (score_pq DESC, c_id). */
  private[ops] def keepShortlist(scored: DataFrame, shortlist: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_pq").desc, col("c_id"))
    scored.withColumn("srk", row_number().over(w))
      .filter(col("srk") <= shortlist)
      .select("q_id", "c_id", "score_pq")
  }

  /** Exact-cosine re-rank of a shortlist: only (queries x shortlist) rows
    * read full vectors — the shortlist broadcasts, the corpus side stays
    * a scan. `queries` is the RAW (q_id, q_emb) frame (corpus-member or
    * external). Output: (q_id, c_id, score_pq, cosine, rank).
    */
  private[ops] def rerankExact(
      short: DataFrame, raw: DataFrame, queries: DataFrame, topK: Int): DataFrame = {
    val qv = queries.select(col("q_id"), col("q_emb"))
    val cv = raw.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    cv.join(broadcast(short), "c_id")
      .join(broadcast(qv), "q_id")
      .withColumn("cosine", VecOps.cosine(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"), col("score_pq"), col("cosine"), col("rank"))
  }

  /** ADC top-`topK` search: approximate-cosine shortlist over the codes,
    * exact-cosine re-rank of the shortlist. `emb` is the normalized
    * corpus, `raw` the original vectors (for the exact re-rank), `cb` the
    * codebooks. Output: (q_id, c_id, score_pq, cosine, rank).
    */
  def search(
      emb: DataFrame,
      raw: DataFrame,
      cb: DataFrame,
      m: Int,
      queryPred: Column,
      topK: Int,
      shortlist: Int = Shortlist): DataFrame = {
    val codes = encode(emb, cb, m)
    val tbl = adcTable(emb, cb, m, queryPred)
    val cand = codes
      .join(broadcast(tbl),
        col("sub_id") === col("t_sub") && col("code") === col("t_cent"))
      .filter(col("vec_id") =!= col("t_q"))
      .select(col("t_q").as("q_id"), col("vec_id").as("c_id"),
        col("sub_id"), col("pdot"))
    val queries = raw.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    rerankExact(keepShortlist(adcScore(cand, "q_id", "c_id"), shortlist),
      raw, queries, topK)
  }
}
