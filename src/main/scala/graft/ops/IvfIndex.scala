package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.queries.Num

/** IVF (inverted-file) approximate nearest-neighbour index: a coarse
  * k-means codebook partitions the corpus into cells; a query scores only
  * the vectors in its `nprobe` nearest cells — the standard trade of
  * recall for a bounded candidate set.
  *
  * Everything here is DETERMINISTIC and cross-engine reproducible, so the
  * DuckDB oracle (`ExtQueries.q_knn_ivf`) derives the *identical* codebook:
  *
  *   - seeds: the k vectors with the smallest (md5(vec_id), vec_id) sort
  *     key — a pseudo-random but order-stable spread, independent of
  *     partitioning (no rand(), no takeSample);
  *   - Lloyd iterations: assignment by max cosine (ties -> lowest
  *     cent_id), centroid update as a per-component mean computed with the
  *     fixed-point exact sum of [[graft.queries.Num]] — summation-order
  *     independent, so any partitioning/parallelism yields bit-identical
  *     centroids;
  *   - empty cells drop out of the update on both engines identically.
  *
  * Scale: the codebook is index metadata (k ~ sqrt(n) rows) — it is
  * collected and ships in the stage's task binary, so assignment is one
  * pass over the corpus (no shuffle of the vectors); the update
  * shuffles (cent_id, pos) partial sums only (k * dim groups). Search
  * shuffles nothing on the corpus side: probes broadcast, candidates
  * stream. At n = 10^9 and k = 31623, a cell holds ~31k vectors, so
  * nprobe=8 scans ~250k candidates per query vs 10^9 brute — while
  * codebook build is iters * (one scan + one k*dim-group aggregate).
  */
object IvfIndex {

  /** k ~ sqrt(n), floor 4 — ceil(sqrt) is IEEE-identical across engines. */
  def chooseK(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Deterministic seeded k-means codebook: (cent_id, cent_emb).
    * `emb` must have (vec_id: long, embedding: array&lt;float|double&gt;).
    */
  def codebook(emb: DataFrame, k: Int, iters: Int = 2): DataFrame = {
    // top-k by (md5, vec_id) is a distributed TakeOrdered, not a global
    // sort; the row_number window then runs on k rows only (k ~ sqrt(n))
    val seeds = emb
      .select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
    val wk = Window.orderBy(col("hk"), col("vec_id"))
    // materialized from round 0, so the returned codebook is always a
    // local relation — the seed collect is the k rows the first assign
    // would collect anyway
    var cb: DataFrame = materialize(seeds
      .withColumn("cent_id", row_number().over(wk).cast("long") - 1)
      .select(col("cent_id"), col("embedding").as("cent_emb")))
    for (_ <- 0 until iters) {
      val a = assign(emb, cb)
      // materialize between iterations: the codebook is k ~ sqrt(n) rows
      // of index metadata (the same payload the next assign collects
      // anyway), and cutting the lineage here keeps every downstream use
      // from re-executing — and whole-stage-recompiling — the full
      // accumulated Lloyd subtree (the dominant cold cost of q_knn_ivf)
      cb = materialize(a
        .select(col("cent_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        // fixed-point exact mean: (double)sum(floor(x*1e6)) / 1e6 / count —
        // same op order as the oracle, independent of summation order
        .agg((Num.dsum(col("x")) / count(lit(1))).as("val"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, val))), s -> s.val)")
          .as("cent_emb")))
    }
    cb
  }

  /** Collect the codebook and rebuild it as a local relation — k ~ sqrt(n)
    * rows of index metadata. Cuts the k-means lineage so each downstream
    * use does not re-execute the Lloyd iterations, without pinning a
    * cache entry in the session for the codebook's lifetime.
    */
  def materialize(cb: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(cb.collect(): _*)
    cb.sparkSession.createDataFrame(rows, cb.schema)
  }

  /** cosine(a, b) with the two norms precomputed: dot(a,b)/(na*nb). The
    * VALUE is bit-identical to [[VecOps.cosine]] (each dot is a
    * deterministic fold and sqrt is correctly rounded), but the
    * candidate-scoring hot loop pays ONE fold per candidate instead of
    * three — one norm per corpus row, one per probing query.
    */
  private def cosineCached(a: Column, na: Column, b: Column, nb: Column): Column =
    VecOps.vecDot(a, b) / (na * nb)

  private def withNorm(df: DataFrame, vec: String, as: String): DataFrame =
    df.withColumn(as, sqrt(VecOps.vecDot(col(vec), col(vec))))

  /** Nearest-cell assignment: (emb.*, cent_id); ties -> lowest cent_id.
    *
    * The codebook is collected (k ~ sqrt(n) rows of index metadata;
    * driver-only when `cb` is already a local relation) and the argmax
    * runs row-locally over it ([[graft.functions.AnnAssign.ivfCell]]):
    * zero exchanges, no n*k candidate rows. Scores and the
    * (cs DESC, cent_id) tie-break are those of the oracle.
    */
  def assign(emb: DataFrame, cb: DataFrame): DataFrame =
    emb.withColumn("cent_id",
      graft.functions.AnnAssign.ivfCell(col("embedding"), localBook(cb)))
      .select(emb.columns.toSeq.map(col) :+ col("cent_id"): _*)

  /** The collected [[graft.functions.AnnAssign.CentBook]] of a codebook
    * frame (cent_id, cent_emb).
    */
  private[ops] def localBook(cb: DataFrame): graft.functions.AnnAssign.CentBook =
    graft.functions.AnnAssign.centBook(cb.collect())

  /** Top-`topK` cosine neighbours for each query row (rows matching
    * `queryPred`), probing the `nprobe` nearest cells. Output:
    * (q_id, c_id, cosine, rank).
    */
  def search(
      emb: DataFrame,
      cb: DataFrame,
      queryPred: Column,
      nprobe: Int,
      topK: Int): DataFrame =
    searchWith(
      assign(emb, cb),
      cb,
      emb.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      nprobe, topK)

  /** Answer EXTERNAL query vectors `(q_id, q_emb)` against an already
    * cell-assigned corpus — the serving-path entry point (the corpus
    * assignment is the index; queries are whoever shows up). A candidate
    * with c_id == q_id is excluded (corpus-member queries must not match
    * themselves); callers with an unrelated query id space should not
    * reuse corpus ids.
    */
  def searchWith(
      assigned: DataFrame,
      cb: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      topK: Int): DataFrame = {
    // probes are scored from a queries-only cross join (queries x k rows),
    // NOT by re-filtering the corpus-wide assignment — the full corpus
    // pays exactly ONE pass over the codebook; identical scores either way
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cs").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cb))
      .withColumn("cs", VecOps.cosine(col("q_emb"), col("cent_emb")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cent_id").as("probe_cent"))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    // candidate scoring is the hot path (every vector in every probed
    // cell): norms cached per side, one fold per candidate
    withNorm(assigned, "embedding", "e_nrm")
      .join(broadcast(withNorm(probes, "q_emb", "q_nrm")),
        col("cent_id") === col("probe_cent"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        cosineCached(col("q_emb"), col("q_nrm"), col("embedding"), col("e_nrm"))
          .as("cosine"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
  }
}
