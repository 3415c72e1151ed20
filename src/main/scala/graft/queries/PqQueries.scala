package graft.queries

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Pq

/** Product-quantization ANN queries — the compressed-index scale path for
  * embedding search (16 bytes/vector codes, ADC scan, exact re-rank of a
  * 64-candidate shortlist). See [[graft.ops.Pq]] for the cost model and
  * the cross-engine determinism contract the oracles rely on.
  */
object PqQueries {

  private def normalizedEmb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), Pq.normalized(col("embedding")).as("embedding"))

  val all: Seq[QueryDef] = Seq(

    // ---- PQ encoding gate: the per-subspace k-means codebooks and the
    //      code assignment, checked in isolation (one CSV row per vector;
    //      the full search path is gated by q_knn_pq below). ----
    QueryDef.sql(
      "q_pq_codes",
      s"""WITH ${OraclePq.codesCtes}
         |SELECT vec_id,
         |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub_id) AS code_csv
         |FROM codes GROUP BY vec_id""".stripMargin
    ) { (s, d) =>
      val emb = normalizedEmb(s, d)
      val k = Pq.chooseKsub(emb.count())
      val cb = Pq.codebooks(emb, Pq.M, k, iters = 2)
      Pq.encode(emb, cb, Pq.M)
        .groupBy(col("vec_id"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(sub_id, code))), s -> CAST(s.code AS STRING)), ',')")
          .as("code_csv"))
    },

    // ---- PQ ANN end-to-end: ADC shortlist over the codes (approximate
    //      cosine = ordered fold of m broadcast-table lookups), exact
    //      cosine re-rank of the shortlist. The oracle unrolls the
    //      identical codebooks + codes + ADC, so the gate checks the
    //      whole compressed-search path; PqSpec pins the quality side
    //      (recall@5 vs q_knn_brute). ----
    QueryDef.sql(
      "q_knn_pq", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        s"""WITH ${OraclePq.codesCtes},
           |tbl AS (
           |  SELECT q.vec_id AS q_id, q.sub_id, c.cent_id,
           |    ${OracleVec.dot("q.sub_emb", "c.cent_emb")} AS pdot
           |  FROM sq q JOIN pcb2 c ON c.sub_id = q.sub_id WHERE q.vec_id < 10
           |), adc AS (
           |  SELECT t.q_id, co.vec_id AS c_id, list(t.pdot ORDER BY t.sub_id) AS ps
           |  FROM codes co JOIN tbl t
           |    ON t.sub_id = co.sub_id AND t.cent_id = co.code
           |  WHERE co.vec_id <> t.q_id
           |  GROUP BY t.q_id, co.vec_id
           |), sc AS (
           |  SELECT q_id, c_id,
           |    list_reduce(list_prepend(0e0, ps), (acc, v) -> acc + v) AS score_pq
           |  FROM adc
           |), short AS (
           |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY score_pq DESC, c_id) AS srk FROM sc)
           |  WHERE srk <= ${Pq.Shortlist}
           |), rr AS (
           |  SELECT s.q_id, s.c_id, s.score_pq,
           |    ${cosDuck("qe.embedding", "ce.embedding")} AS cosine
           |  FROM short s JOIN embeddings qe ON qe.vec_id = s.q_id
           |               JOIN embeddings ce ON ce.vec_id = s.c_id
           |)
           |SELECT q_id, c_id, score_pq, cosine, CAST(rank AS BIGINT) AS rank
           |FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cosine DESC, c_id) AS rank FROM rr)
           |WHERE rank <= 5""".stripMargin
      }
    ) { (s, d) =>
      val raw = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val emb = normalizedEmb(s, d)
      val k = Pq.chooseKsub(emb.count())
      val cb = Pq.codebooks(emb, Pq.M, k, iters = 2)
      Pq.search(emb, raw, cb, Pq.M, col("vec_id") < 10, topK = 5)
    },

    // ---- IVF-PQ composition: coarse k-means cells prune to nprobe=4
    //      cells per query, 16-byte PQ codes answer the in-cell scan by
    //      ADC, exact re-rank of the 32-candidate shortlist. The oracle
    //      replays BOTH index chains (the q_knn_ivf coarse Lloyd unroll
    //      and the q_knn_pq subspace unroll) plus the composition, so
    //      the gate checks the full production-ANN shape end-to-end.
    //      [[graft.ops.IvfPq]] has the 10^9-row cost model. ----
    QueryDef.sql(
      "q_knn_ivfpq",
      // the whole two-chain unroll lives in OraclePq.ivfpqSearchCtes,
      // shared with q_knn_classify_ann's oracle
      s"""WITH ${OraclePq.ivfpqSearchCtes("vec_id < 10", nprobe = 4, shortlist = 32)}
         |SELECT q_id, c_id, score_pq, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    ) { (s, d) =>
      import graft.ops.IvfPq
      val raw = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val norm = normalizedEmb(s, d)
      val idx = IvfPq.build(raw, norm)
      IvfPq.search(idx, raw, Pq.M, col("vec_id") < 10,
        nprobe = 4, topK = 5, shortlist = 32)
    }.intendsNestedLoop(
      "broadcast sides are the sqrt(n) coarse codebook and the " +
        "(queries x m x k) ADC table"),

    // ---- RESIDUAL IVF-PQ: the clustered-corpus variant — PQ codebooks
    //      trained on x_norm − c(cell) (c = the cell's exact fixed-point
    //      mean of the normalized members), ADC reconstructs q·x as
    //      q·(x−c)̂ + the EXACT per-(query, probed-cell) scalar q·c.
    //      Quantization error drops to the within-cell scale — on the
    //      131k mixture corpus plain-PQ recall@10 collapses to 0.08
    //      (same-cluster codes indistinguishable) where this variant
    //      recovers it (BASELINE.md r8). Oracle replays the coarse
    //      chain, the residual Lloyd chain, the correction term and the
    //      re-rank end-to-end ----
    QueryDef.sql(
      "q_knn_ivfpq_res",
      s"""WITH ${OraclePq.ivfpqResSearchCtes("vec_id < 10", nprobe = 4, shortlist = 32)}
         |SELECT q_id, c_id, score_pq, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    ) { (s, d) =>
      import graft.ops.IvfPq
      val raw = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val idx = IvfPq.buildResidual(raw)
      IvfPq.searchResidual(idx, raw, Pq.M, col("vec_id") < 10,
        nprobe = 4, topK = 5, shortlist = 32)
    }.intendsNestedLoop(
      "broadcast sides are the sqrt(n) coarse codebook, the cell-mean " +
        "frame, the probe set, and the (queries x m x k) ADC table"),

    // ---- Johnson-Lindenstrauss random projection: 64 -> 16 dims via the
    //      deterministic hyperplane family of the LSH bucketer (offset
    //      j+64 so the projection planes are disjoint from the LSH
    //      bucket planes), scaled 1/sqrt(16) = exact /4. Row-local, zero
    //      shuffle — the cheap precursor that cuts every downstream
    //      distance computation 4x. Output quantized to a CSV scalar
    //      (driver harness cannot sort raw arrays). ----
    QueryDef.sql(
      "q_project_embeddings", {
        val ProjDims = 16
        s"""SELECT vec_id,
           |  string_agg(CAST(CAST(floor(pv / 4e0 * 1e6) AS BIGINT) AS VARCHAR),
           |             ',' ORDER BY j) AS proj_q6
           |FROM (
           |  SELECT e.vec_id, t.j,
           |    list_reduce(list_prepend(0e0, list_transform(range(1, len(e.embedding) + 1),
           |      i -> CAST(e.embedding[i] AS DOUBLE)
           |        * ((((i * (1000003 + (t.j + 64) * 7919)) + ((t.j + 64) * 271 + 17)) % 1000) * 1e-3 - 5e-1))),
           |      (acc, x) -> acc + x) AS pv
           |  FROM embeddings e, range(0, $ProjDims) t(j)
           |) GROUP BY vec_id""".stripMargin
      }
    ) { (s, d) =>
      import graft.functions.VecOps.planeDot
      val comps = (0 until 16).map { j =>
        val jj = j + 64
        floor(planeDot(col("embedding"), 1000003 + jj * 7919, jj * 271 + 17)
          / lit(4.0) * lit(1e6)).cast("string")
      }
      Tables.embeddings(s, d)
        .select(col("vec_id"), concat_ws(",", array(comps: _*)).as("proj_q6"))
    },

    // ---- Distributed PCA (see ops.PcaPower): centered Gram matrix by
    //      row-local d^2 term generation + one d^2-key partial-agg
    //      shuffle, then an 8-round fixed-point power iteration over the
    //      d x d metadata, then a broadcast projection of every vector
    //      onto the dominant component — all exact int64, oracle unrolls
    //      the identical recurrence. The data-adaptive counterpart to
    //      the fixed JL projection above ----
    QueryDef.sql(
      "q_pca_power",
      s"WITH ${graft.ops.PcaPower.oracleSql(d = 64, iters = 8)}"
    ) { (s, d) =>
      graft.ops.PcaPower.project(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        d = 64, iters = 8)
      // no plan intent: the 1-row rescale cross joins all live inside
      // construction-time materialized rounds; the FINAL plan is just the
      // broadcast projection join + one partial-aggregable groupBy
    },

    // ---- Incremental PCA maintenance: the centered-Gram statistics are
    //      exact integer sums, so folding a new corpus slice in
    //      (PcaPower.mergeStats) is BIT-IDENTICAL to a full recompute —
    //      the oracle is literally q_pca_power's full-corpus unroll. The
    //      append pattern every 100 TB index needs: the historical
    //      corpus is never re-scanned, only the delta's one Gram pass
    //      runs ----
    QueryDef.sql(
      "q_pca_incr",
      s"WITH ${graft.ops.PcaPower.oracleSql(d = 64, iters = 8)}"
    ) { (s, d) =>
      import graft.ops.PcaPower
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val delta = emb.filter(col("vec_id") % 3 === 0)
      PcaPower.projectWith(
        PcaPower.mergeStats(PcaPower.stats(base), PcaPower.stats(delta)),
        emb, d = 64, iters = 8)
    },

    // ---- Top-2 PCA by Hotelling deflation (see PcaPower.projectTop2):
    //      PC1 chain, integer residual q' = q - trunc(dot(q,v1)·v1 /
    //      dot(v1,v1)) (row-local once v1 broadcasts), second
    //      Gram/power chain over the residuals, PC2 = residual·v2. The
    //      oracle stacks two prefixed chain unrolls — the whole 2-d
    //      embedding map is exact int64 ----
    QueryDef.sql(
      "q_pca2",
      s"WITH ${graft.ops.PcaPower.oracleTop2Sql(d = 64, iters = 8)}"
    ) { (s, d) =>
      graft.ops.PcaPower.projectTop2(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        d = 64, iters = 8)
    },

    // ---- Top-k PCA by LOOPED Hotelling deflation (see
    //      PcaPower.projectTopK): k=3 components — chain c runs over
    //      the (c-1)-th checkpointed residual corpus, projections are
    //      exact int64 end to end, and the oracle stacks three prefixed
    //      chain unrolls. k corpus passes, never an eigendecomposition,
    //      never a collect — the embedding-map shape that holds at any
    //      corpus size ----
    QueryDef.sql(
      "q_pca_topk",
      s"WITH ${graft.ops.PcaPower.oracleTopKSql(d = 64, k = 3, iters = 8)}"
    ) { (s, d) =>
      graft.ops.PcaPower.projectTopK(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        d = 64, k = 3, iters = 8)
    }
  )
}
