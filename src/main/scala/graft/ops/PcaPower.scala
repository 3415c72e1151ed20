package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA by fixed-point power iteration — the
  * embedding-whitening / dimensionality-analysis pass of an embedding
  * pipeline (project every vector onto the dominant principal component;
  * the same machinery extends to top-k by deflation).
  *
  * Reference scope: extension surface (no linear algebra anywhere in
  * the reference); sits next to the JL projection and int8 quantization
  * in the embedding tier.
  *
  * Numeric contract — exact integer arithmetic end to end, so the run
  * is bit-identical at any parallelism and in the DuckDB oracle:
  *  - quantize: q_i = floor(x_i * 1e4) (row-local, the only float op;
  *    floor of an IEEE multiply is identical cross-engine),
  *  - centered Gram: C_ij = n * sum(q_i q_j) - S_i S_j (all int64),
  *  - rescale to A_ij = trunc-div(C_ij, max|C| div 1e6 + 1), so
  *    |A| <= 1e6; division truncates toward zero on BOTH engines,
  *  - power rounds from v0 = all-ones * 1e6: u = A v, then renormalize
  *    v' = trunc-div(u, max|u| div 1e6 + 1). Covariance is PSD, so the
  *    iteration converges toward the dominant eigenvector (up to the
  *    deterministic fixed-point truncation, which both engines share).
  *
  * Scale shape (r9 optimization — guide §1.2 "the distributed
  * algorithm" + §2.3 "aggregate before you shuffle"): the Gram pass is
  * the ONLY corpus-touching work, and it is a per-partition primitive
  * d x d accumulation folded with `treeAggregate` — the classic
  * distributed-Gramian shape (per-partition outer-product partials,
  * log-depth combine). What reaches the driver is d^2 + d int64s of
  * INDEX METADATA (d = 64: 33 KiB), independent of corpus size n — the
  * same bounded-metadata convention as [[IvfIndex.materialize]]'s
  * sqrt(n) codebooks. The d x d power iteration then runs driver-local
  * (pure int64 recurrence, microseconds) instead of 8 Spark rounds over
  * d^2-row frames, and the projection / Hotelling-residual steps are
  * ROW-LOCAL expressions over the broadcast-as-literal eigenvector —
  * zero shuffles touch the corpus anywhere. (The r8 shape generated the
  * d^2 product terms with a double posexplode through a hash aggregate
  * — n * d^2 generated rows paying a hash probe each — and ran the
  * power rounds as 8 materialized Spark jobs; measured 13.0/8.5/4.4/4.1
  * s for topk/2/incr/power at sf0.1.) Int64 headroom unchanged:
  * |C| <= 2 n^2 scale^2 must stay inside 2^63 — at scale=1e4 that
  * bounds n at ~2e5 worst-case vectors (unit-norm embeddings sit far
  * below the bound); lower the quantization scale for larger corpora
  * (the contract names the precision, not the representation — same
  * convention as [[PageRank]]).
  */
object PcaPower {

  /** Truncate-toward-zero division (identical in Spark and DuckDB for
    * any sign): sign(x) * (abs(x) div d), d > 0.
    */
  private def tdivL(x: Long, d: Long): Long =
    if (x < 0) -((-x) / d) else x / d

  /** Sufficient statistics for the centered Gram matrix — EXACTLY
    * additive across corpus slices (integer sums), which is what makes
    * the incremental path below identical to a full recompute. `gram`
    * is the dense row-major d x d product-sum matrix, `sums` the
    * per-component sums — d^2 + d int64s of index metadata (NOT corpus
    * data; d is a small constant).
    */
  final case class Stats(gram: Array[Long], sums: Array[Long], n: Long) {
    def d: Int = sums.length
  }

  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))")
        .as("qarr"))

  /** Statistics from a quantized (vec_id, qarr) frame: ONE pass — each
    * partition accumulates its exact-integer partial Gram/sums into
    * primitive arrays, `treeAggregate` combines them in log depth, and
    * only the d^2-sized partials ever move. Integer sums are
    * order-independent, so the result is bit-identical at any
    * parallelism (and to the r8 hash-aggregate form).
    */
  private def statsFromQ(q: DataFrame): Stats = {
    val spark = q.sparkSession
    import spark.implicits._
    val rdd = q.select(col("qarr")).as[Array[Long]].rdd
    val (g, s, n) = rdd.treeAggregate(
      (null: Array[Long], null: Array[Long], 0L))(
      seqOp = { case ((g0, s0, n0), arr) =>
        val d = arr.length
        val g = if (g0 == null) new Array[Long](d * d) else g0
        val s = if (s0 == null) new Array[Long](d) else s0
        var i = 0
        while (i < d) {
          val qi = arr(i)
          s(i) += qi
          val base = i * d
          var j = 0
          while (j < d) { g(base + j) += qi * arr(j); j += 1 }
          i += 1
        }
        (g, s, n0 + 1L)
      },
      combOp = { case ((g1, s1, n1), (g2, s2, n2)) =>
        if (g1 == null) (g2, s2, n1 + n2)
        else if (g2 == null) (g1, s1, n1 + n2)
        else {
          var i = 0
          while (i < g1.length) { g1(i) += g2(i); i += 1 }
          i = 0
          while (i < s1.length) { s1(i) += s2(i); i += 1 }
          (g1, s1, n1 + n2)
        }
      })
    Stats(
      if (g == null) Array.empty[Long] else g,
      if (s == null) Array.empty[Long] else s, n)
  }

  /** One corpus read -> additive statistics (the quantized frame is
    * checkpointed so the Gram pass and any later projection share a
    * single scan of the source).
    */
  def stats(emb: DataFrame): Stats = statsFromQ(Iterate.materialize(quantized(emb)))

  /** Fold a new corpus slice into existing statistics — the incremental
    * index-maintenance path (the [[IvfPq]] append / [[Rollup]] merge
    * convention): integer sums are exactly additive, so the merged
    * statistics — and everything derived from them — are BIT-IDENTICAL
    * to a full recompute over the union.
    */
  def mergeStats(a: Stats, b: Stats): Stats = {
    if (a.n == 0) b
    else if (b.n == 0) a
    else {
      require(a.d == b.d, "dimension mismatch in Stats merge")
      val g = a.gram.clone(); val s = a.sums.clone()
      var i = 0
      while (i < g.length) { g(i) += b.gram(i); i += 1 }
      i = 0
      while (i < s.length) { s(i) += b.sums(i); i += 1 }
      Stats(g, s, a.n + b.n)
    }
  }

  /** Fixed-point dominant eigenvector of the centered Gram described by
    * `st` — the d x d / d-vector recurrence runs driver-local over the
    * collected metadata (the SAME integer ops, in the same order, as
    * the r8 Spark-round form and the DuckDB unroll: integer sums are
    * order-free, max is order-free, tdiv is pointwise).
    * Its input is the d x d moments, bounded by construction, so it
    * takes no `LocalTail` gate.
    */
  private def eigvecLocal(st: Stats, d: Int, iters: Int): Array[Long] = {
    require(d >= 2 && iters >= 1)
    require(st.n == 0 || st.d == d, s"stats dimension ${st.d} != $d")
    val c = new Array[Long](d * d)
    var m = 0L
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        val v =
          if (st.n == 0) 0L
          else st.n * st.gram(i * d + j) - st.sums(i) * st.sums(j)
        c(i * d + j) = v
        val a = math.abs(v)
        if (a > m) m = a
        j += 1
      }
      i += 1
    }
    val dv = m / 1000000L + 1L
    val a = c.map(tdivL(_, dv))
    var v = Array.fill(d)(1000000L)
    var it = 0
    while (it < iters) {
      val u = new Array[Long](d)
      var mu = 0L
      i = 0
      while (i < d) {
        var acc = 0L
        val base = i * d
        var j = 0
        while (j < d) { acc += a(base + j) * v(j); j += 1 }
        u(i) = acc
        val au = math.abs(acc)
        if (au > mu) mu = au
        i += 1
      }
      val dvu = mu / 1000000L + 1L
      v = u.map(tdivL(_, dvu))
      it += 1
    }
    v
  }

  /** Row-local exact-integer dot of the `qarr` column with the literal
    * eigenvector — the projection needs NO join and NO shuffle.
    */
  private def dotExpr(v: Array[Long]): Column =
    expr(s"aggregate(zip_with(qarr, array(${v.mkString("L, ")}L), " +
      "(q, vi) -> q * vi), 0L, (acc, x) -> acc + x)")

  /** Row-local Hotelling residual: q_i - tdiv(pc * v_i, max(vv, 1)),
    * with pc this row's already-computed projection column.
    */
  private def residExpr(v: Array[Long], vv: Long, pcCol: String): Column = {
    val den = math.max(vv, 1L)
    expr(s"zip_with(qarr, array(${v.mkString("L, ")}L), (q, vi) -> " +
      s"q - (CASE WHEN ($pcCol * vi) < 0 " +
      s"THEN -((-($pcCol * vi)) div ${den}L) " +
      s"ELSE ($pcCol * vi) div ${den}L END))")
  }

  /** Project every embedding onto the dominant principal component.
    * Input: (vec_id, embedding: array<float|double>) with fixed
    * dimension `d`. Output: (vec_id, pc1_fp) — the exact integer
    * projection sum(q_i * v_i) onto the converged fixed-point
    * eigenvector.
    */
  def project(emb: DataFrame, d: Int, iters: Int = 8): DataFrame = {
    // ONE checkpointed quantized frame feeds the Gram pass AND the
    // final projection — a single read of the source
    val q = Iterate.materialize(quantized(emb))
    val v = eigvecLocal(statsFromQ(q), d, iters)
    q.select(col("vec_id"), dotExpr(v).as("pc1_fp"))
  }

  /** [[project]] from precomputed (possibly incrementally merged)
    * statistics; the corpus is read once, for the projection only.
    */
  def projectWith(
      st: Stats, emb: DataFrame, d: Int, iters: Int): DataFrame = {
    val v = eigvecLocal(st, d, iters)
    quantized(emb).select(col("vec_id"), dotExpr(v).as("pc1_fp"))
  }

  /** Top-2 components by deflation — see [[projectTopK]]. */
  def projectTop2(emb: DataFrame, d: Int, iters: Int = 8): DataFrame =
    projectTopK(emb, d, k = 2, iters)

  /** Top-k components by looped Hotelling deflation: component c's
    * eigenvector comes from a Gram pass over the (c-1)-th residual
    * corpus, its projection pc{c}_fp is `residual_(c-1) . v_c`, and the
    * next residual is q' = q - tdiv(dot(q, v_c) * v_c_i, dot(v_c, v_c))
    * — both ROW-LOCAL once v_c is a literal (greatest(vv, 1) guards the
    * degenerate all-equal corpus where v_c = 0, so residuals degrade to
    * the input instead of NULLing out). Output:
    * (vec_id, pc1_fp .. pc{k}_fp), all exact int64 — the oracle stacks
    * k prefixed chain unrolls.
    *
    * Scale shape: k treeAggregate Gram passes + k row-local projection
    * columns over ONE evolving checkpointed frame; each residual corpus
    * is checkpointed so chain c+1 starts from rows, not a k-deep
    * lineage. k is a small constant (an embedding map wants 2-10
    * components), so the cost is k * the single-component pass — never
    * a d^3 eigendecomposition and never a corpus-sized collect (the
    * driver only ever holds the d^2 metadata).
    */
  def projectTopK(emb: DataFrame, d: Int, k: Int, iters: Int = 8): DataFrame = {
    require(k >= 1 && k <= d)
    var cur = Iterate.materialize(quantized(emb)) // (vec_id, qarr, pc1.., qarr')
    for (c <- 1 to k) {
      val v = eigvecLocal(statsFromQ(cur), d, iters)
      // the projection IS the deflation coefficient — computed once,
      // reused as both the output column and the residual's dq
      cur = cur.withColumn(s"pc${c}_fp", dotExpr(v))
      if (c < k) {
        var vv = 0L
        v.foreach(x => vv += x * x) // d * 1e12 — far inside int64
        val prev = cur
        cur = Iterate.materialize(
          cur.withColumn("qarr", residExpr(v, vv, s"pc${c}_fp")))
        prev.unpersist()
      }
    }
    cur.select(col("vec_id") +: (1 to k).map(c => col(s"pc${c}_fp")): _*)
  }

  private def tdivDuck(x: String, dv: String): String =
    s"(CASE WHEN $x < 0 THEN -((-($x)) // ($dv)) ELSE ($x) // ($dv) END)"

  /** The quantized explode CTE `expl` from `embeddings`. */
  private def explDuck(d: Int): String =
    s"""expl AS MATERIALIZED (
       |  SELECT vec_id, CAST(t.i AS BIGINT) AS i,
       |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1e4) AS BIGINT) AS q
       |  FROM embeddings, range(1, ${d + 1}) t(i)
       |)""".stripMargin

  /** One Gram + power-iteration chain from an (vec_id, i, q) CTE named
    * `src`, every CTE name prefixed with `p` so chains can stack (the
    * deflation oracle runs two). Final eigenvector CTE: `${p}v$iters`.
    */
  private def chainDuck(p: String, src: String, d: Int, iters: Int): String = {
    val head =
      s"""${p}sn AS MATERIALIZED (
         |  SELECT i, CAST(sum(q) AS BIGINT) AS s FROM $src GROUP BY i
         |), ${p}nn AS (SELECT count(DISTINCT vec_id) AS n FROM $src),
         |${p}g AS MATERIALIZED (
         |  SELECT a.i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
         |  FROM $src a JOIN $src b USING (vec_id) GROUP BY 1, 2
         |), ${p}c AS MATERIALIZED (
         |  SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS c
         |  FROM ${p}g g CROSS JOIN ${p}nn nn
         |  JOIN ${p}sn sa ON sa.i = g.i JOIN ${p}sn sb ON sb.i = g.j
         |), ${p}ma AS (SELECT max(abs(c)) AS m FROM ${p}c),
         |${p}am AS MATERIALIZED (
         |  SELECT i, j, ${tdivDuck("c", "m // 1000000 + 1")} AS a
         |  FROM ${p}c CROSS JOIN ${p}ma
         |), ${p}v0 AS (
         |  SELECT CAST(t.i AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS v
         |  FROM range(1, ${d + 1}) t(i)
         |)""".stripMargin
    val steps = (1 to iters).map { r =>
      s"""${p}u$r AS MATERIALIZED (
         |  SELECT am.i, CAST(sum(am.a * v.v) AS BIGINT) AS u
         |  FROM ${p}am am JOIN ${p}v${r - 1} v ON v.i = am.j GROUP BY am.i
         |), ${p}mu$r AS (SELECT max(abs(u)) AS m FROM ${p}u$r),
         |${p}v$r AS MATERIALIZED (
         |  SELECT i, ${tdivDuck("u", "m // 1000000 + 1")} AS v
         |  FROM ${p}u$r CROSS JOIN ${p}mu$r
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The identical computation as DuckDB CTEs over `embeddings`
    * (vec_id, embedding) — the oracle twin of [[project]]; kept
    * adjacent so the quantization/rescale steps cannot drift.
    */
  def oracleSql(d: Int, iters: Int = 8): String =
    Seq(explDuck(d), chainDuck("", "expl", d, iters)).mkString(",\n") +
      s"""
         |SELECT e.vec_id, CAST(sum(e.q * v.v) AS BIGINT) AS pc1_fp
         |FROM expl e JOIN v$iters v ON v.i = e.i
         |GROUP BY e.vec_id""".stripMargin

  /** Oracle twin of [[projectTop2]]: first chain, Hotelling residual
    * (truncated rational projection), second chain over the residuals,
    * both projections.
    */
  def oracleTop2Sql(d: Int, iters: Int = 8): String =
    Seq(
      explDuck(d),
      chainDuck("", "expl", d, iters),
      s"""vv AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM v$iters),
         |dq AS MATERIALIZED (
         |  SELECT e.vec_id, CAST(sum(e.q * v.v) AS BIGINT) AS dq
         |  FROM expl e JOIN v$iters v ON v.i = e.i GROUP BY e.vec_id
         |), expl2 AS MATERIALIZED (
         |  SELECT e.vec_id, e.i,
         |    e.q - ${tdivDuck("dq.dq * v.v", "greatest(vv.vv, 1)")} AS q
         |  FROM expl e JOIN v$iters v ON v.i = e.i
         |  JOIN dq ON dq.vec_id = e.vec_id CROSS JOIN vv
         |)""".stripMargin,
      chainDuck("p2", "expl2", d, iters)
    ).mkString(",\n") +
      s"""
         |SELECT dq.vec_id, dq.dq AS pc1_fp, p2.pc2_fp FROM dq
         |JOIN (
         |  SELECT e.vec_id, CAST(sum(e.q * v.v) AS BIGINT) AS pc2_fp
         |  FROM expl2 e JOIN p2v$iters v ON v.i = e.i GROUP BY e.vec_id) p2
         |  ON p2.vec_id = dq.vec_id""".stripMargin

  /** Oracle twin of [[projectTopK]]: k stacked prefixed chains, each
    * followed by its projection CTE and (below k) the truncated-rational
    * Hotelling residual feeding the next chain.
    */
  def oracleTopKSql(d: Int, k: Int, iters: Int = 8): String = {
    require(k >= 1 && k <= d)
    val parts = scala.collection.mutable.ArrayBuffer(explDuck(d))
    for (c <- 1 to k) {
      val pfx = if (c == 1) "" else s"p$c"
      val src = if (c == 1) "expl" else s"expl$c"
      parts += chainDuck(pfx, src, d, iters)
      parts +=
        s"""dq$c AS MATERIALIZED (
           |  SELECT e.vec_id, CAST(sum(e.q * v.v) AS BIGINT) AS pc${c}_fp
           |  FROM $src e JOIN ${pfx}v$iters v ON v.i = e.i
           |  GROUP BY e.vec_id
           |)""".stripMargin
      if (c < k) parts +=
        s"""vv$c AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM ${pfx}v$iters),
           |expl${c + 1} AS MATERIALIZED (
           |  SELECT e.vec_id, e.i,
           |    e.q - ${tdivDuck(s"dq$c.pc${c}_fp * v.v", s"greatest(vv$c.vv, 1)")} AS q
           |  FROM $src e JOIN ${pfx}v$iters v ON v.i = e.i
           |  JOIN dq$c ON dq$c.vec_id = e.vec_id CROSS JOIN vv$c
           |)""".stripMargin
    }
    parts.mkString(",\n") +
      s"""
         |SELECT dq1.vec_id, ${(1 to k).map(c => s"dq$c.pc${c}_fp").mkString(", ")}
         |FROM dq1 ${(2 to k).map(c => s"JOIN dq$c USING (vec_id)").mkString(" ")}""".stripMargin
  }
}
