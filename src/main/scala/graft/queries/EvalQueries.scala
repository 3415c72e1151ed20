package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{IvfIndex, Perceptron, RandomWalk}

/** Round-4 tier: retrieval evaluation and model-training operators —
  * the measurement half of the retrieval/curation stack (a 100 TB
  * pipeline that cannot score its own ANN index or train its own quality
  * classifier is flying blind).
  *
  * Reference scope: all extension surface (the reference has no
  * retrieval or training tier; its only model is the out-of-scope LSTM,
  * /root/reference/AI-LSTM/LSTM_Stock_Market_Prediction.py:41-54).
  * Cross-engine exactness throughout: ranks are integers, every score is
  * integer fixed point (`1e9 div (k + rank)` etc.), and the two
  * iterative operators ([[graft.ops.Perceptron]],
  * [[graft.ops.RandomWalk]]) run in pure integer / hash arithmetic with
  * the recurrence unrolled in the DuckDB oracle.
  */
object EvalQueries {

  /** q_interleave draft rounds — shared by the coin array, the Scala
    * draft fold, and the oracle recursion (they must agree: the fold
    * indexes coins(r) for r < rounds).
    */
  private val interleaveRounds = 5


  /** nDCG discount weights floor(1e9/log2(i+1)), i = 1..10, and their
    * prefix sums — INTEGER LITERALS shared by the Spark side and the
    * DuckDB oracle of q_ndcg so the two cannot drift.
    */
  private val DcgW: Seq[Long] = Seq(1000000000L, 630929753L, 500000000L,
    430676558L, 386852807L, 356207187L, 333333333L, 315464876L,
    301029995L, 289064826L)
  private val DcgCum: Seq[Long] = DcgW.scanLeft(0L)(_ + _).tail

  /** Shared classifier-scorer CTEs (DuckDB), ending in `sc(s, y)`:
    * s = the quantized integer floor(cos-to-class-0-centroid * 1e4)
    * (the fixed-point centroid-mean arithmetic of the q_centroid_classify
    * oracle), y = 1 iff label 0 — single-sourced between q_auc and
    * q_calibration so the scorer cannot drift between the two metrics.
    */
  private def scorerCtes: String = {
    val cos = OracleVec.cos("e.embedding", "cb.cent_emb")
    s"""cb AS (
       |  SELECT list(val ORDER BY pos) AS cent_emb FROM (
       |    SELECT pos,
       |      CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
       |        / 1e6 / CAST(count(*) AS DOUBLE) AS val
       |    FROM (
       |      SELECT unnest(embedding) AS x,
       |        unnest(range(1, len(embedding) + 1)) AS pos
       |      FROM embeddings WHERE label = 0)
       |    GROUP BY pos)
       |), sc AS (
       |  SELECT CAST(floor($cos * 1e4) AS BIGINT) AS s,
       |    CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS y
       |  FROM embeddings e CROSS JOIN cb
       |)""".stripMargin
  }

  /** Spark twin of [[scorerCtes]]'s `sc` frame: one corpus pass against
    * the broadcast 1-row class-0 centroid.
    */
  private def scored(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.VecOps
    import graft.ops.Classify
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val cb0 = IvfIndex.materialize(
      Classify.centroids(emb).filter(col("cent_id") === 0)
        .select(col("cent_emb")))
    emb.crossJoin(broadcast(cb0))
      .select(
        floor(VecOps.cosine(col("embedding"), col("cent_emb")) * 1e4)
          .cast("long").as("s"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
  }

  /** q_dist_drift's per-token contribution over columns (ca, cb, na,
    * nb, v), textually mirrored by its DuckDB oracle:
    * floor(ln((ca+1)(nb+v) / ((cb+1)(na+v))) * (ca+1) * 1e6 / (na+v)).
    *
    * Int64 headroom: the products (ca+1)*(nb+v) and (cb+1)*(na+v) must
    * stay under 2^63, roughly (max(ca, cb) + 1) * (na + nb + v) < 2^63,
    * so up to ~3e9 corpus tokens per side is always safe; ANSI mode makes
    * a breach a loud overflow error. Larger corpora score a hash-sampled
    * token stream (the q_sample_docs shape) or rescale both sides' counts
    * by a common power of two (the ranking is scale-invariant up to the
    * +1 smoothing).
    */
  private val klContrib: String =
    """CAST(floor(ln(((ca + 1) * (nb + v)) * 1e0 / ((cb + 1) * (na + v)))
      |  * (ca + 1) * 1e6 / (na + v)) AS BIGINT)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---- Recommendation-list diversity & coverage (Ziegler et al.
    //      2005 / Ge et al. 2010): the beyond-accuracy evals a
    //      recommender ships with — top-8 co-occurrence neighbor lists
    //      per part, then (a) aggregate CATALOG COVERAGE (what share of
    //      the catalog ever gets recommended — popularity-bias check)
    //      and (b) mean intra-list brand DIVERSITY (distinct brands /
    //      list size, quantized per list before the exact integer
    //      mean). Per-list rank rides WindowGroupLimit (partitioned by
    //      the anchor part, never corpus-wide); both metrics are
    //      bounded second-stage aggs ----
    QueryDef.sql(
      "q_rec_diversity",
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), co AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b,
        |    CAST(count(*) AS BIGINT) AS sup
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey <> y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), recs AS (
        |  SELECT a, b FROM (
        |    SELECT a, b,
        |      row_number() OVER (PARTITION BY a ORDER BY sup DESC, b) AS rn
        |    FROM co) WHERE rn <= 8
        |), lists AS (
        |  SELECT r.a, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(count(DISTINCT p.p_brand) AS BIGINT) AS nbrand
        |  FROM recs r JOIN part p ON p.p_partkey = r.b
        |  GROUP BY r.a
        |), cov AS (
        |  SELECT CAST(count(DISTINCT b) AS BIGINT) AS covered FROM recs
        |), cat AS (
        |  SELECT CAST(count(*) AS BIGINT) AS catalog FROM part
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_lists, cat.catalog,
        |  cov.covered,
        |  CAST(floor(cov.covered * 1e0 / cat.catalog * 1e6) AS BIGINT)
        |    AS coverage_fp,
        |  CAST(sum(CAST(floor(nbrand * 1e0 / nb * 1e6) AS BIGINT))
        |    AS BIGINT) // count(*) AS avg_intra_div_fp
        |FROM lists, cov, cat
        |GROUP BY cat.catalog, cov.covered""".stripMargin
    ) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val co = li.select(col("l_orderkey"), col("l_partkey").as("a"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("b")),
          "l_orderkey")
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
      val recs = co.withColumn("rn", row_number().over(
          Window.partitionBy(col("a"))
            .orderBy(col("sup").desc, col("b"))))
        .filter(col("rn") <= 8).select("a", "b")
      val lists = recs
        .join(Tables.part(s, d).select(col("p_partkey").as("b"),
          col("p_brand")), "b")
        .groupBy(col("a"))
        .agg(count(lit(1)).as("nb"),
          countDistinct(col("p_brand")).as("nbrand"))
      val cov = recs.agg(countDistinct(col("b")).as("covered"))
      val cat = Tables.part(s, d).agg(count(lit(1)).as("catalog"))
      lists
        // grouped (not global) aggregate: zero rows when `lists` is
        // empty, matching the oracle's GROUP BY semantics — a global
        // agg would emit a single (0, null) row only on the Spark side
        .groupBy(lit(1).as("g"))
        .agg(count(lit(1)).as("n_lists"),
          sum(expr("CAST(floor(nbrand * 1e0 / nb * 1e6) AS BIGINT)"))
            .as("divsum"))
        .drop("g")
        .crossJoin(broadcast(cov)).crossJoin(broadcast(cat))
        .selectExpr("n_lists", "catalog", "covered",
          "CAST(floor(covered * 1e0 / catalog * 1e6) AS BIGINT)" +
            " AS coverage_fp",
          "CAST(divsum AS BIGINT) div n_lists AS avg_intra_div_fp")
    }.intendsNestedLoop(
      "broadcast sides are the single-row coverage/catalog frames"),

    // ---- ANN index evaluation: recall@5 and fixed-point MRR of the
    //      IVF(nprobe=2) search against the brute-force ground truth,
    //      per query. THE retrieval-quality gate: run it after every
    //      index build/append; a recall regression means the codebook no
    //      longer covers the data distribution. Scale shape: ground
    //      truth only for the (bounded) query batch — corpus scanned
    //      once for brute scores, once through the cell-pruned IVF path;
    //      the comparison itself is a join over batch*k rows ----
    QueryDef.sql(
      "q_retrieval_eval", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        s"""WITH ${OracleKmeans.ivfSearchCtes(topK = 5)}, bp AS (
           |  SELECT q.vec_id AS q_id, e.vec_id AS c_id,
           |    ${cosDuck("q.embedding", "e.embedding")} AS cosine
           |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10
           |), gt AS MATERIALIZED (
           |  SELECT q_id, c_id, rank FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id
           |      ORDER BY cosine DESC, c_id) AS rank FROM bp) WHERE rank <= 5
           |), hit AS (
           |  SELECT gt.q_id, count(*) AS nhit
           |  FROM gt JOIN ivf ON ivf.q_id = gt.q_id AND ivf.c_id = gt.c_id
           |  GROUP BY gt.q_id
           |), mrr AS (
           |  SELECT gt.q_id,
           |    COALESCE(1000000000 // ivf.rank, 0) AS mrr_fp
           |  FROM gt LEFT JOIN ivf ON ivf.q_id = gt.q_id AND ivf.c_id = gt.c_id
           |  WHERE gt.rank = 1
           |)
           |SELECT q.q_id,
           |  COALESCE(hit.nhit, 0) * 1000000 // 5 AS recall_fp,
           |  mrr.mrr_fp
           |FROM (SELECT DISTINCT q_id FROM gt) q
           |LEFT JOIN hit ON hit.q_id = q.q_id
           |JOIN mrr ON mrr.q_id = q.q_id""".stripMargin
      }
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val k = IvfIndex.chooseK(emb.count())
      val cb = IvfIndex.codebook(emb, k, iters = 2)
      val ivf = IvfIndex.search(emb, cb, col("vec_id") < 10, nprobe = 2, topK = 5)
        .select(col("q_id"), col("c_id"), col("rank"))
      val qv = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val gt = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine",
          graft.functions.VecOps.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id").as("c_id"), col("rank"))
      val ivfKeyed = ivf.select(
        col("q_id").as("i_q"), col("c_id").as("i_c"), col("rank").as("i_rank"))
      val hit = gt.join(ivfKeyed,
          col("i_q") === gt("q_id") && col("i_c") === gt("c_id"))
        .groupBy(gt("q_id")).agg(count(lit(1)).as("nhit"))
        .select(col("q_id").as("h_q"), col("nhit"))
      val mrr = gt.filter(col("rank") === 1)
        .join(ivfKeyed,
          col("i_q") === gt("q_id") && col("i_c") === gt("c_id"), "left")
        .select(gt("q_id").as("m_q"),
          coalesce(expr("1000000000L div i_rank"), lit(0L)).as("mrr_fp"))
      gt.select(col("q_id")).distinct()
        .join(hit, col("h_q") === col("q_id"), "left")
        .join(mrr, col("m_q") === col("q_id"))
        .select(col("q_id"),
          expr("coalesce(nhit, 0L) * 1000000 div 5").as("recall_fp"),
          col("mrr_fp"))
    }.intendsNestedLoop(
      "broadcast sides are the 10-row query batch and the k ~ sqrt(n) codebook"),

    // ---- Reciprocal-rank fusion (Cormack et al. 2009, k=60) of two
    //      retrieval scorers over the same query batch — the standard
    //      hybrid-retrieval merge (lexical + semantic, or any N
    //      rankers): score = sum over lists of 1/(60 + rank), kept
    //      exact as 1e9 div (60 + rank). Here the two rankers are
    //      cosine (normalized) and raw dot product (magnitude-aware) —
    //      genuinely different rankings of the same candidates. Scale
    //      shape: one corpus scan against the broadcast query batch
    //      computes both scores; ranks are per-query windows over that
    //      one frame; fusion is row-local addition ----
    QueryDef.sql(
      "q_rrf_fusion", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        def dotDuck(a: String, b: String) = OracleVec.dot(a, b)
        s"""WITH p AS (
           |  SELECT q.vec_id AS q_id, e.vec_id AS c_id,
           |    ${cosDuck("q.embedding", "e.embedding")} AS cosine,
           |    ${dotDuck("q.embedding", "e.embedding")} AS dotp
           |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10
           |), ranked AS (
           |  SELECT q_id, c_id,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cosine DESC, c_id) AS rka,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY dotp DESC, c_id) AS rkb
           |  FROM p
           |), fused AS (
           |  SELECT q_id, c_id,
           |    (CASE WHEN rka <= 20 THEN 1000000000 // (60 + rka) ELSE 0 END)
           |    + (CASE WHEN rkb <= 20 THEN 1000000000 // (60 + rkb) ELSE 0 END)
           |      AS rrf_fp
           |  FROM ranked
           |)
           |SELECT q_id, c_id, rrf_fp, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY rrf_fp DESC, c_id) AS rank
           |  FROM fused WHERE rrf_fp > 0) WHERE rank <= 5""".stripMargin
      }
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val qv = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val p = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          graft.functions.VecOps.cosine(col("q_emb"), col("embedding")).as("cosine"),
          graft.functions.VecOps.vecDot(col("q_emb"), col("embedding")).as("dotp"))
      val wa = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      val wb = Window.partitionBy(col("q_id")).orderBy(col("dotp").desc, col("c_id"))
      val fused = p
        .withColumn("rka", row_number().over(wa))
        .withColumn("rkb", row_number().over(wb))
        .select(col("q_id"), col("c_id"),
          (when(col("rka") <= 20, expr("1000000000L div (60 + rka)")).otherwise(lit(0L))
            + when(col("rkb") <= 20, expr("1000000000L div (60 + rkb)")).otherwise(lit(0L))
            ).as("rrf_fp"))
        .filter(col("rrf_fp") > 0)
      val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf_fp").desc, col("c_id"))
      fused.withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("c_id"), col("rrf_fp"), col("rank"))
    }.intendsNestedLoop(
      "broadcast side is the 10-row query batch"),

    // ---- Batch-perceptron quality classifier (see ops.Perceptron):
    //      3 integer-exact training rounds over 64-dim hashed
    //      bag-of-words features, labels = (lang == 'en'), then score
    //      every document with the learned weights. The model is a
    //      64-row broadcast frame; each round is two partial-aggregable
    //      groupBys — the classifier-TRAINING counterpart to the
    //      inference-side q_nb_classify ----
    QueryDef.sql(
      "q_perceptron",
      s"""WITH graft_perc_docs AS (
         |  SELECT doc_id AS id, text,
         |         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |  FROM documents
         |),
         |${Perceptron.oracleSql(dims = 64, rounds = 3)}""".stripMargin
    ) { (s, d) =>
      Perceptron.trainPredict(
        Tables.documents(s, d).select(
          col("doc_id").as("id"), col("text"),
          when(col("lang") === "en", lit(1)).otherwise(lit(-1)).as("y")),
        dims = 64, rounds = 3)
    },

    // ---- Deterministic random walks (see ops.RandomWalk): 8 hops from
    //      every nation-0-4 supplier over the directed trade graph —
    //      the DeepWalk/node2vec corpus-generation pass, made a pure
    //      function of the graph via (node, step, dst)-seeded hash
    //      argmin next-hop choice ----
    QueryDef.sql(
      "q_random_walks",
      s"""WITH graft_edges AS (\n${RankQueries.edgesDuck}\n),
         |graft_walk_seeds AS (
         |  SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node
         |  FROM supplier WHERE s_nationkey < 5
         |),
         |${RandomWalk.oracleSql(steps = 8)}""".stripMargin
    ) { (s, d) =>
      val seeds = Tables.supplier(s, d)
        .filter(col("s_nationkey") < 5)
        .select(concat(lit("S"), col("s_suppkey")).as("node"))
      RandomWalk.run(
        RankQueries.tradeEdges(RankQueries.tradeBase(s, d)), seeds,
        steps = 8)
    },

    // ---- Token-distribution drift between two corpus versions (the
    //      data-drift monitor a continuously-ingesting training
    //      pipeline runs between snapshots): per-token add-1-smoothed
    //      KL(A||B) contribution, top-30 drifted tokens. ONE tokenize
    //      pass computes both distributions as conditional aggregates;
    //      the vocab/total scalars broadcast. Fixed-point contract: the
    //      ratio is a division of exact int64 products, ln is the one
    //      1-ulp-risk op (absorbed by the 1e6 quantization — the
    //      q_bm25_topk precedent), multiply/divide order is textually
    //      identical on both engines ----
    QueryDef.sql(
      "q_dist_drift",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), tc AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM tok WHERE token <> '' GROUP BY token
        |), tot AS (
        |  SELECT count(*) AS v, CAST(sum(ca) AS BIGINT) AS na,
        |         CAST(sum(cb) AS BIGINT) AS nb
        |  FROM tc
        |)
        |SELECT token, ca, cb, contrib_fp FROM (
        |  SELECT token, ca, cb,
        |    CAST(floor(ln(((ca + 1) * (nb + v)) * 1e0 / ((cb + 1) * (na + v)))
        |      * (ca + 1) * 1e6 / (na + v)) AS BIGINT) AS contrib_fp
        |  FROM tc CROSS JOIN tot)
        |ORDER BY contrib_fp DESC, token LIMIT 30""".stripMargin
    ) { (s, d) =>
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(
          sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cb"))
      val tot = tc.agg(count(lit(1)).as("v"),
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      tc.crossJoin(broadcast(tot))
        .select(col("token"), col("ca"), col("cb"),
          // textually identical double-op order to the DuckDB oracle
          expr(klContrib).as("contrib_fp"))
        .orderBy(col("contrib_fp").desc, col("token"))
        .limit(30)
    }.intendsNestedLoop(
      "cross join against the broadcast 1-row vocab/total scalar frame"),

    // ---- Hard-negative mining for contrastive training: for each
    //      anchor (vec_id < 20), the 4 nearest neighbors whose label
    //      differs — the pairs that actually move a contrastive loss.
    //      Scale shape: the anchor batch broadcasts; the corpus is
    //      scanned once; top-4 is a per-anchor partial-aggregable
    //      window after the label anti-filter ----
    QueryDef.sql(
      "q_hard_negatives", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        s"""WITH p AS (
           |  SELECT q.vec_id AS q_id, q.label AS q_label,
           |    e.vec_id AS neg_id, e.label AS neg_label,
           |    ${cosDuck("q.embedding", "e.embedding")} AS cosine
           |  FROM embeddings q JOIN embeddings e
           |    ON e.vec_id <> q.vec_id AND e.label <> q.label
           |  WHERE q.vec_id < 20
           |)
           |SELECT q_id, neg_id, neg_label, cosine, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cosine DESC, neg_id) AS rank FROM p) WHERE rank <= 4""".stripMargin
      }
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val qv = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("neg_id"))
      emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"),
          graft.functions.VecOps.cosine(col("q_emb"), col("embedding")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 4)
        .select(col("q_id"), col("neg_id"), col("neg_label"),
          col("cosine"), col("rank"))
    }.intendsNestedLoop(
      "broadcast side is the 20-row anchor batch"),

    // ---- nDCG@10 of the IVF search under same-label graded relevance —
    //      completes the retrieval-eval suite (recall, MRR, nDCG). All
    //      float risk is removed up front: the DCG discounts
    //      floor(1e9/log2(i+1)) and their prefix sums are INTEGER
    //      LITERALS baked into both engines, so the whole metric is
    //      exact int64 (IDCG via element_at on the literal prefix-sum
    //      array — row-local, no non-equi join) ----
    QueryDef.sql(
      "q_ndcg", {
        val wVals = DcgW.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, ${v})" }.mkString(", ")
        s"""WITH ${OracleKmeans.ivfSearchCtes(topK = 10)},
           |wt(rk, w) AS (VALUES $wVals),
           |rel AS (
           |  SELECT ivf.q_id, ivf.rank,
           |    CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END AS rel
           |  FROM ivf
           |  JOIN embeddings cl ON cl.vec_id = ivf.c_id
           |  JOIN embeddings ql ON ql.vec_id = ivf.q_id
           |), dcg AS (
           |  SELECT q_id, CAST(sum(rel * w) AS BIGINT) AS dcg_fp
           |  FROM rel JOIN wt ON wt.rk = rel.rank GROUP BY q_id
           |), nrel AS (
           |  SELECT q.vec_id AS q_id,
           |    [${DcgCum.mkString(", ")}][
           |      LEAST(CAST(count(*) AS BIGINT), 10)] AS idcg_fp
           |  FROM embeddings q JOIN embeddings e
           |    ON e.label = q.label AND e.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10 GROUP BY q.vec_id
           |)
           |SELECT dcg.q_id, dcg_fp, idcg_fp,
           |  (dcg_fp * 1000000) // idcg_fp AS ndcg_fp
           |FROM dcg JOIN nrel ON nrel.q_id = dcg.q_id""".stripMargin
      }
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val k = IvfIndex.chooseK(emb.count())
      val cb = IvfIndex.codebook(emb, k, iters = 2)
      val ivf = IvfIndex.search(emb, cb, col("vec_id") < 10, nprobe = 2, topK = 10)
        .select(col("q_id"), col("c_id"), col("rank"))
      val spark = s
      import spark.implicits._
      val wt = DcgW.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("rk", "w")
      val rel = ivf
        .join(lab.select(col("vec_id").as("c_id"), col("label").as("c_label")), "c_id")
        .join(broadcast(
          lab.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("label").as("q_label"))), "q_id")
        .select(col("q_id"), col("rank"),
          when(col("c_label") === col("q_label"), 1L).otherwise(0L).as("rel"))
      val dcg = rel.join(broadcast(wt), col("rk") === col("rank"))
        .groupBy(col("q_id")).agg(sum(col("rel") * col("w")).as("dcg_fp"))
      val nrel = lab.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))
        .join(lab.select(col("vec_id").as("o_id"), col("label").as("o_label")),
          col("o_label") === col("q_label") && col("o_id") =!= col("q_id"))
        .groupBy(col("q_id"))
        .agg(element_at(
          array(DcgCum.map(lit): _*),
          least(count(lit(1)), lit(10L)).cast("int")).as("idcg_fp"))
      dcg.join(nrel, "q_id")
        .select(col("q_id"), col("dcg_fp"), col("idcg_fp"),
          expr("(dcg_fp * 1000000) div idcg_fp").as("ndcg_fp"))
    }.intendsNestedLoop(
      "broadcast sides are the 10-row query batch, the 10-row weight " +
        "table, and the k ~ sqrt(n) codebook"),

    // ---- Exact ROC AUC of an embedding-space scorer (cosine to the
    //      class-0 centroid, scoring "is class 0") — THE
    //      threshold-free metric for the quality-classifier tier
    //      (complements q_eval_confusion's argmax view). Exactness:
    //      the score IS the quantized integer floor(cos*1e4), so
    //      tie-aware AUC over it is pure integer rank-sum algebra —
    //      per-bucket (pos, neg) counts, prefix-summed concordant
    //      pairs, ties counted half via the x2 numerator:
    //      auc = (2*sum_b p_b*negs_below(b) + sum_b p_b*n_b) / (2*P*N).
    //      Scale shape: ONE corpus pass against the broadcast 1-row
    //      centroid, one groupBy onto <= 2e4+1 score buckets; the
    //      prefix window runs over that bounded bucket frame, never
    //      the corpus. Headroom: num2*1e6 <= 2n^2*1e6 < 2^63 bounds
    //      n at ~2.1e6 labelled eval rows — eval sets are sampled
    //      way below that; for larger ones drop the 1e6 scale. ----
    QueryDef.sql(
      "q_auc",
      s"""WITH $scorerCtes, bkt AS (
           |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
           |    CAST(count(*) - sum(y) AS BIGINT) AS ng
           |  FROM sc GROUP BY s
           |), pre AS (
           |  SELECT p, ng, COALESCE(CAST(sum(ng) OVER (ORDER BY s
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           |    0) AS nlt
           |  FROM bkt
           |)
           |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
           |  CAST(sum(ng) AS BIGINT) AS n_neg,
           |  CAST(sum(2 * p * nlt + p * ng) AS BIGINT) * 1000000
           |    // (2 * CAST(sum(p) AS BIGINT) * CAST(sum(ng) AS BIGINT))
           |    AS auc_fp
           |FROM pre""".stripMargin
    ) { (s, d) =>
      val sc = scored(s, d)
      val bkt = sc.groupBy(col("s"))
        .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("ng"))
      val w = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      bkt.withColumn("nlt", coalesce(sum(col("ng")).over(w), lit(0L)))
        .agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"),
          expr("(sum(2 * p * nlt + p * ng) * 1000000L) div " +
            "(2L * sum(p) * sum(ng))").as("auc_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row class-0 centroid frame")
      .intendsGlobalWindow(
        "windowed frame is the per-bucket aggregate of the quantized " +
          "score: <= 2e4+1 rows at any corpus size"),

    // ---- Precision-recall threshold sweep of the SAME scorer (shared
    //      CTEs with q_auc): one row per distinct quantized score s =
    //      the operating point "predict positive when score >= s" —
    //      cumulative (pos, neg) prefix sums down the bucket grid give
    //      precision / recall / F1 at EVERY threshold in one pass, the
    //      table a deployment picks its cutoff from (q_auc summarizes
    //      ranking quality; this exposes the actual operating points).
    //      Pure integer prefix algebra on the <= 2e4+1-row bucket
    //      frame; F1 composes the two already-quantized fps (identical
    //      on both engines), zero-positive prefixes NULL-guarded ----
    QueryDef.sql(
      "q_pr_curve",
      s"""WITH $scorerCtes, bkt AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
         |    CAST(count(*) - sum(y) AS BIGINT) AS ng
         |  FROM sc GROUP BY s
         |), pre AS (
         |  SELECT s,
         |    CAST(sum(p) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_p,
         |    CAST(sum(ng) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_n,
         |    CAST(sum(p) OVER () AS BIGINT) AS p_tot
         |  FROM bkt
         |)
         |SELECT s, cum_p, cum_n,
         |  (cum_p * 1000000) // (cum_p + cum_n) AS precision_fp,
         |  (cum_p * 1000000) // p_tot AS recall_fp,
         |  (2 * ((cum_p * 1000000) // (cum_p + cum_n))
         |     * ((cum_p * 1000000) // p_tot))
         |    // nullif((cum_p * 1000000) // (cum_p + cum_n)
         |            + (cum_p * 1000000) // p_tot, 0) AS f1_fp
         |FROM pre""".stripMargin
    ) { (s, d) =>
      val sc = scored(s, d)
      val bkt = sc.groupBy(col("s"))
        .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("ng"))
      val wCum = Window.orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      bkt
        .withColumn("cum_p", sum(col("p")).over(wCum))
        .withColumn("cum_n", sum(col("ng")).over(wCum))
        .withColumn("p_tot", sum(col("p")).over(wAll))
        .select(col("s"), col("cum_p"), col("cum_n"),
          expr("(cum_p * 1000000L) div (cum_p + cum_n)").as("precision_fp"),
          expr("(cum_p * 1000000L) div p_tot").as("recall_fp"),
          expr("""(2 * ((cum_p * 1000000L) div (cum_p + cum_n))
                 |   * ((cum_p * 1000000L) div p_tot))
                 |  div nullif((cum_p * 1000000L) div (cum_p + cum_n)
                 |          + (cum_p * 1000000L) div p_tot, 0)"""
            .stripMargin).as("f1_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row class-0 centroid frame")
      .intendsGlobalWindow(
        "windowed frame is the per-bucket aggregate of the quantized " +
          "score: <= 2e4+1 rows at any corpus size"),

    // ---- Calibration / reliability table of the SAME scorer (shared
    //      CTEs with q_auc — ranking quality and probability quality
    //      are different failure modes): the quantized score maps
    //      affinely to a 1e6-fixed-point "probability"
    //      p_fp = (s + 1e4) * 50, bins are s div 1000 (engine-identical
    //      truncation toward zero), and each bin reports size, mean
    //      predicted probability, observed positive rate, and its
    //      Brier contribution sum((p - y*1e6)^2) div n — all pure
    //      integer algebra. Scale shape: one corpus pass, one hash agg
    //      onto <= 21 bins; per-row square <= 1e12 bounds the labelled
    //      set at ~9e6 rows inside int64. ----
    QueryDef.sql(
      "q_calibration",
      s"""WITH $scorerCtes, pb AS (
         |  SELECT s // 1000 AS bin, (s + 10000) * 50 AS p_fp, y FROM sc
         |)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(p_fp) AS BIGINT) // count(*) AS avg_p_fp,
         |  (CAST(sum(y) AS BIGINT) * 1000000) // count(*) AS frac_pos_fp,
         |  CAST(sum((p_fp - y * 1000000) * (p_fp - y * 1000000)) AS BIGINT)
         |    // count(*) AS brier_fp
         |FROM pb GROUP BY bin""".stripMargin
    ) { (s, d) =>
      scored(s, d)
        .select(expr("s div 1000").as("bin"),
          ((col("s") + 10000L) * 50L).as("p_fp"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          expr("sum(p_fp) div count(1)").as("avg_p_fp"),
          expr("(sum(y) * 1000000L) div count(1)").as("frac_pos_fp"),
          expr("sum((p_fp - y * 1000000L) * (p_fp - y * 1000000L)) " +
            "div count(1)").as("brier_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row class-0 centroid frame"),

    // ---- Expected / maximum calibration error: the ONE-ROW summary of
    //      q_calibration's reliability table (Naeini et al.'s ECE, the
    //      headline number every calibration paper reports):
    //      ECE = Σ_b n_b·|avg_p − frac_pos| / N, MCE = max_b |·| —
    //      pure integer algebra over the ≤ 21 per-bin fps, so the
    //      metric is exact given the binning. Shares every CTE with
    //      q_calibration (same scorer, same bins) ----
    QueryDef.sql(
      "q_ece",
      s"""WITH $scorerCtes, pb AS (
         |  SELECT s // 1000 AS bin, (s + 10000) * 50 AS p_fp, y FROM sc
         |), cal AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    abs(CAST(sum(p_fp) AS BIGINT) // count(*)
         |      - (CAST(sum(y) AS BIGINT) * 1000000) // count(*)) AS gap
         |  FROM pb GROUP BY bin
         |)
         |SELECT CAST(sum(n) AS BIGINT) AS n_scored,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(n * gap) AS BIGINT) // CAST(sum(n) AS BIGINT)
         |    AS ece_fp,
         |  max(gap) AS mce_fp
         |FROM cal""".stripMargin
    ) { (s, d) =>
      scored(s, d)
        .select(expr("s div 1000").as("bin"),
          ((col("s") + 10000L) * 50L).as("p_fp"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          abs(expr("sum(p_fp) div count(1)") -
            expr("(sum(y) * 1000000L) div count(1)")).as("gap"))
        .agg(sum(col("n")).as("n_scored"),
          count(lit(1)).as("n_bins"),
          expr("sum(n * gap) div sum(n)").as("ece_fp"),
          max(col("gap")).as("mce_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row class-0 centroid frame"),

    // ---- Brier score with Murphy's 3-part decomposition (Murphy 1973):
    //      BRIER = REL − RES + UNC, where REL = Σ n_b(f_b − o_b)²/n is
    //      what q_ece measures squared (miscalibration), RES =
    //      Σ n_b(o_b − ō)²/n is the scorer's DISCRIMINATION (how much
    //      the bins separate the base rate — a scorer can be perfectly
    //      calibrated and useless), and UNC = ō(1−ō) is the data's
    //      irreducible noise. Same scorer + bins as q_calibration/
    //      q_ece/q_isotonic (single-sourced CTEs). Exactness: all four
    //      terms are integer-quantized rationals at 1e6; decomp_gap_fp
    //      = BRIER − (REL − RES + UNC) reports the floor-quantization
    //      residue (the identity is exact in the reals; each floor can
    //      shift a term by 1 fp unit). Headroom: per-bin numerators
    //      n_b·(1e6)² cap n at ~9.2e6 rows per scored population — the
    //      same envelope q_calibration already documents. ONE corpus
    //      pass onto ≤ 21 bins; everything after is bin-bounded ----
    QueryDef.sql(
      "q_brier_decomp",
      s"""WITH $scorerCtes, pb AS (
         |  SELECT s // 1000 AS bin, (s + 10000) * 50 AS p_fp, y FROM sc
         |), b AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(p_fp) AS BIGINT) // count(*) AS fb,
         |    (CAST(sum(y) AS BIGINT) * 1000000) // count(*) AS ob,
         |    CAST(sum((p_fp - y * 1000000) * (p_fp - y * 1000000))
         |      AS BIGINT) AS brier_num
         |  FROM pb GROUP BY bin
         |), g AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    (SELECT (CAST(sum(y) AS BIGINT) * 1000000)
         |       // count(*) FROM pb) AS obar
         |  FROM b
         |)
         |SELECT g.nt AS n_scored,
         |  CAST(sum(b.brier_num) AS BIGINT) // (g.nt * 1000000)
         |    AS brier_fp,
         |  CAST(sum(b.n * (b.fb - b.ob) * (b.fb - b.ob)) AS BIGINT)
         |    // (g.nt * 1000000) AS rel_fp,
         |  CAST(sum(b.n * (b.ob - g.obar) * (b.ob - g.obar)) AS BIGINT)
         |    // (g.nt * 1000000) AS res_fp,
         |  (g.obar * (1000000 - g.obar)) // 1000000 AS unc_fp,
         |  CAST(sum(b.brier_num) AS BIGINT) // (g.nt * 1000000)
         |    - (CAST(sum(b.n * (b.fb - b.ob) * (b.fb - b.ob)) AS BIGINT)
         |         // (g.nt * 1000000)
         |       - CAST(sum(b.n * (b.ob - g.obar) * (b.ob - g.obar))
         |           AS BIGINT) // (g.nt * 1000000)
         |       + (g.obar * (1000000 - g.obar)) // 1000000)
         |    AS decomp_gap_fp
         |FROM b CROSS JOIN g
         |GROUP BY g.nt, g.obar""".stripMargin
    ) { (s, d) =>
      val pb = scored(s, d)
        .select(expr("s div 1000").as("bin"),
          ((col("s") + 10000L) * 50L).as("p_fp"), col("y"))
      val b = pb.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          expr("sum(p_fp) div count(1)").as("fb"),
          expr("(sum(y) * 1000000L) div count(1)").as("ob"),
          expr("sum((p_fp - y * 1000000L) * (p_fp - y * 1000000L))")
            .as("brier_num"))
      val g = pb.agg(count(lit(1)).as("nt"),
        expr("(sum(y) * 1000000L) div count(1)").as("obar"))
      b.crossJoin(broadcast(g))
        .groupBy(col("nt"), col("obar"))
        .agg(
          expr("sum(brier_num)").as("bn"),
          expr("sum(n * (fb - ob) * (fb - ob))").as("reln"),
          expr("sum(n * (ob - obar) * (ob - obar))").as("resn"))
        .select(col("nt").as("n_scored"),
          expr("bn div (nt * 1000000L)").as("brier_fp"),
          expr("reln div (nt * 1000000L)").as("rel_fp"),
          expr("resn div (nt * 1000000L)").as("res_fp"),
          expr("(obar * (1000000L - obar)) div 1000000L").as("unc_fp"),
          expr("bn div (nt * 1000000L)" +
            " - (reln div (nt * 1000000L)" +
            "    - resn div (nt * 1000000L)" +
            "    + (obar * (1000000L - obar)) div 1000000L)")
            .as("decomp_gap_fp"))
    }.intendsNestedLoop(
      "broadcast sides are the 1-row class-0 centroid frame and the " +
        "1-row (n, base-rate) frame"),

    // ---- Isotonic calibration (PAV) of the SAME scorer via the exact
    //      minimax identity (Robertson, Wright & Dykstra 1988):
    //      iso(i) = max_{j<=i} min_{k>=i} wavg(y over bins j..k) —
    //      equal to the pool-adjacent-violators fit, but expressible as
    //      bounded-frame algebra instead of a sequential pooling scan.
    //      Exactness: each weighted average is an integer division of
    //      prefix-sum differences ((Sy_k - Sy_{j-1})*1e6) div
    //      (W_k - W_{j-1}); min/max over exact int64 values. Scale
    //      shape: ONE corpus pass onto <= 21 score bins (the
    //      q_calibration frame); the O(B^3) minimax runs on that
    //      bin-bounded frame — B is fixed by the score quantization,
    //      never the corpus. Output is provably non-decreasing in bin
    //      (the isotonic property — pinned in spec and by the oracle). ----
    QueryDef.sql(
      "q_isotonic",
      s"""WITH $scorerCtes, pb AS (
         |  SELECT s // 1000 AS bin, y FROM sc
         |), b AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy
         |  FROM pb GROUP BY bin
         |), pre AS (
         |  SELECT bin, n, sy,
         |    CAST(sum(n) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS w,
         |    CAST(sum(sy) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cy
         |  FROM b
         |), pairs AS (
         |  SELECT j.bin AS jb, k.bin AS kb,
         |    ((k.cy - (j.cy - j.sy)) * 1000000)
         |      // (k.w - (j.w - j.n)) AS avg_fp
         |  FROM pre j JOIN pre k ON j.bin <= k.bin
         |), mn AS (
         |  SELECT p.jb, i.bin AS ib, min(p.avg_fp) AS mn_fp
         |  FROM pairs p JOIN pre i ON p.kb >= i.bin AND p.jb <= i.bin
         |  GROUP BY p.jb, i.bin
         |)
         |SELECT pre.bin, pre.n,
         |  (pre.sy * 1000000) // pre.n AS frac_pos_fp,
         |  (SELECT max(mn_fp) FROM mn
         |   WHERE mn.ib = pre.bin AND mn.jb <= pre.bin) AS iso_fp
         |FROM pre""".stripMargin
    ) { (s, d) =>
      val b = scored(s, d)
        .select(expr("s div 1000").as("bin"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = b
        .withColumn("w", sum(col("n")).over(w))
        .withColumn("cy", sum(col("sy")).over(w))
      val j = pre.select(col("bin").as("jb"), col("w").as("jw"),
        col("cy").as("jcy"), col("n").as("jn"), col("sy").as("jsy"))
      val kk = pre.select(col("bin").as("kb"), col("w").as("kw"),
        col("cy").as("kcy"))
      val pairs = j.join(kk, col("jb") <= col("kb"))
        .select(col("jb"), col("kb"),
          expr("((kcy - (jcy - jsy)) * 1000000L) div (kw - (jw - jn))")
            .as("avg_fp"))
      val ib = pre.select(col("bin").as("ib"))
      val mn = pairs.join(ib, col("kb") >= col("ib") && col("jb") <= col("ib"))
        .groupBy(col("jb"), col("ib")).agg(min(col("avg_fp")).as("mn_fp"))
      val iso = mn.groupBy(col("ib")).agg(max(col("mn_fp")).as("iso_fp"))
      pre.join(iso, pre("bin") === iso("ib"))
        .select(col("bin"), col("n"),
          expr("(sy * 1000000L) div n").as("frac_pos_fp"), col("iso_fp"))
    }.intendsNestedLoop(
      "broadcast/nested-loop sides are the score-bin frame itself: " +
        "<= 21 rows at any corpus size (score quantization bound), so " +
        "the O(B^3) minimax inequality joins never touch corpus-sized " +
        "data; plus the 1-row class-0 centroid frame")
      .intendsGlobalWindow(
        "windowed frame is the per-bin aggregate: <= 21 rows at any " +
          "corpus size"),

    // ---- Split-conformal prediction intervals per event_type (alpha =
    //      0.1): calibrate on even event_ids (residuals of the
    //      fixed-point mean predictor), take the conformal quantile
    //      qhat = the ceil((n_cal+1)*0.9)-th smallest |residual| as an
    //      EXACT order-statistic pick (rank k = (9*n_cal+18) div 10 —
    //      no interpolation convention to diverge on), then measure
    //      empirical coverage on the odd-id test split. The marginal
    //      guarantee P(|y - pred| <= qhat) >= 0.9 is
    //      distribution-free; coverage_fp near 900000 is the check.
    //      Scale shape: one pass for per-type (sum, count), residual
    //      rank via a window PARTITIONED by event_type (sort within
    //      groups, never global), test coverage one hash-join pass.
    //      Headroom: |sum(v_fp)| < 2^63 bounds each type at ~1.9e10
    //      rows for value <= 490; larger types drop the 1e6 quantize
    //      scale. Requires n_cal >= 9 per type (else the rank
    //      exceeds n_cal and the type has no finite interval — it
    //      drops out on both engines identically). ----
    QueryDef.sql(
      "q_conformal",
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS v_fp,
        |    event_id % 2 AS split
        |  FROM events
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(v_fp) AS BIGINT) // count(*) AS mean_fp,
        |    CAST(count(*) AS BIGINT) AS n_cal
        |  FROM v WHERE split = 0 GROUP BY event_type
        |), k AS (
        |  SELECT event_type, n_cal, mean_fp,
        |    (9 * n_cal + 18) // 10 AS kk
        |  FROM m
        |), q AS (
        |  SELECT r.event_type, r.res AS qhat_fp FROM (
        |    SELECT v.event_type, abs(v.v_fp - k.mean_fp) AS res,
        |      row_number() OVER (PARTITION BY v.event_type
        |        ORDER BY abs(v.v_fp - k.mean_fp), v.event_id) AS rk
        |    FROM v JOIN k ON k.event_type = v.event_type
        |    WHERE v.split = 0) r
        |  JOIN k ON k.event_type = r.event_type AND r.rk = k.kk
        |), t AS (
        |  SELECT v.event_type, CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN abs(v.v_fp - k.mean_fp) <= q.qhat_fp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS covered
        |  FROM v
        |  JOIN k ON k.event_type = v.event_type
        |  JOIN q ON q.event_type = v.event_type
        |  WHERE v.split = 1 GROUP BY v.event_type
        |)
        |SELECT k.event_type, k.n_cal, k.mean_fp, q.qhat_fp, t.n_test,
        |  (t.covered * 1000000) // t.n_test AS coverage_fp
        |FROM k
        |JOIN q ON q.event_type = k.event_type
        |JOIN t ON t.event_type = k.event_type""".stripMargin
    ) { (s, d) =>
      val v = Tables.events(s, d).select(col("event_type"), col("event_id"),
        floor(col("value") * lit(1e6)).cast("long").as("v_fp"),
        (col("event_id") % 2).as("split"))
      val m = v.filter(col("split") === 0).groupBy("event_type")
        .agg(expr("sum(v_fp) div count(1)").as("mean_fp"),
          count(lit(1)).as("n_cal"))
      val k = m.withColumn("kk", expr("(9 * n_cal + 18) div 10"))
      val rw = Window.partitionBy(col("event_type"))
        .orderBy(col("res"), col("event_id"))
      val q = v.filter(col("split") === 0)
        .join(k.select(col("event_type"), col("mean_fp")), "event_type")
        .select(col("event_type"), col("event_id"),
          abs(col("v_fp") - col("mean_fp")).as("res"))
        .withColumn("rk", row_number().over(rw))
        .join(k.select(col("event_type"), col("kk")), "event_type")
        .filter(col("rk") === col("kk"))
        .select(col("event_type"), col("res").as("qhat_fp"))
      val t = v.filter(col("split") === 1)
        .join(k.select(col("event_type"), col("mean_fp")), "event_type")
        .join(q, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("v_fp") - col("mean_fp")) <= col("qhat_fp"), 1L)
            .otherwise(0L)).as("covered"))
      k.select(col("event_type"), col("n_cal"), col("mean_fp"))
        .join(q, "event_type")
        .join(t, "event_type")
        .select(col("event_type"), col("n_cal"), col("mean_fp"),
          col("qhat_fp"), col("n_test"),
          expr("(covered * 1000000L) div n_test").as("coverage_fp"))
    },

    // ---- Team-draft interleaving eval (see ops.Interleave): the online
    //      ranker-comparison primitive — per query the cosine and
    //      dot-product rankers' top-20 lists are interleaved by
    //      alternating hash-coin drafts, hash-deterministic clicks
    //      credit the drafting team, and the per-query click margin is
    //      the paired preference verdict. Ranking stays in Catalyst
    //      (broadcast 10-query batch, per-query rank windows); the
    //      draft itself is a sequential two-pointer fold with state
    //      bounded by 2x20 ids per query ----
    QueryDef.sql(
      "q_interleave", {
        // ONE source of truth for the round count: the coin array, the
        // Scala draft, and the oracle recursion must all agree or the
        // draft fold indexes past the coins
        val rounds = interleaveRounds
        s"""WITH RECURSIVE p AS (
           |  SELECT q.vec_id AS q_id, e.vec_id AS c_id,
           |    ${OracleVec.cos("q.embedding", "e.embedding")} AS cosine,
           |    ${OracleVec.dot("q.embedding", "e.embedding")} AS dotp
           |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10
           |), ranked AS (
           |  SELECT q_id, c_id,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cosine DESC, c_id) AS rka,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY dotp DESC, c_id) AS rkb
           |  FROM p
           |), la_t AS (
           |  SELECT q_id, list(c_id ORDER BY rka) AS la
           |  FROM ranked WHERE rka <= 20 GROUP BY q_id
           |), lb_t AS (
           |  SELECT q_id, list(c_id ORDER BY rkb) AS lb
           |  FROM ranked WHERE rkb <= 20 GROUP BY q_id
           |), graft_il_lists AS (
           |  SELECT q_id, la, lb FROM la_t JOIN lb_t USING (q_id)
           |),
           |${graft.ops.Interleave.oracleSql(rounds)}""".stripMargin
      }
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val qv = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val p = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          graft.functions.VecOps.cosine(col("q_emb"), col("embedding"))
            .as("cosine"),
          graft.functions.VecOps.vecDot(col("q_emb"), col("embedding"))
            .as("dotp"))
      val wa = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("c_id"))
      val wb = Window.partitionBy(col("q_id"))
        .orderBy(col("dotp").desc, col("c_id"))
      val lists = p
        .withColumn("rka", row_number().over(wa))
        .withColumn("rkb", row_number().over(wb))
        .filter(col("rka") <= 20 || col("rkb") <= 20)
        .withColumn("k",
          expr("md5p60(concat(cast(q_id AS string), ':', " +
            "cast(c_id AS string))) % 4 = 0"))
        .groupBy("q_id")
        .agg(
          expr("""transform(
                 |  sort_array(collect_list(CASE WHEN rka <= 20
                 |    THEN struct(rka AS r, c_id AS c, k AS k) END)),
                 |  s -> struct(s.c AS c, s.k AS k))""".stripMargin).as("la"),
          expr("""transform(
                 |  sort_array(collect_list(CASE WHEN rkb <= 20
                 |    THEN struct(rkb AS r, c_id AS c, k AS k) END)),
                 |  s -> struct(s.c AS c, s.k AS k))""".stripMargin).as("lb"))
        .withColumn("coins",
          expr(s"transform(sequence(0, ${interleaveRounds - 1}), r -> " +
            "md5p60(concat(cast(q_id AS string), '#', " +
            "cast(r AS string))) % 2 = 0)"))
      graft.ops.Interleave.run(lists, interleaveRounds)
    }.intendsNestedLoop(
      "broadcast side is the 10-row query batch")
  )
}
