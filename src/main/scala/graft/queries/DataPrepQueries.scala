package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Training-data pipeline operators over `documents` / `embeddings` / `events`
  * (builder brief + SURVEY.md §7 step 7): exact and approximate dedup,
  * text statistics / language scoring / fingerprinting, ANN similarity
  * search, sessionization, and ML feature prep.
  *
  * Cross-engine determinism: every hash is derived from md5 (identical in
  * Spark and DuckDB) reduced mod 2^31-1 so all subsequent arithmetic stays
  * exactly representable in int64; folds are left-folds in both engines
  * (Spark `aggregate` with explicit zero == DuckDB `list_reduce` with a
  * prepended seed); all float reductions are either exact (decimal sums,
  * integer counts) or element-ordered identical (dot products fold in array
  * order).
  */
object DataPrepQueries {

  /** Zipf rank-frequency fit over the document token table: OLS slope
    * of ln f vs ln r on the top-200 ranks (ranked by count desc, token
    * — the deterministic tie-break). Per-rank logs are 1e6-quantized
    * BEFORE the exact integer moment sums (the klContrib convention);
    * only the final slope ratio is a double chain (identical op order
    * both engines). Headroom: k·Σxy and Σx·Σy stay ≤ ~4e18 at k=200
    * with yq ≤ ln(1e9 tokens)·1e6 — documented, ANSI-loud beyond.
    * A corpus obeying Zipf's law lands near slope_fp = −1e6 — the
    * data-card language-health number.
    */
  private[queries] val zipfQuery: QueryDef = QueryDef.sql(
    "q_zipf",
    """WITH tf AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY tok
      |), rk AS (
      |  SELECT CAST(floor(ln(row_number() OVER (ORDER BY f DESC, tok)
      |      * 1e0) * 1e6) AS BIGINT) AS xq,
      |    CAST(floor(ln(f * 1e0) * 1e6) AS BIGINT) AS yq
      |  FROM tf ORDER BY f DESC, tok LIMIT 200
      |)
      |SELECT CAST(count(*) AS BIGINT) AS k,
      |  CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
      |  CAST(sum(xq * yq) AS BIGINT) AS sxy,
      |  CAST(sum(xq * xq) AS BIGINT) AS sxx,
      |  CAST(floor(
      |    (count(*) * CAST(sum(xq * yq) AS BIGINT)
      |     - CAST(sum(xq) AS BIGINT) * CAST(sum(yq) AS BIGINT)) * 1e0
      |    / (count(*) * CAST(sum(xq * xq) AS BIGINT)
      |       - CAST(sum(xq) AS BIGINT) * CAST(sum(xq) AS BIGINT))
      |    * 1e6) AS BIGINT) AS slope_fp
      |FROM rk""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val rk = tf
      .withColumn("r", row_number().over(
        Window.orderBy(col("f").desc, col("tok"))))
      .filter(col("r") <= 200)
      .select(expr("CAST(floor(ln(r * 1e0) * 1e6) AS BIGINT)").as("xq"),
        expr("CAST(floor(ln(f * 1e0) * 1e6) AS BIGINT)").as("yq"))
    rk.agg(count(lit(1)).as("k"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(expr("xq * yq")).as("sxy"), sum(expr("xq * xq")).as("sxx"))
      .select(col("k"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        expr("CAST(floor((k * sxy - sx * sy) * 1e0" +
          " / (k * sxx - sx * sx) * 1e6) AS BIGINT)").as("slope_fp"))
  }.intendsGlobalWindow(
    "the rank window runs over the distinct-token frequency table and " +
      "feeds a LIMIT 200 — WindowGroupLimit bounds it, never corpus-sized")


  private val P = 2147483647L // 2^31 - 1

  /** md5-based word/shingle hash, identical value in both engines. Spark
    * side uses the native [[graft.functions.Md5Prefix60]] (registered as
    * `md5p60` by the query constructors — no hex-string round-trip).
    */
  private val sparkHash = (x: String) => s"md5p60($x) % $P"
  private val duckHash = (x: String) =>
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT) % $P"

  // 16 minhash permutations h_j(x) = (a_j*x + b_j) mod P, grouped in 4
  // bands — sourced from the public op so SQL oracle and library surface
  // cannot drift
  private val perms: Seq[(Long, Long)] = graft.ops.NearDup.MinhashPerms

  import Num.{davg, davg2, davg2Sql, davgSql, dsum, dsumSql}

  // ---------------------------------------------------------------- shingles
  /** Word 3-gram shingles; docs with <3 tokens have none.
    * The token array is bound ONCE per row: Spark's common-subexpression
    * elimination does not reach inside lambda bodies, so writing
    * `slice(split(text,' '), i, 3)` in the transform would re-split the
    * document for EVERY shingle (~n splits/doc — measured 2x slower on
    * the minhash pipeline at sf0.1).
    */
  private def shingleDf(s: SparkSession, d: String): DataFrame =
    graft.ops.NearDup.shingles(Tables.documents(s, d))

  private def shingleSqlFor(tbl: String): String =
    s"""sh_raw AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text, ' ')) - 1),
       |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
       |  )) AS shingle
       |  FROM $tbl WHERE len(string_split(text, ' ')) >= 3
       |)""".stripMargin

  private val shingleSql: String = shingleSqlFor("documents")

  /** Per-doc minhash signature (16 mins) + 4 LSH band hashes. */
  private def minhashBands(s: SparkSession, d: String): DataFrame =
    graft.ops.NearDup.minhashBands(Tables.documents(s, d))

  private def minhashBandsSqlFor(tbl: String): String = {
    val minCols = perms.zipWithIndex
      .map { case ((a, b), j) => s"min((h * $a + $b) % $P) AS m$j" }
      .mkString(",\n    ")
    val bandSelects = (0 until 4)
      .map { k =>
        val cs = (0 until 4).map(i => s"m${k * 4 + i}").mkString(", ")
        s"SELECT doc_id, $k AS band_id, concat_ws('-', $cs) AS band_hash FROM sig"
      }
      .mkString("\n  UNION ALL ")
    s"""WITH ${shingleSqlFor(tbl)}, hashed AS (
       |  SELECT doc_id, ${duckHash("shingle")} AS h FROM sh_raw
       |), sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hashed GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |)""".stripMargin
  }

  private val minhashBandsSql: String = minhashBandsSqlFor("documents")

  /** Connected-component cluster assignment over the LSH candidate
    * pairs — the CTE chain (pairs → symmetric edges → recursive
    * min-reachable-id closure → comp) shared by q_dedup_cc and
    * q_cc_sizes so the histogram can never disagree with the
    * assignment it summarizes. Ends with `comp(id, cluster_id)`.
    */
  private val ccCompCtes: String =
    """pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      |   AND a.doc_id < b.doc_id
      |), edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |), reach(id, r) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
      |), comp AS (
      |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
      |)""".stripMargin

  /** The same per-doc cluster assignment on the Spark side:
    * (doc_id, cluster_id) — singletons keep their own id.
    */
  private def ccClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val pairs = graft.ops.NearDup
      .minhashCandidatePairs(Tables.documents(s, d), ordered = true)
    val comp = graft.ops.ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    docs.join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_id"))
  }

  /** In-bucket candidate pairs from the band frame. `ordered = true` keeps
    * one row per pair (doc_a < doc_b, the pair listing); `false` keeps both
    * directions (dedup representative selection groups on doc_a).
    */
  private def minhashCandidatePairs(
      s: SparkSession, d: String, ordered: Boolean): DataFrame =
    graft.ops.NearDup
      .minhashCandidatePairs(Tables.documents(s, d), ordered = ordered)
      .withColumnRenamed("id_a", "doc_a")
      .withColumnRenamed("id_b", "doc_b")

  // ------------------------------------------------------------------ queries
  /** Greedy max-coverage document selection (the submodular selection
    * primitive behind facility-location data curation — pick the k
    * documents that together cover the most distinct bigrams): per
    * round, each candidate's marginal gain = its bigrams not yet
    * covered (one anti join against the broadcast vocabulary-bounded
    * covered set + one groupBy), winner by (gain desc, doc_id). The
    * classic (1−1/e) greedy, k passes over the token table — lazy-greedy
    * priority queues are the serial optimization; at cluster scale the
    * k linear passes ARE the distributed form. Oracle unrolls the same
    * k rounds; ties and exhaustion (no positive-gain candidate → round
    * yields nothing) behave identically by construction.
    */
  private[queries] val maxCoverageQuery: QueryDef = {
    val k = 8
    val sb = new StringBuilder
    sb.append(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), tk AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, bigram FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, n),
        |      i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        |    FROM t WHERE n >= 2)
        |), cov0 AS (SELECT '' AS tok WHERE false)""".stripMargin)
    // every chained CTE is MATERIALIZED: cov_{i-1} and tk are each
    // referenced twice per round, and DuckDB re-inlines plain CTEs per
    // reference — the un-materialized chain re-expands tk 2^k times
    // (the sf1 oracle timeout, NOTES round-5); materialization makes
    // each round one scan of tk + one anti-join against cov.
    for (i <- 1 to k) sb.append(
      s""",
         |g$i AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM tk
         |  WHERE bigram NOT IN (SELECT tok FROM cov${i - 1})
         |  GROUP BY doc_id
         |), w$i AS MATERIALIZED (
         |  SELECT doc_id, gain FROM g$i ORDER BY gain DESC, doc_id LIMIT 1
         |), cov$i AS MATERIALIZED (
         |  SELECT tok FROM cov${i - 1}
         |  UNION SELECT bigram FROM tk JOIN w$i USING (doc_id)
         |)""".stripMargin)
    sb.append("\n" + (1 to k)
      .map(i => s"SELECT $i AS pick, doc_id, gain FROM w$i")
      .mkString("\nUNION ALL "))
    QueryDef.sql("q_max_coverage", sb.toString) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, n - 1), i -> " +
            "concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .as("bigram"))
        .distinct()
      // local tail (GreedyLocal, guide §1.2): per-doc distinct bigram
      // rows are bounded (docs x bounded text); when they fit the
      // LocalTail budget the identical k-round greedy runs driver-local
      // on the probe's rows. GreedyLocalSpec pins local == distributed.
      // Cached first: an over-budget probe still runs the distinct's
      // shuffle, which the rounds then read back instead of recomputing.
      toks.cache()
      val local = graft.ops.LocalTail.collect("max_coverage", toks)
      if (local.isDefined) {
        val out = graft.ops.GreedyLocal.maxCoverage(toks, local.get, k)
        toks.unpersist()
        out
      } else {
      var covered = toks.select(col("bigram")).limit(0)
      val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (i <- 1 to k) {
        val gains = toks
          .join(broadcast(covered), Seq("bigram"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        val w = graft.ops.Iterate.materialize(
          gains.orderBy(col("gain").desc, col("doc_id")).limit(1))
        picks += w.select(lit(i).as("pick"), col("doc_id"), col("gain"))
        covered = graft.ops.Iterate.materialize(
          covered.union(
            toks.join(broadcast(w.select(col("doc_id"))), "doc_id")
              .select(col("bigram"))))
      }
      picks.reduce(_ unionAll _)
      }
    }
  }

  val all: Seq[QueryDef] = Seq(
    zipfQuery,
    maxCoverageQuery,
    // ---- exact dedup: content-hash grouping ----
    QueryDef.sql(
      "q_dedup_exact",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
    },

    // ---- MinHash signatures + LSH bands ----
    QueryDef.sql(
      "q_minhash_bands",
      s"$minhashBandsSql\nSELECT doc_id, band_id, band_hash FROM bands"
    )(minhashBands),

    // ---- LSH candidate near-dup pairs (may legitimately be empty) ----
    QueryDef.sql(
      "q_minhash_pairs",
      s"""$minhashBandsSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         | AND a.doc_id < b.doc_id""".stripMargin
    ) { (s, d) => minhashCandidatePairs(s, d, ordered = true) },

    // ---- CROSS-dataset near-dup: the incremental-ingest gate — an
    //      incoming batch (doc_id % 10 = 0 stands in for today's crawl)
    //      is checked against the EXISTING corpus (the rest) on the
    //      shared MinHash bands; only incoming×corpus band collisions
    //      are enumerated, never corpus×corpus (at 100 TB the corpus
    //      side is a persisted band index bucketed on (band_id,
    //      band_hash), so each ingest batch costs |batch|·bands lookup
    //      joins — the corpus is re-scanned by the index, not re-hashed).
    //      Output per incoming doc: its min-id corpus match (null =
    //      genuinely new) ----
    QueryDef.sql(
      "q_cross_dedup",
      s"""$minhashBandsSql, hits AS (
         |  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_id
         |  FROM bands i JOIN bands c
         |    ON i.band_id = c.band_id AND i.band_hash = c.band_hash
         |  WHERE i.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |)
         |SELECT d.doc_id, min(h.corpus_id) AS matched_corpus_id,
         |  count(h.corpus_id) > 0 AS is_dup
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 0
         |GROUP BY d.doc_id""".stripMargin
    ) { (s, d) =>
      val bands = minhashBands(s, d)
      val incoming = bands.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = bands.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id").as("corpus_id"),
          col("band_id"), col("band_hash"))
      val hits = incoming.join(corpus, Seq("band_id", "band_hash"))
        .select(col("doc_id"), col("corpus_id")).distinct()
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .groupBy(col("doc_id"))
        .agg(min(col("corpus_id")).as("matched_corpus_id"),
          (count(col("corpus_id")) > 0).as("is_dup"))
    },

    // ---- Cluster consensus labeling (weak supervision over near-dup
    //      clusters): per multi-doc LSH connected component, the
    //      plurality `lang` label and the agreement ratio — how
    //      cluster-level metadata is assigned (and its reliability
    //      scored) before propagating it to members. Plurality with
    //      deterministic ties → lexicographic min label via a
    //      cnt-equals-max self-join (no window); sits on the SAME
    //      comp assignment as q_dedup_cc/q_cc_sizes so label and
    //      cluster can never disagree ----
    QueryDef.sql(
      "q_cluster_consensus",
      s"""WITH RECURSIVE ${minhashBandsSql.stripPrefix("WITH ")},
         |$ccCompCtes, asg AS (
         |  SELECT coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.lang
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |), cl AS (
         |  SELECT cluster_id, lang, CAST(count(*) AS BIGINT) AS cnt
         |  FROM asg GROUP BY cluster_id, lang
         |), cs AS (
         |  SELECT cluster_id, CAST(sum(cnt) AS BIGINT) AS csize,
         |    CAST(max(cnt) AS BIGINT) AS maxc
         |  FROM cl GROUP BY cluster_id HAVING sum(cnt) >= 2
         |)
         |SELECT cs.cluster_id, cs.csize, min(cl.lang) AS label,
         |  CAST(floor(cs.maxc * 1e0 / cs.csize * 1e6) AS BIGINT)
         |    AS agreement_fp
         |FROM cs JOIN cl ON cl.cluster_id = cs.cluster_id
         |  AND cl.cnt = cs.maxc
         |GROUP BY cs.cluster_id, cs.csize, cs.maxc""".stripMargin
    ) { (s, d) =>
      val asg = Tables.documents(s, d).select("doc_id", "lang")
        .join(ccClusters(s, d), "doc_id")
        .select(col("cluster_id"), col("lang"))
      val cl = asg.groupBy(col("cluster_id"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val cs = cl.groupBy(col("cluster_id"))
        .agg(sum(col("cnt")).as("csize"), max(col("cnt")).as("maxc"))
        .filter(col("csize") >= 2)
      cs.join(cl, Seq("cluster_id"))
        .filter(col("cnt") === col("maxc"))
        .groupBy(col("cluster_id"), col("csize"), col("maxc"))
        .agg(min(col("lang")).as("label"))
        .select(col("cluster_id"), col("csize"), col("label"),
          floor(col("maxc") * lit(1e0) / col("csize") * 1e6).cast("long")
            .as("agreement_fp"))
    },

    // ---- Contrastive training triplets (anchor, positive, negative)
    //      for embedding-model training data: positives are mined from
    //      the MinHash band collisions (near-dup = semantically close),
    //      negatives are hash-pseudorandom corpus members via the
    //      64-bucket trick — bucket(id) = md5p60(id) % 64, negative =
    //      the anchor's bucket's min id (max id as fallback when the
    //      min collides with the pair). Fully deterministic, no RNG.
    //      Scale shape: the band join is the standard LSH candidate
    //      step; the negative lookup joins a 64-row broadcast frame —
    //      no global ordering, no per-row sampling state ----
    QueryDef.sql(
      "q_contrastive_pairs",
      s"""$minhashBandsSql, pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id
         |), pos AS (
         |  SELECT anchor, min(p) AS pos_id FROM (
         |    SELECT doc_a AS anchor, doc_b AS p FROM pairs
         |    UNION ALL SELECT doc_b, doc_a FROM pairs)
         |  GROUP BY anchor
         |), bk AS (
         |  SELECT ${duckHash("CAST(doc_id AS VARCHAR)")} % 64 AS bucket,
         |    min(doc_id) AS nmin, max(doc_id) AS nmax
         |  FROM documents GROUP BY 1
         |)
         |SELECT p.anchor AS anchor_id, p.pos_id,
         |  CASE WHEN bk.nmin <> p.anchor AND bk.nmin <> p.pos_id
         |         THEN bk.nmin
         |       WHEN bk.nmax <> p.anchor AND bk.nmax <> p.pos_id
         |         THEN bk.nmax
         |       ELSE NULL END AS neg_id
         |FROM pos p JOIN bk
         |  ON bk.bucket = ${duckHash("CAST(p.anchor AS VARCHAR)")} % 64"""
        .stripMargin
    ) { (s, d) =>
      val bands = minhashBands(s, d)
      val pairs = bands
        .select(col("doc_id").as("doc_a"), col("band_id"), col("band_hash"))
        .join(bands.select(col("doc_id").as("doc_b"),
            col("band_id"), col("band_hash")),
          Seq("band_id", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val pos = pairs.select(col("doc_a").as("anchor"), col("doc_b").as("p"))
        .union(pairs.select(col("doc_b").as("anchor"), col("doc_a").as("p")))
        .groupBy(col("anchor")).agg(min(col("p")).as("pos_id"))
      val bk = Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"${sparkHash("cast(doc_id as string)")} % 64").as("bucket"))
        .groupBy(col("bucket"))
        .agg(min(col("doc_id")).as("nmin"), max(col("doc_id")).as("nmax"))
      pos
        .withColumn("bucket",
          expr(s"${sparkHash("cast(anchor as string)")} % 64"))
        .join(broadcast(bk), "bucket")
        .select(col("anchor").as("anchor_id"), col("pos_id"),
          when(col("nmin") =!= col("anchor")
              && col("nmin") =!= col("pos_id"), col("nmin"))
            .when(col("nmax") =!= col("anchor")
              && col("nmax") =!= col("pos_id"), col("nmax"))
            .otherwise(lit(null)).as("neg_id"))
    },

    // ---- MinHash near-dup dedup: candidate pairs -> min-id rep per doc ----
    QueryDef.sql(
      "q_dedup_minhash",
      s"""$minhashBandsSql, pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id <> b.doc_id
         |)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(min(p.doc_b), d.doc_id)) AS keep_doc_id,
         |  least(d.doc_id, coalesce(min(p.doc_b), d.doc_id)) < d.doc_id AS is_dup
         |FROM documents d LEFT JOIN pairs p ON p.doc_a = d.doc_id
         |GROUP BY d.doc_id""".stripMargin
    ) { (s, d) =>
      graft.ops.NearDup.dedupByMinhash(Tables.documents(s, d))
        .withColumnRenamed("keep_id", "keep_doc_id")
        .select("doc_id", "keep_doc_id", "is_dup")
    },

    // ---- TRANSITIVE near-dup clusters: connected components over the
    //      LSH candidate pairs (large-star/small-star — see
    //      ops.ConnectedComponents). Differs from q_dedup_minhash's
    //      one-hop rep exactly when chains A~B~C exist; the oracle's
    //      recursive CTE computes the same min-reachable-id fixpoint ----
    QueryDef.sql(
      "q_dedup_cc",
      s"""WITH RECURSIVE ${minhashBandsSql.stripPrefix("WITH ")},
         |$ccCompCtes
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(c.cluster_id, d.doc_id) < d.doc_id AS is_dup
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin
    ) { (s, d) =>
      ccClusters(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") < col("doc_id")).as("is_dup"))
    },

    // ---- Near-dup cluster SIZE distribution (the curation dashboard's
    //      first question about a dedup pass: how big are the duplicate
    //      families?): histogram of q_dedup_cc's connected-component
    //      sizes — size 1 = unique docs, the tail = boilerplate
    //      families. Reuses the exact CC machinery + oracle CTEs, adds
    //      two bounded hash aggs ----
    QueryDef.sql(
      "q_cc_sizes",
      s"""WITH RECURSIVE ${minhashBandsSql.stripPrefix("WITH ")},
         |$ccCompCtes, cl AS (
         |  SELECT coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |), sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cl_size
         |  FROM cl GROUP BY cluster_id
         |)
         |SELECT cl_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cl_size) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cl_size ORDER BY cl_size""".stripMargin
    ) { (s, d) =>
      ccClusters(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cl_size"))
        .groupBy(col("cl_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cl_size")).as("n_docs"))
        .orderBy(col("cl_size"))
    },

    // ---- CDC apply (last-writer-wins with tombstones): resolve a
    //      change-log of Upserts/Deletes to the current table state —
    //      the lakehouse ingestion primitive under every MERGE-based
    //      mirror. The per-key winner travels as a partial-aggregable
    //      max(struct(seq, op, value)) — ONE hash agg, no window, no
    //      per-key row buffering; deletes win by sequence and then drop
    //      out ----
    QueryDef.sql(
      "q_cdc_apply",
      """WITH log AS (
        |  SELECT user_id,
        |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    ts, event_id, value
        |  FROM events
        |), win AS (
        |  SELECT user_id, op, ts, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM log)
        |  WHERE rn = 1
        |)
        |SELECT user_id, ts AS last_ts, value AS last_value
        |FROM win WHERE op <> 'D'""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"),
          when(pmod(col("event_id"), lit(10)) === 0, lit("D"))
            .otherwise(lit("U")).as("op"),
          col("ts"), col("event_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("op"), col("value")))
          .as("w"))
        .filter(col("w.op") =!= "D")
        .select(col("user_id"), col("w.ts").as("last_ts"),
          col("w.value").as("last_value"))
    },

    // ---- quality-chosen cluster representative: per near-dup cluster
    //      (the q_dedup_cc components), keep the member with the most
    //      content (max n_chars, ties -> lowest doc_id) instead of the
    //      arbitrary min-id copy. One hash agg on the cluster key —
    //      the argmax travels as max(struct(score, -id)), partial-
    //      aggregatable, so no per-cluster member list is buffered ----
    QueryDef.sql(
      "q_cluster_rep",
      s"""WITH RECURSIVE ${minhashBandsSql.stripPrefix("WITH ")}, pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
         |), comp AS (
         |  SELECT id, min(r) AS rep FROM reach GROUP BY id
         |), memb AS (
         |  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_id, d.n_chars
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |), mx AS (
         |  SELECT cluster_id, max(n_chars) AS rep_score,
         |    count(*) AS n_members
         |  FROM memb GROUP BY cluster_id
         |)
         |SELECT m.cluster_id, min(b.doc_id) AS rep_id, m.rep_score, m.n_members
         |FROM mx m JOIN memb b
         |  ON b.cluster_id = m.cluster_id AND b.n_chars = m.rep_score
         |GROUP BY m.cluster_id, m.rep_score, m.n_members""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val pairs = graft.ops.NearDup
        .minhashCandidatePairs(Tables.documents(s, d), ordered = true)
      val comp = graft.ops.ConnectedComponents.run(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val memb = docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("cluster_id"),
          col("n_chars"))
      graft.ops.Curation.bestInCluster(
        memb, cluster = "cluster_id", id = "doc_id", score = "n_chars")
    },

    // ---- the WHOLE curation pipeline, hash-matched cross-engine: exact
    //      dedup -> minhash-LSH pairs -> connected-components near-dedup
    //      -> quality gate -> PII scrub -> chunking -> packed bins, every
    //      stage the same SQL fragment its standalone oracle uses. This
    //      is the end-to-end gate on pipelines.CorpusPipeline.curate ----
    QueryDef.sql(
      "q_curate_e2e",
      s"""WITH RECURSIVE keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), d1 AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN keep1 USING (doc_id)
         |), ${minhashBandsSqlFor("d1").stripPrefix("WITH ")}, pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
         |), comp AS (
         |  SELECT id, min(r) AS rep FROM reach GROUP BY id
         |), d2 AS (
         |  SELECT d1.doc_id, d1.text FROM d1
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM comp c WHERE c.id = d1.doc_id AND c.rep < d1.doc_id)
         |), q AS (
         |  SELECT doc_id, text FROM d2
         |  WHERE len(string_split(text, ' ')) >= 5
         |    AND len(string_split(text, ' ')) <= 10000
         |    AND (CASE WHEN length(text) = 0 THEN 0e0
         |         ELSE length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1e0
         |           / length(text) END) <= 3e-1
         |    AND (CASE WHEN len(string_split(text, ' ')) = 0 THEN 0e0
         |         ELSE len(list_distinct(string_split(text, ' '))) * 1e0
         |           / len(string_split(text, ' ')) END) >= 2e-1
         |), p AS (
         |  SELECT doc_id,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(text, '${graft.ops.Curation.EmailRe}', '<EMAIL>', 'g'),
         |        '${graft.ops.Curation.PhoneRe}', '<PHONE>', 'g'),
         |      '${graft.ops.Curation.Ipv4Re}', '<IP>', 'g') AS text
         |  FROM q
         |), t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n
         |  FROM p
         |), e2 AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, CASE WHEN n <= 32 THEN 1
         |                         ELSE (n - 32 + 23) // 24 + 1 END)) AS chunk_id
         |  FROM t
         |), ch AS (
         |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |    md5(array_to_string(
         |      list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' '))
         |      AS chunk_digest,
         |    len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32))
         |      AS n_chunk_tokens,
         |    concat(CAST(doc_id AS VARCHAR), '#', CAST(chunk_id AS VARCHAR))
         |      AS chunk_key
         |  FROM e2
         |), hh AS (
         |  SELECT *, CAST(concat('0x', substr(md5(chunk_key), 1, 15)) AS BIGINT) AS hv
         |  FROM ch
         |), c2 AS (
         |  SELECT doc_id, chunk_id, chunk_digest, n_chunk_tokens, hv % 8 AS shard,
         |    CAST(sum(n_chunk_tokens) OVER (PARTITION BY hv % 8 ORDER BY hv, chunk_key
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM hh
         |)
         |SELECT doc_id, chunk_id, chunk_digest, n_chunk_tokens, shard, cum_tokens,
         |  CAST((cum_tokens - 1) // 2048 AS BIGINT) AS bin_id
         |FROM c2""".stripMargin
    ) { (s, d) =>
      graft.pipelines.CorpusPipeline.curate(Tables.documents(s, d))
        .select(
          col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_digest"),
          col("n_chunk_tokens"), col("shard"), col("cum_tokens"), col("bin_id"))
    },

    // ---- MinHash sketch-quality eval: estimated vs EXACT Jaccard on
    //      q_jaccard_pairs' deterministic pair sample — the measurement
    //      that justifies (or resizes) the 16-perm signature before
    //      trusting near-dup decisions to it. est16 = # agreeing mins
    //      (E[est16/16] = J); err is the integer difference of the two
    //      1e6-quantized similarities. All-integer: min-hashes, shingle
    //      counts, and intersections are exact in both engines ----
    QueryDef.sql(
      "q_minhash_err",
      s"""$minhashBandsSql, sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM sh_raw
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT sa.doc_id AS doc_a, count(*) AS ni
         |  FROM sh sa JOIN sh sb
         |    ON sa.shingle = sb.shingle AND sb.doc_id = sa.doc_id + 1
         |  WHERE sa.doc_id % 10 = 0
         |  GROUP BY sa.doc_id
         |), sigm AS (
         |  SELECT a.doc_id AS doc_a, CAST(${(0 until 16)
            .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
            .mkString(" + ")} AS BIGINT) AS est16
         |  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 10 = 0
         |)
         |SELECT s.doc_a, s.doc_a + 1 AS doc_b, s.est16,
         |  s.est16 * 62500 AS est_fp,
         |  CAST(floor(COALESCE(i.ni, 0) * 1e0
         |    / (ca.n + cb.n - COALESCE(i.ni, 0)) * 1e6) AS BIGINT) AS jacc_fp,
         |  s.est16 * 62500 - CAST(floor(COALESCE(i.ni, 0) * 1e0
         |    / (ca.n + cb.n - COALESCE(i.ni, 0)) * 1e6) AS BIGINT) AS err_fp
         |FROM sigm s
         |JOIN cnt ca ON ca.doc_id = s.doc_a
         |JOIN cnt cb ON cb.doc_id = s.doc_a + 1
         |LEFT JOIN inter i ON i.doc_a = s.doc_a""".stripMargin
    ) { (s, d) =>
      // signature mins (same family as NearDup.minhashBands, pre-stack)
      val hashed = graft.ops.NearDup.shingles(Tables.documents(s, d))
        .filter(col("doc_id") % 10 <= 1)
        .select(col("doc_id"), expr(s"md5p60(shingle) % $P").as("h"))
      val sig = hashed.groupBy(col("doc_id")).agg(
        min(expr(s"(h * ${perms.head._1} + ${perms.head._2}) % $P")).as("m0"),
        perms.zipWithIndex.tail.map { case ((a, b), j) =>
          min(expr(s"(h * $a + $b) % $P")).as(s"m$j")
        }: _*)
      val sigm = sig.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("doc_a") +: (0 until 16)
          .map(j => col(s"m$j").as(s"a$j")): _*)
        .join(sig.select(col("doc_id").as("doc_bb") +: (0 until 16)
            .map(j => col(s"m$j").as(s"b$j")): _*),
          col("doc_bb") === col("doc_a") + 1)
        .select(col("doc_a"),
          (0 until 16).map(j =>
              when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
            .reduce(_ + _).as("est16"))
      val sh = shingleDf(s, d).filter(col("doc_id") % 10 <= 1).distinct()
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("ia"), col("shingle"))
        .join(sh.select(col("doc_id").as("ib"),
            col("shingle").as("shingle_b")),
          col("shingle") === col("shingle_b") && col("ib") === col("ia") + 1)
        .groupBy(col("ia")).agg(count(lit(1)).as("ni"))
      val jaccFp = floor(coalesce(col("ni"), lit(0L)) * lit(1e0)
        / (col("na") + col("nb") - coalesce(col("ni"), lit(0L))) * 1e6)
        .cast("long")
      sigm
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(cnt.select((col("doc_id") - 1).as("doc_a"), col("n").as("nb")), "doc_a")
        .join(inter.select(col("ia").as("doc_a"), col("ni")), Seq("doc_a"), "left")
        .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"), col("est16"),
          (col("est16") * 62500).as("est_fp"), jaccFp.as("jacc_fp"),
          (col("est16") * 62500 - jaccFp).as("err_fp"))
    },

    // ---- LSH S-curve calibration: empirical band-collision rate per
    //      exact-Jaccard decile vs the analytic 1−(1−s^r)^b curve for
    //      the deployed r = 4 rows × b = 4 bands scheme — the reading
    //      that tells a near-dup pipeline where its candidate threshold
    //      actually sits before committing a 100-TB dedup to it
    //      (q_minhash_err grades the signature's estimate; this grades
    //      the BANDING built on it). Pair sample = consecutive-id pairs
    //      (the low-similarity mass) ∪ rare-shingle-blocked pairs
    //      (df ≤ 5 posting lists — an LSH-INDEPENDENT blocking scheme,
    //      so a high-sim pair's band-collision outcome is a genuine
    //      measurement, not true by construction; pair volume is
    //      Σ df² ≤ 5·|postings|, bounded). All counts exact integers;
    //      the analytic curve is one shared-spelling double chain
    //      (integer powers by repeated multiplication, no pow()) ----
    QueryDef.sql(
      "q_lsh_scurve", {
        val sMid = "((CAST(bucket AS DOUBLE) + 5e-1) / 1e1)"
        val s4 = s"($sMid * $sMid * $sMid * $sMid)"
        val analytic = s"CAST(floor((1e0 - (1e0 - $s4) * (1e0 - $s4)" +
          s" * (1e0 - $s4) * (1e0 - $s4)) * 1e6) AS BIGINT)"
        s"""$minhashBandsSql, sh AS (
           |  SELECT DISTINCT doc_id, shingle FROM sh_raw
           |), cnt AS (
           |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
           |), rare AS (
           |  SELECT shingle FROM sh GROUP BY shingle
           |  HAVING count(*) BETWEEN 2 AND 5
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM sh a JOIN rare r ON r.shingle = a.shingle
           |  JOIN sh b ON b.shingle = a.shingle AND b.doc_id > a.doc_id
           |  UNION
           |  SELECT ca.doc_id, cb.doc_id
           |  FROM cnt ca JOIN cnt cb ON cb.doc_id = ca.doc_id + 1
           |), inter AS (
           |  SELECT p.doc_a, p.doc_b, count(*) AS ni
           |  FROM pairs p
           |  JOIN sh a ON a.doc_id = p.doc_a
           |  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
           |  GROUP BY p.doc_a, p.doc_b
           |), cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id
           |), pj AS (
           |  SELECT
           |    CAST(least(floor(COALESCE(i.ni, 0) * 1e0
           |      / (ca.n + cb.n - COALESCE(i.ni, 0)) * 1e1), 9e0) AS BIGINT)
           |      AS bucket,
           |    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand
           |  FROM pairs p
           |  JOIN cnt ca ON ca.doc_id = p.doc_a
           |  JOIN cnt cb ON cb.doc_id = p.doc_b
           |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
           |  LEFT JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
           |)
           |SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(is_cand) AS BIGINT) AS n_cand,
           |  CAST(floor(CAST(sum(is_cand) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS emp_rate_fp,
           |  $analytic AS analytic_fp
           |FROM pj GROUP BY bucket""".stripMargin
      }
    ) { (s, d) =>
      val sMid = "((CAST(bucket AS DOUBLE) + 5e-1) / 1e1)"
      val s4 = s"($sMid * $sMid * $sMid * $sMid)"
      val analytic = s"CAST(floor((1e0 - (1e0 - $s4) * (1e0 - $s4)" +
        s" * (1e0 - $s4) * (1e0 - $s4)) * 1e6) AS BIGINT)"
      val sh = shingleDf(s, d).distinct()
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 5)).select("shingle")
      val rarePairs = sh.join(rare, "shingle")
        .select(col("doc_id").as("doc_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
          Seq("shingle"))
        .filter(col("doc_b") > col("doc_a"))
        .select("doc_a", "doc_b")
      val consecPairs = cnt.select(col("doc_id").as("doc_a"))
        .join(cnt.select((col("doc_id") - 1).as("doc_a")), "doc_a")
        .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"))
      val pairs = rarePairs.union(consecPairs).distinct()
      val inter = pairs
        .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"),
          col("shingle").as("shingle_b")), "doc_b")
        .filter(col("shingle_b") === col("shingle"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
      val bands = minhashBands(s, d)
      val cand = bands
        .select(col("doc_id").as("doc_a"), col("band_id"), col("band_hash"))
        .join(bands.select(col("doc_id").as("doc_b"),
            col("band_id"), col("band_hash")),
          Seq("band_id", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      pairs
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")),
          "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          "doc_b")
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .join(cand.withColumn("cc", lit(1)), Seq("doc_a", "doc_b"), "left")
        .select(
          least(floor(coalesce(col("ni"), lit(0L)) * lit(1e0)
            / (col("na") + col("nb") - coalesce(col("ni"), lit(0L)))
            * 1e1), lit(9e0)).cast("long").as("bucket"),
          when(col("cc").isNull, 0).otherwise(1).as("is_cand"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("is_cand")).cast("long").as("n_cand"))
        .selectExpr("bucket", "n_pairs", "n_cand",
          """CAST(floor(CAST(n_cand AS DOUBLE)
            |  / CAST(n_pairs AS DOUBLE) * 1e6) AS BIGINT)""".stripMargin
            + " AS emp_rate_fp",
          s"$analytic AS analytic_fp")
    },

    // ---- n-gram Jaccard similarity on a deterministic pair sample ----
    QueryDef.sql(
      "q_jaccard_pairs",
      s"""WITH $shingleSql, sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM sh_raw
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 10 = 0
         |), inter AS (
         |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ni
         |  FROM sh sa JOIN sh sb
         |    ON sa.shingle = sb.shingle AND sb.doc_id = sa.doc_id + 1
         |  WHERE sa.doc_id % 10 = 0
         |  GROUP BY sa.doc_id, sb.doc_id
         |)
         |SELECT p.doc_a, p.doc_b,
         |  COALESCE(i.ni, 0) * 1e0 / (ca.n + cb.n - COALESCE(i.ni, 0)) AS jaccard
         |FROM pairs p
         |JOIN cnt ca ON ca.doc_id = p.doc_a
         |JOIN cnt cb ON cb.doc_id = p.doc_b
         |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b""".stripMargin
    ) { (s, d) =>
      // only docs with doc_id%10 in {0,1} appear in the sampled pairs, so
      // prune the shingle frame BEFORE the distinct/count/self-join — the
      // shuffles downstream shrink ~5x and results are identical
      val sh = shingleDf(s, d)
        .filter(col("doc_id") % 10 <= 1)
        .distinct()
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val docs = Tables.documents(s, d).select("doc_id")
      val pairs = docs
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b")),
          col("doc_b") === col("doc_a") + 1)
      val inter = sh.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("ia"), col("shingle"))
        .join(
          sh.select(col("doc_id").as("ib"), col("shingle").as("shingle_b")),
          col("shingle") === col("shingle_b") && col("ib") === col("ia") + 1)
        .groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("ni"))
      pairs
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .join(inter, col("ia") === col("doc_a") && col("ib") === col("doc_b"), "left")
        .select(
          col("doc_a"),
          col("doc_b"),
          (coalesce(col("ni"), lit(0L)) * lit(1.0) /
            (col("na") + col("nb") - coalesce(col("ni"), lit(0L)))).as("jaccard"))
    },

    // ---- asymmetric shingle containment (quote/subset detection):
    //      containment(A⊂B) = |A∩B| / |A| finds B quoting or embedding A
    //      even when |B| >> |A| — the case symmetric Jaccard (and
    //      MinHash, which estimates it) structurally misses. Candidates
    //      come from the shingle INVERTED INDEX, not sampled pairs:
    //      only docs sharing >= 1 surviving shingle ever pair. The
    //      posting cap (shingles in > 20 docs dropped) bounds per-
    //      shingle join fan-out at C(20,2) — boilerplate shingles carry
    //      no identity signal, the standard IR mitigation, and the same
    //      hub argument as q_link_pred. Both containments are exact fp
    //      over the CAPPED shingle space (denominators from the same
    //      filtered index the intersections come from) ----
    QueryDef.sql(
      "q_containment",
      s"""WITH $shingleSql, sh AS (
         |  SELECT DISTINCT doc_id, ${duckHash("shingle")} AS h FROM sh_raw
         |), post AS (
         |  SELECT h FROM sh GROUP BY h HAVING count(*) <= 20
         |), shc AS (
         |  SELECT sh.doc_id, sh.h FROM sh JOIN post USING (h)
         |), cnt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shc
         |  GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS ni
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, ni,
         |  (ni * 1000000) // ca.n AS cont_a_fp,
         |  (ni * 1000000) // cb.n AS cont_b_fp
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = doc_a
         |JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE (ni * 1000000) // ca.n >= 500000
         |   OR (ni * 1000000) // cb.n >= 500000""".stripMargin
    ) { (s, d) =>
      val sh = shingleDf(s, d)
        .select(col("doc_id"), expr(sparkHash("shingle")).as("h"))
        .distinct()
      val post = sh.groupBy(col("h")).agg(count(lit(1)).as("npost"))
        .filter(col("npost") <= 20).select(col("h"))
      val shc = sh.join(post, Seq("h"), "left_semi")
      val cnt = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = shc.select(col("doc_id").as("doc_a"), col("h"))
        .join(shc.select(col("doc_id").as("doc_b"), col("h")), "h")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("ni"))
      inter
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")),
          Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("ni"),
          expr("(ni * 1000000L) div na").as("cont_a_fp"),
          expr("(ni * 1000000L) div nb").as("cont_b_fp"))
        .filter(col("cont_a_fp") >= 500000L || col("cont_b_fp") >= 500000L)
    },

    // ---- text quality statistics ----
    QueryDef.sql(
      "q_text_stats",
      s"""SELECT doc_id,
        |  length(text) AS n_chars_calc,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
        |  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1e0 / length(text) AS punct_ratio,
        |  len(list_filter(string_split(text, ' '),
        |      t -> t IN (${graft.ops.TextPrep.StopWordsSql}))) * 1e0
        |    / len(string_split(text, ' ')) AS stopword_ratio,
        |  CAST(ceil(length(text) / 4e0) AS BIGINT) AS n_tokens_bpe_est,
        |  len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +'))
        |    AS n_tokens_bpe
        |FROM documents""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("n_uniq_tokens"),
        (length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") *
          lit(1.0) / length(col("text"))).as("punct_ratio"),
        (expr(
          "size(filter(split(text, ' '), " +
            s"t -> t IN (${graft.ops.TextPrep.StopWordsSql})))")
          .cast("double") * lit(1.0) /
          size(split(col("text"), " "))).as("stopword_ratio"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens_bpe_est"),
        // GPT-2-style pre-tokenizer segments, reduced to the Java∩RE2
        // regex subset (no lookahead — both engines are leftmost-first
        // on this alternation): word / number / punct runs with an
        // optional leading space, plus bare space runs
        size(regexp_extract_all(
          col("text"), lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"), lit(0)))
          .cast("long").as("n_tokens_bpe")
      )
    },

    // ---- canonical text normalization (pre-dedup cleanup): lowercase,
    //      control chars stripped, whitespace collapsed, trimmed —
    //      TextPrep.normalized, per-row exact in both engines (DuckDB
    //      needs the 'g' flag; Spark replaces all matches by default) ----
    QueryDef.sql(
      "q_normalize_text",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[\x00-\x1f]', ' ', 'g'), '  +', ' ', 'g')) AS norm_text,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[\x00-\x1f]', ' ', 'g'), '  +', ' ', 'g')) <> text AS changed
        |FROM documents""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        graft.ops.TextPrep.normalized.as("norm_text"),
        (graft.ops.TextPrep.normalized =!= col("text")).as("changed"))
    },

    // ---- deterministic stratified sampling: hash-Bernoulli per doc with
    //      per-language rates — reproducible at any parallelism, unlike
    //      rand()-based sampling, and exactly repeatable across engines ----
    QueryDef.sql(
      "q_sample_docs",
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 100 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, lang, bucket FROM h
        |WHERE bucket < (CASE lang WHEN 'en' THEN 20 ELSE 50 END)""".stripMargin
    ) { (s, d) =>
      graft.ops.Sharding.stratifiedSample(
          Tables.documents(s, d).select("doc_id", "lang"), "doc_id",
          when(col("lang") === "en", 20).otherwise(50))
        .select("doc_id", "lang", "bucket")
    },

    // ---- deterministic train/val/test split: disjoint hash-bucket
    //      ranges (70/15/15) — membership is a pure function of doc_id,
    //      so the split is stable across runs, engines, and any
    //      parallelism, and a doc can never leak between sets ----
    QueryDef.sql(
      "q_split_sets",
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 100 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 70 THEN 'train'
        |       WHEN bucket < 85 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), graft.ops.Sharding.hashBucket("doc_id").as("bucket"))
        .withColumn("split",
          when(col("bucket") < 70, "train")
            .when(col("bucket") < 85, "val")
            .otherwise("test"))
    },

    // ---- fixed-size per-group sample: exactly min(k, n_g) docs per
    //      (lang, source) as the k smallest id-hashes. The engine runs
    //      the two-phase threshold+rank of Sharding.samplePerGroup (no
    //      hot-group window); the oracle computes the equivalent naive
    //      full-window answer ----
    QueryDef.sql(
      "q_sample_per_group",
      """WITH h AS (
        |  SELECT doc_id, lang, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY hv, doc_id)
        |      AS sample_rank
        |  FROM h
        |)
        |SELECT doc_id, lang, source, sample_rank FROM r
        |WHERE sample_rank <= 8""".stripMargin
    ) { (s, d) =>
      graft.ops.Sharding.samplePerGroup(
        Tables.documents(s, d).select("doc_id", "lang", "source"),
        "doc_id", Seq("lang", "source"), k = 8)
    },

    // ---- sharded inverted index: token -> fixed-size posting BLOCKS.
    //      The shard count ADAPTS per token (ceil(df/64)), so no single
    //      row ever carries more than ~64 postings — a corpus-scale
    //      stopword fans out to df/64 block rows instead of one n-sized
    //      list (a fixed shard count would leave n/shards postings in
    //      one row at 100 TB). df filter keeps the output to
    //      corpus-frequent tokens; the tok equi-joins co-partition with
    //      the block groupBy (no broadcast of the vocabulary). Posting
    //      CSVs are numerically sorted — portable, exactly comparable
    //      across engines ----
    QueryDef.sql(
      "q_inverted_index",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), dt AS (
        |  SELECT DISTINCT doc_id, tok FROM toks
        |), keep AS (
        |  SELECT tok, count(*) AS df,
        |    CAST(ceil(count(*) / 64e0) AS BIGINT) AS n_blocks
        |  FROM dt GROUP BY tok HAVING count(*) >= 60
        |)
        |SELECT d.tok, k.df, d.doc_id % k.n_blocks AS shard,
        |  count(*) AS df_shard,
        |  string_agg(CAST(d.doc_id AS VARCHAR), ',' ORDER BY d.doc_id) AS postings
        |FROM dt d JOIN keep k USING (tok)
        |GROUP BY d.tok, k.df, d.doc_id % k.n_blocks""".stripMargin
    ) { (s, d) =>
      val dt = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val keep = dt.groupBy("tok")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 60)
        .withColumn("n_blocks", ceil(col("df") / lit(64.0)))
      dt.join(keep, Seq("tok"))
        .withColumn("shard", pmod(col("doc_id"), col("n_blocks")))
        .groupBy("tok", "df", "shard")
        .agg(
          count(lit(1)).as("df_shard"),
          sort_array(collect_list(col("doc_id"))).as("__p"))
        .withColumn("postings",
          expr("array_join(transform(__p, x -> CAST(x AS STRING)), ',')"))
        .select("tok", "df", "shard", "df_shard", "postings")
    },

    // ---- skew-salted two-phase aggregation == the plain groupBy answer
    //      (ops.Skew.saltedAgg; exact-integer aggregates so the result
    //      is order-independent and oracle-comparable; DuckDB's integer
    //      sum is HUGEINT, hence the CAST) ----
    QueryDef.sql(
      "q_salted_agg",
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source""".stripMargin
    ) { (s, d) =>
      graft.ops.Skew.saltedAgg(
        Tables.documents(s, d).select("lang", "source", "n_chars"),
        Seq("lang", "source"), salts = 8,
        Seq(
          "n_chars" -> graft.ops.Skew.SaltedAgg("n_docs", _ => count(lit(1)), sum),
          "n_chars" -> graft.ops.Skew.sumAgg("sum_chars"),
          "n_chars" -> graft.ops.Skew.minAgg("min_chars"),
          "n_chars" -> graft.ops.Skew.maxAgg("max_chars")))
    },

    // ---- hot-key replicated JOIN == the plain join answer
    //      (ops.Skew.skewJoin): fact rows of hot keys salt across 8
    //      reducers, dim hot rows replicate once per salt — ONE uniform
    //      (key, salt) equi join, no hot partition. Gate compares the
    //      aggregated join output against DuckDB's plain join ----
    QueryDef.sql(
      "q_skew_join",
      """SELECT c.c_mktsegment, e.event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(e.value * 1e6) AS BIGINT)) AS BIGINT)
        |    AS sum_v_fp
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1, 2""".stripMargin
    ) { (s, d) =>
      val fact = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.ops.Skew.skewJoin(fact, dim, "user_id", hotThreshold = 60, salts = 8)
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 1e6) AS BIGINT)")).cast("long")
            .as("sum_v_fp"))
    },

    // ---- deterministic shuffle ordering: hash-sharded training order.
    //      Rank is PER SHARD (dataloaders consume shards independently),
    //      so there is no global single-partition sort; identical on
    //      1 core or 1000 (rand() ordering is not) ----
    QueryDef.sql(
      "q_shuffle_order",
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM documents
        |)
        |SELECT doc_id, hv % 16 AS shard,
        |  row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id)
        |    AS rank_in_shard
        |FROM h""".stripMargin
    ) { (s, d) =>
      graft.ops.Sharding
        .shuffleOrder(Tables.documents(s, d).select("doc_id"), "doc_id", 16)
        .select("doc_id", "shard", "rank_in_shard")
    },

    // ---- sequence packing: docs -> fixed token-budget training bins.
    //      Deterministic shard-local packing (cumulative token count over
    //      the hash order, bin = cumsum div budget): each shard packs
    //      independently, so the operator scales with shards and needs no
    //      global sequential pass ----
    QueryDef.sql(
      "q_pack_bins",
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, hv % 16 AS shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM h
        |)
        |SELECT doc_id, shard, n_tokens, cum_tokens,
        |  CAST((cum_tokens - 1) // 2048 AS BIGINT) AS bin_id
        |FROM c""".stripMargin
    ) { (s, d) =>
      graft.ops.Sharding.packBins(
          Tables.documents(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", shards = 16, budget = 2048)
        .select("doc_id", "shard", "n_tokens", "cum_tokens", "bin_id")
    },

    // ---- quality FILTER: Gopher-style keep/drop rules with reasons —
    //      the decision layer on top of the q_text_stats scores ----
    QueryDef.sql(
      "q_quality_filter",
      s"""WITH s AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN len(string_split(text, ' ')) = 0 THEN 0e0
        |         ELSE len(list_filter(string_split(text, ' '),
        |             t -> t IN (${graft.ops.TextPrep.StopWordsSql}))) * 1e0
        |           / len(string_split(text, ' ')) END AS stop_ratio,
        |    CASE WHEN length(text) = 0 THEN 0e0
        |         ELSE length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1e0
        |           / length(text) END AS punct_ratio,
        |    CASE WHEN len(string_split(text, ' ')) = 0 THEN 0e0
        |         ELSE len(list_distinct(string_split(text, ' '))) * 1e0
        |           / len(string_split(text, ' ')) END AS uniq_ratio
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens, stop_ratio, punct_ratio, uniq_ratio,
        |  CASE WHEN n_tokens < 5 THEN 'too_short'
        |       WHEN n_tokens > 10000 THEN 'too_long'
        |       WHEN punct_ratio > 3e-1 THEN 'too_much_punct'
        |       WHEN uniq_ratio < 2e-1 THEN 'too_repetitive'
        |       ELSE 'keep' END AS verdict,
        |  (CASE WHEN n_tokens < 5 THEN 'too_short'
        |       WHEN n_tokens > 10000 THEN 'too_long'
        |       WHEN punct_ratio > 3e-1 THEN 'too_much_punct'
        |       WHEN uniq_ratio < 2e-1 THEN 'too_repetitive'
        |       ELSE 'keep' END) = 'keep' AS kept
        |FROM s""".stripMargin
    ) { (s, d) =>
      // expressions shared verbatim with the streaming quality gate
      // (ops.TextPrep / streaming.DocStream) — one definition, two plans
      import graft.ops.TextPrep
      Tables.documents(s, d).select(
        col("doc_id"),
        TextPrep.nTokens.as("n_tokens"),
        TextPrep.stopRatio.as("stop_ratio"),
        TextPrep.punctRatio.as("punct_ratio"),
        TextPrep.uniqRatio.as("uniq_ratio"),
        TextPrep.verdict.as("verdict"),
        (TextPrep.verdict === "keep").as("kept"))
    },

    // ---- language-ID scoring (stopword-list n-gram heuristic) ----
    QueryDef.sql(
      "q_lang_scores", {
        def score(words: String) =
          s"len(list_filter(string_split(text, ' '), t -> t IN ($words)))"
        val en = score("'the', 'a', 'of', 'and', 'to'")
        val de = score("'der', 'die', 'das', 'und', 'ist'")
        val es = score("'el', 'la', 'de', 'y', 'que'")
        s"""SELECT doc_id, lang,
           |  $en AS en_score, $de AS de_score, $es AS es_score,
           |  CASE WHEN $en >= $de AND $en >= $es THEN 'en'
           |       WHEN $de >= $es THEN 'de' ELSE 'es' END AS pred_lang
           |FROM documents""".stripMargin
      }
    ) { (s, d) =>
      def score(words: String) =
        expr(s"size(filter(split(text, ' '), t -> t IN ($words)))").cast("long")
      val en = score("'the', 'a', 'of', 'and', 'to'")
      val de = score("'der', 'die', 'das', 'und', 'ist'")
      val es = score("'el', 'la', 'de', 'y', 'que'")
      Tables.documents(s, d).select(
        col("doc_id"),
        col("lang"),
        en.as("en_score"),
        de.as("de_score"),
        es.as("es_score"),
        when(en >= de && en >= es, "en").when(de >= es, "de").otherwise("es")
          .as("pred_lang"))
    },

    // ---- rolling-hash document fingerprint ----
    QueryDef.sql(
      "q_fingerprint",
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '), t -> ${duckHash("t")})),
         |    (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
         |FROM documents""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        expr(
          s"aggregate(transform(split(text, ' '), t -> ${sparkHash("t")}), " +
            "cast(0 as bigint), (acc, x) -> (acc * 131 + x) % 1000000007)")
          .as("fingerprint"))
    },

    // ---- brute-force cosine top-k ANN baseline ----
    QueryDef.sql(
      "q_knn_brute", {
        def dot(a: String, b: String) = OracleVec.dot(a, b)
        s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           |  WHERE vec_id < 10
           |), c AS (
           |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
           |), p AS (
           |  SELECT q_id, c_id,
           |    ${dot("q_emb", "c_emb")}
           |    / (sqrt(${dot("q_emb", "q_emb")}) * sqrt(${dot("c_emb", "c_emb")}))
           |    AS cosine
           |  FROM q, c WHERE q_id <> c_id
           |)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cosine DESC, c_id) AS rank FROM p) WHERE rank <= 5""".stripMargin
      }
    ) { (s, d) =>
      // native codegen'd dot product (graft.functions.VecDot) — same left-
      // fold semantics as the aggregate(zip_with(...)) formulation and the
      // DuckDB list_reduce oracle, without the per-row HOF interpreter cost
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cand = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      cand
        .crossJoin(broadcast(qv))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn(
          "cosine",
          graft.functions.VecOps.cosine(col("q_emb"), col("c_emb")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("q_id", "c_id", "cosine", "rank")
    }.intendsNestedLoop(
      "broadcast side is the 10-row probe set; corpus streams once"),

    // ---- gap-based sessionization over the event stream ----
    QueryDef.sql(
      "q_sessions",
      """WITH o AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |), s AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |            THEN 1 ELSE 0 END AS new_sess
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), t AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM s
        |)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(floor((value) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sum_value
        |FROM t GROUP BY user_id, session_seq""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select("event_id", "user_id", "ts", "value")
        .withColumn(
          "new_sess",
          when(
            lag(col("ts"), 1).over(w).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
                1800000000L,
            1).otherwise(0))
        .withColumn(
          "session_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          dsum(col("value")).as("sum_value"))
    },

    // ---- column profiling: completeness / cardinality / range stats,
    //      one scan, all columns — the data-quality gate a training
    //      pipeline runs before ingesting a source ----
    QueryDef.sql(
      "q_profile_events",
      s"""SELECT
         |  count(*) AS n_rows,
         |  count(event_id) AS nn_event_id,
         |  count(user_id) AS nn_user_id,
         |  count(event_type) AS nn_event_type,
         |  count(ts) AS nn_ts,
         |  count(value) AS nn_value,
         |  count(DISTINCT event_type) AS card_event_type,
         |  count(DISTINCT user_id) AS card_user_id,
         |  min(value) AS min_value, max(value) AS max_value,
         |  ${davg2Sql("value")} AS avg_value,
         |  min(ts) AS min_ts, max(ts) AS max_ts
         |FROM events""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("event_id")).as("nn_event_id"),
        count(col("user_id")).as("nn_user_id"),
        count(col("event_type")).as("nn_event_type"),
        count(col("ts")).as("nn_ts"),
        count(col("value")).as("nn_value"),
        countDistinct(col("event_type")).as("card_event_type"),
        countDistinct(col("user_id")).as("card_user_id"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        davg2(col("value")).as("avg_value"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    },

    // ---- value histogram per group: fixed bucket arithmetic (identical
    //      double ops in both engines), integer counts ----
    QueryDef.sql(
      "q_histogram",
      """WITH b AS (
        |  SELECT event_type, value,
        |    min(value) OVER w AS v_min, max(value) OVER w AS v_max
        |  FROM events WINDOW w AS (PARTITION BY event_type)
        |), k AS (
        |  SELECT event_type,
        |    CASE WHEN v_max = v_min THEN 0
        |         ELSE least(9, CAST(floor((value - v_min) / (v_max - v_min) * 1e1) AS BIGINT))
        |    END AS bucket
        |  FROM b
        |)
        |SELECT event_type, bucket, count(*) AS n
        |FROM k GROUP BY event_type, bucket""".stripMargin
    ) { (s, d) =>
      // grouped min/max + broadcast join back, NOT `min OVER (PARTITION BY
      // event_type)`: an unbounded-unordered window buffers whole partitions
      // and caps parallelism at the key cardinality (5 tasks holding 20M+
      // rows each at 100x) — the two-pass plan keeps the scan fully parallel
      // and ships only a key-cardinality-sized stats table to every executor
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      // null-safe join key (<=>): the oracle's PARTITION BY keeps a NULL
      // event_type as its own group, and an equi-join would drop it
      ev.join(broadcast(stats.withColumnRenamed("event_type", "et_s")),
          col("event_type") <=> col("et_s"))
        .select(
          col("event_type"),
          when(col("v_max") === col("v_min"), 0L).otherwise(
            least(lit(9L),
              floor((col("value") - col("v_min")) /
                (col("v_max") - col("v_min")) * lit(10.0))
                .cast("long"))).as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- time-trend correlation per group, from order-independent
    //      fixed-point sums (plain corr() would be summation-order-
    //      dependent across partitions). Terms are pre-scaled so each
    //      quantized sum stays below 2^53: above that, the exact-integer
    //      -> double conversion itself rounds, and DuckDB's int128 path
    //      rounds differently from the JVM's BigDecimal path (observed
    //      1-ulp divergence at sf0.1). ----
    QueryDef.sql(
      "q_trend_corr", {
        val t = "(CAST(epoch_us(ts) AS DOUBLE) / 1e6)"
        val sx = dsumSql(s"$t / 1e6")
        val sy = dsumSql("value")
        val sxy = dsumSql(s"$t * value / 1e8")
        val sxx = dsumSql(s"$t * $t / 1e14")
        val syy = dsumSql("value * value / 1e2")
        s"""SELECT event_type, count(*) AS n,
           |  $sx AS sum_t_scaled, $sy AS sum_v, $sxy AS sum_tv_scaled,
           |  $sxx AS sum_tt_scaled, $syy AS sum_vv_scaled
           |FROM events GROUP BY event_type""".stripMargin
      }
    ) { (s, d) =>
      val tSec = col("ts").cast("double")
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          dsum(tSec / lit(1e6)).as("sum_t_scaled"),
          dsum(col("value")).as("sum_v"),
          dsum(tSec * col("value") / lit(1e8)).as("sum_tv_scaled"),
          dsum(tSec * tSec / lit(1e14)).as("sum_tt_scaled"),
          dsum(col("value") * col("value") / lit(1e2)).as("sum_vv_scaled"))
    },

    // ---- exact interpolated quantiles per group (profiling/quality
    //      thresholds); Spark percentile and DuckDB quantile_cont share
    //      the p*(n-1) linear-interpolation semantics on doubles.
    //      SCALE NOTE: exact percentile buffers every group's values in
    //      the aggregation state — fine for profiling-sized groups, wrong
    //      at 100 TB; q_quantiles_approx below is the constant-memory
    //      sketch path for that regime ----
    QueryDef.sql(
      "q_quantiles",
      """SELECT event_type,
        |  quantile_cont(value, 2.5e-1) AS p25,
        |  quantile_cont(value, 5e-1) AS p50,
        |  quantile_cont(value, 7.5e-1) AS p75,
        |  quantile_cont(value, 9.5e-1) AS p95
        |FROM events GROUP BY event_type""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.25D)").as("p25"),
          expr("percentile(value, 0.5D)").as("p50"),
          expr("percentile(value, 0.75D)").as("p75"),
          expr("percentile(value, 0.95D)").as("p95"))
    },

    // ---- approximate quantiles: the 100 TB twin of q_quantiles on the
    //      Greenwald-Khanna sketch (approx_percentile) — constant memory
    //      per group at any cardinality, mergeable across partitions.
    //      No DuckDB twin (different sketch) -> rows-only check;
    //      ApproxQuantilesSpec pins the error bound vs the exact values ----
    QueryDef.rowsOnly("q_quantiles_approx") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, 0.25D, 10000)").as("p25"),
          expr("approx_percentile(value, 0.5D, 10000)").as("p50"),
          expr("approx_percentile(value, 0.75D, 10000)").as("p75"),
          expr("approx_percentile(value, 0.95D, 10000)").as("p95"))
    },

    // ---- EXACT interpolated quantiles, DISTRIBUTED: the third leg of
    //      the quantile trio — q_quantiles' numbers without its
    //      buffer-every-value aggregation state (the scale hazard its
    //      own doc note flags) and without q_quantiles_approx's error.
    //      Shape: rank rows inside each group (partitioned window, one
    //      group exchange), pick the two bracketing order statistics
    //      per (group, p) via broadcast equi-joins against a
    //      #groups×#ps pick frame, interpolate row-locally. h =
    //      p*(n-1), v_lo + (v_hi - v_lo)*(h - floor(h)) in IDENTICAL
    //      textual op order both engines (the interpolation convention
    //      is stated by the oracle itself, not borrowed from
    //      quantile_cont internals). Element picks, so memory is
    //      O(1)/row at any group size ----
    QueryDef.sql(
      "q_quantiles_dist",
      """WITH r AS (
        |  SELECT event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events
        |), p AS (
        |  SELECT * FROM (VALUES ('p25', 25e-2), ('p50', 5e-1),
        |                        ('p75', 75e-2), ('p95', 95e-2)) t(lbl, pv)
        |), k AS (
        |  SELECT DISTINCT r.event_type, r.n, p.lbl, p.pv,
        |    CAST(floor(p.pv * (r.n - 1)) AS BIGINT) + 1 AS lo,
        |    least(CAST(floor(p.pv * (r.n - 1)) AS BIGINT) + 2, r.n) AS hi,
        |    p.pv * (r.n - 1) - floor(p.pv * (r.n - 1)) AS frac
        |  FROM (SELECT DISTINCT event_type, n FROM r) r CROSS JOIN p
        |)
        |SELECT k.event_type, k.lbl, k.n,
        |  vl.value + (vh.value - vl.value) * k.frac AS q
        |FROM k
        |JOIN r vl ON vl.event_type = k.event_type AND vl.rk = k.lo
        |JOIN r vh ON vh.event_type = k.event_type AND vh.rk = k.hi""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val p = s.createDataFrame(Seq(
        ("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95)))
        .toDF("lbl", "pv")
      val k = r.select("event_type", "n").distinct()
        .crossJoin(broadcast(p))
        .select(col("event_type"), col("n"), col("lbl"), col("pv"),
          (floor(col("pv") * (col("n") - 1)).cast("long") + 1).as("lo"),
          least(floor(col("pv") * (col("n") - 1)).cast("long") + 2, col("n"))
            .as("hi"),
          (col("pv") * (col("n") - 1) - floor(col("pv") * (col("n") - 1)))
            .as("frac"))
      val vl = r.select(col("event_type").as("et_l"), col("rk").as("rk_l"),
        col("value").as("v_lo"))
      val vh = r.select(col("event_type").as("et_h"), col("rk").as("rk_h"),
        col("value").as("v_hi"))
      k.join(vl, col("event_type") === col("et_l") && col("lo") === col("rk_l"))
        .join(vh, col("event_type") === col("et_h") && col("hi") === col("rk_h"))
        .select(col("event_type"), col("lbl"), col("n"),
          (col("v_lo") + (col("v_hi") - col("v_lo")) * col("frac")).as("q"))
    }.intendsNestedLoop(
      "broadcast side is the constant 4-row percentile frame"),

    // ---- M1: per-key min-max normalization ----
    QueryDef.sql(
      "q_minmax_norm",
      """SELECT event_id, event_type, value,
        |  (value - min(value) OVER w) /
        |  (CASE WHEN max(value) OVER w <> min(value) OVER w
        |        THEN max(value) OVER w - min(value) OVER w END) AS value_norm
        |FROM events WINDOW w AS (PARTITION BY event_type)""".stripMargin
    ) { (s, d) =>
      // same two-pass grouped-stats + broadcast shape as q_histogram (the
      // plan SURVEY §2.9 prescribes for M1) — no whole-partition WindowExec;
      // null-safe key to keep a NULL group, as the oracle's PARTITION BY does
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      ev.join(broadcast(stats.withColumnRenamed("event_type", "et_s")),
          col("event_type") <=> col("et_s"))
        .select(
          col("event_id"),
          col("event_type"),
          col("value"),
          ((col("value") - col("v_min")) /
            when(col("v_max") =!= col("v_min"), col("v_max") - col("v_min")))
            .as("value_norm"))
    },

    // ---- M3: inverse min-max transform (round-trip back to raw scale) ----
    QueryDef.sql(
      "q_minmax_denorm",
      """WITH n AS (
        |  SELECT event_id, event_type, value,
        |    (value - min(value) OVER w) /
        |    (CASE WHEN max(value) OVER w <> min(value) OVER w
        |          THEN max(value) OVER w - min(value) OVER w END) AS value_norm,
        |    min(value) OVER w AS v_min, max(value) OVER w AS v_max
        |  FROM events WINDOW w AS (PARTITION BY event_type)
        |)
        |SELECT event_id, event_type, value,
        |  value_norm * (v_max - v_min) + v_min AS value_denorm
        |FROM n""".stripMargin
    ) { (s, d) =>
      // two-pass grouped-stats + broadcast, as in q_minmax_norm
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      ev.join(broadcast(stats.withColumnRenamed("event_type", "et_s")),
          col("event_type") <=> col("et_s"))
        .select(
          col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("v_min")) /
            when(col("v_max") =!= col("v_min"), col("v_max") - col("v_min")))
            .as("value_norm"),
          col("v_min"), col("v_max"))
        .select(
          col("event_id"), col("event_type"), col("value"),
          (col("value_norm") * (col("v_max") - col("v_min")) + col("v_min"))
            .as("value_denorm"))
    },

    // ---- M2: sliding-window feature extraction (60-step lookback).
    //      The library surface is the typed ArrayType(DoubleType) `lookback`
    //      column (what a training pipeline consumes); the oracle-compared
    //      output serializes it to a portable scalar — each element
    //      quantized floor(x*1e6) (two engine-identical IEEE ops, same
    //      scheme as Num.dsum) and comma-joined — because the driver's
    //      pandas sort/hash harness cannot process raw array columns. ----
    QueryDef.sql(
      "q_sliding_features",
      """SELECT event_id, event_type, ts, value AS target,
        |  array_to_string(list_transform(lookback,
        |    x -> CAST(CAST(floor(x * 1e6) AS BIGINT) AS VARCHAR)), ',') AS lookback_q6
        |FROM (
        |  SELECT *,
        |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING) AS lookback,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn > 60""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("lookback", collect_list(col("value")).over(w.rowsBetween(-60, -1)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 60)
        .select(
          col("event_id"), col("event_type"), col("ts"),
          col("value").as("target"),
          expr("concat_ws(',', transform(lookback, " +
            "x -> cast(cast(floor(x * 1e6) as bigint) as string)))")
            .as("lookback_q6"))
    },

    // ---- document chunking: overlapping token windows (size 32, stride
    //      24) — the canonical long-document -> training-sample split.
    //      n_chunks = ceil((n - size)/stride) + 1 in exact integer math;
    //      per-row explode, embarrassingly parallel, no shuffle at all ----
    QueryDef.sql(
      "q_chunk_docs",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CASE WHEN n <= 32 THEN 1
        |                         ELSE (n - 32 + 23) // 24 + 1 END)) AS chunk_id
        |  FROM t
        |)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
        |    AS chunk_text,
        |  len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32))
        |    AS n_chunk_tokens
        |FROM e""".stripMargin
    ) { (s, d) =>
      // shared chunker (ops.TextPrep.chunkDocs) — also the streaming path
      graft.ops.TextPrep
        .chunkDocs(Tables.documents(s, d).select("doc_id", "text"),
          size = 32, stride = 24)
        .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")
    },

    // ---- winsorization: clip each value to its group's [p01, p99] —
    //      robust scaling before normalization. Same two-pass grouped
    //      percentile + broadcast shape as q_minmax_norm (Spark
    //      percentile and DuckDB quantile_cont share the p*(n-1)
    //      interpolation semantics, proven by q_quantiles) ----
    QueryDef.sql(
      "q_winsorize",
      """WITH s AS (
        |  SELECT event_type,
        |    quantile_cont(value, 1e-2) AS p01,
        |    quantile_cont(value, 9.9e-1) AS p99
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  least(greatest(e.value, s.p01), s.p99) AS value_winsor,
        |  e.value <> least(greatest(e.value, s.p01), s.p99) AS clipped
        |FROM events e JOIN s USING (event_type)""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.01D)").as("p01"),
        expr("percentile(value, 0.99D)").as("p99"))
      ev.join(broadcast(stats), Seq("event_type"))
        .select(
          col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("p01")), col("p99")).as("value_winsor"),
          (col("value") =!=
            least(greatest(col("value"), col("p01")), col("p99"))).as("clipped"))
    },

    // ---- Quantile discretization (feature binning): per-group decile
    //      boundaries from ONE grouped percentile pass, broadcast back;
    //      bucket = |{boundaries < value}| — integer-exact given the
    //      same interpolated boundaries (same percentile machinery as
    //      q_winsorize). Never a per-group window. ----
    QueryDef.sql(
      "q_decile_bucket",
      """WITH vc AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, value
        |), cum AS (
        |  SELECT event_type, value,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cnt_lt
        |  FROM vc
        |), tot AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_grp
        |  FROM vc GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CAST(floor(1e1 * cm.cnt_lt / t.n_grp) AS BIGINT) AS decile
        |FROM events e
        |JOIN cum cm USING (event_type, value)
        |JOIN tot t USING (event_type)""".stripMargin
    ) { (s, d) =>
      // EMPIRICAL-CDF decile: bucket = floor(10 * |{x < v}| / n) — the
      // whole computation is integer counts plus one double divide whose
      // nearest-integer gap (1/n) dwarfs an ulp, so it is deterministic
      // cross-engine AT ANY SCALE. (The previous formulation counted
      // interpolated percentile boundaries below the value; Spark's and
      // DuckDB's interpolation arithmetic differ in association, and at
      // sf0.1 a boundary landed an ulp across the fixed-point grid line
      // from its twin, flipping buckets.) The rank window runs over the
      // DISTINCT-VALUE table — bounded by the price-tick grid, not by
      // data volume — and broadcasts back; the corpus is never windowed.
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      val vc = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = vc.select(col("event_type"), col("value"),
        coalesce(sum(col("c")).over(wcum), lit(0L)).as("cnt_lt"))
      val tot = vc.groupBy(col("event_type")).agg(sum(col("c")).as("n_grp"))
      ev.join(broadcast(cum.join(tot, "event_type")), Seq("event_type", "value"))
        .select(col("event_id"), col("event_type"), col("value"),
          floor(lit(10.0) * col("cnt_lt") / col("n_grp")).cast("long").as("decile"))
    },

    // ---- Robust outlier detection (median/MAD, the data-cleaning
    //      complement of winsorize's quantile clip): two grouped
    //      percentile passes + broadcast joins back — never a per-group
    //      window. Same percentile machinery as q_winsorize, so the
    //      interpolated medians agree cross-engine ----
    QueryDef.sql(
      "q_outliers_mad",
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 5e-1) AS med
        |  FROM events GROUP BY event_type
        |), mad AS (
        |  SELECT e.event_type,
        |    quantile_cont(abs(e.value - m.med), 5e-1) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type
        |)
        |SELECT e.event_id, e.event_type, e.value, m.med, d.mad,
        |  abs(e.value - m.med) > 3e0 * 1.4826e0 * d.mad AS is_outlier
        |FROM events e
        |JOIN med m USING (event_type)
        |JOIN mad d USING (event_type)""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5D)").as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
      ev.join(broadcast(med), Seq("event_type"))
        .join(broadcast(mad), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"),
          (abs(col("value") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad")).as("is_outlier"))
    },

    // ---- Seasonal baseline + residual (seasonal decomposition lite):
    //      hour-of-day profile per symbol via exact fixed-point means,
    //      broadcast back — the two-pass grouped-stats shape, never a
    //      25-partition window ----
    QueryDef.sql(
      "q_seasonal_baseline",
      s"""WITH prof AS (
         |  SELECT event_type, extract(hour FROM ts) AS hod,
         |    ${Num.davgSql("value")} AS baseline
         |  FROM events GROUP BY event_type, hod
         |)
         |SELECT e.event_id, e.event_type, e.ts, e.value, p.hod, p.baseline,
         |  e.value - p.baseline AS residual
         |FROM events e JOIN prof p
         |  ON e.event_type = p.event_type
         |  AND extract(hour FROM e.ts) = p.hod""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val prof = ev
        .groupBy(col("event_type"), hour(col("ts")).as("hod"))
        .agg(Num.davg(col("value")).as("baseline"))
      ev.withColumn("hod", hour(col("ts")))
        .join(broadcast(prof), Seq("event_type", "hod"))
        .select(col("event_id"), col("event_type"), col("ts"), col("value"),
          col("hod").cast("long").as("hod"), col("baseline"),
          (col("value") - col("baseline")).as("residual"))
    },

    // ---- per-doc top terms by a log-free TF-IDF score: tf * N / df.
    //      ln() is NOT bit-reproducible across engines, so the score uses
    //      the exact-integer ratio (monotone in idf for fixed tf) — same
    //      ranking semantics, cross-engine deterministic. Shuffles: one
    //      per grouping + a broadcast of the term->df side ----
    QueryDef.sql(
      "q_tfidf_terms",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
        |), nq AS (
        |  SELECT count(*) AS n FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * 1e0 * nq.n / df.df AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN nq
        |)
        |SELECT doc_id, term, tf, df, score, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin
    ) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df from the tf frame (one row per (doc, term) already), NOT a
      // second tokenize+distinct over the corpus: rows-per-term of tf IS
      // the distinct doc count — saves a full corpus pass at scale
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df), Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score", col("tf") * lit(1.0) * col("n") / col("df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    }.intendsNestedLoop(
      "broadcast side is the single-row corpus-count frame"),

    // ---- dataset-version diff: which documents were added / removed /
    //      changed between two snapshots — the audit pass behind
    //      training-data versioning. Snapshots are derived
    //      deterministically from the documents table (a drops doc_id%10,
    //      b drops %11 and rewrites %7); the comparison itself is a
    //      FULL OUTER hash join on the id with content-hash equality —
    //      one shuffle each side, no row buffering ----
    QueryDef.sql(
      "q_dataset_diff",
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS h_a FROM documents WHERE doc_id % 10 <> 0
        |), b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN concat(text, ' v2') ELSE text END)
        |      AS h_b
        |  FROM documents WHERE doc_id % 11 <> 0
        |)
        |SELECT doc_id,
        |  CASE WHEN h_a IS NULL THEN 'added'
        |       WHEN h_b IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM a FULL JOIN b USING (doc_id)
        |WHERE h_a IS NULL OR h_b IS NULL OR h_a <> h_b""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h_a"))
      val b = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h_b"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(
          col("doc_id"),
          when(col("h_a").isNull, "added")
            .when(col("h_b").isNull, "removed")
            .otherwise("changed").as("status"),
          col("h_a"), col("h_b"))
        .filter(col("h_a").isNull || col("h_b").isNull || col("h_a") =!= col("h_b"))
        .select("doc_id", "status")
    },

    // ---- MERGE INTO semantics (warehouse-style upsert+delete, the apply
    //      side of q_dataset_diff): a deterministic change-set (update /
    //      delete / insert by key residue) folds into the snapshot via ONE
    //      full-outer join on the key — the scale-out MERGE plan: shuffle
    //      both sides once on the join key, no row ever visits the
    //      driver ----
    QueryDef.sql(
      "q_merge_upsert",
      """WITH snap AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        |  FROM orders
        |), chg AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice + 1e1 AS new_price, 'X' AS new_status
        |  FROM orders WHERE o_orderkey % 10 < 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000 AS k, 'I' AS op,
        |    o_totalprice AS new_price, 'N' AS new_status
        |  FROM orders WHERE o_orderkey % 97 = 0
        |)
        |SELECT k,
        |  CASE WHEN op IS NULL THEN price ELSE new_price END AS price,
        |  CASE WHEN op IS NULL THEN status ELSE new_status END AS status,
        |  CASE WHEN op IS NULL THEN 'kept'
        |       WHEN op = 'I' THEN 'inserted' ELSE 'updated' END AS merge_action
        |FROM snap FULL JOIN chg USING (k)
        |WHERE op IS NULL OR op <> 'D'""".stripMargin
    ) { (s, d) =>
      val orders = Tables.orders(s, d)
      val snap = orders.select(
        col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      val chg = orders.filter(col("o_orderkey") % 10 < 3)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"),
          (col("o_totalprice") + lit(10.0)).as("new_price"),
          lit("X").as("new_status"))
        .unionAll(orders.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 1000000000L).as("k"), lit("I").as("op"),
            col("o_totalprice").as("new_price"), lit("N").as("new_status")))
      snap.join(chg, Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("k"),
          when(col("op").isNull, col("price")).otherwise(col("new_price"))
            .as("price"),
          when(col("op").isNull, col("status")).otherwise(col("new_status"))
            .as("status"),
          when(col("op").isNull, "kept")
            .when(col("op") === "I", "inserted")
            .otherwise("updated").as("merge_action"))
    },

    // ---- SCD Type-2 dimension history: fold a per-key change stream
    //      (events as attribute updates) into versioned rows — collapse
    //      consecutive identical values, then valid_from/valid_to from
    //      the change boundaries (lead), open-ended row = current. Two
    //      windows over the SAME (user_id) partitioning — one exchange,
    //      both windows pipeline in a single sort. The warehouse twin of
    //      q_merge_upsert (SCD1). ----
    QueryDef.sql(
      "q_scd2_history",
      """WITH chg AS (
        |  SELECT user_id, value, ts FROM (
        |    SELECT user_id, value, ts,
        |      lag(value) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS prev
        |    FROM events)
        |  WHERE prev IS NULL OR value <> prev
        |)
        |SELECT user_id, value, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    AS is_current
        |FROM chg""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val chg = Tables.events(s, d)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("value"), 1).over(w))
        .filter(col("prev").isNull || col("value") =!= col("prev"))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      chg
        .withColumn("valid_to", lead(col("ts"), 1).over(w2))
        .select(col("user_id"), col("value"), col("ts").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
    },

    // ---- Bitemporal reconstruction (the second time axis q_scd2_history
    //      lacks): "as KNOWN at transaction cutoff Tc, what value was
    //      VALID at time Vp" — transaction time = the ledger's append
    //      order (event_id), valid time = ts. A 3×3 grid of (tx %, valid
    //      %) probe points is a 9-row constant frame; the reconstruction
    //      is ONE corpus pass × 9 (constant fan-out, documented) with a
    //      partial-aggregable max(struct(ts, event_id, value)) argmax —
    //      no window over the corpus, no per-probe rescan. Late-arriving
    //      rows (high event_id, low ts) surface only at later Tc — the
    //      audit/backfill semantics that motivate bitemporal stores ----
    QueryDef.sql(
      "q_bitemporal",
      """WITH bounds AS (
        |  SELECT max(event_id) AS mid,
        |    epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
        |  FROM events
        |), probes AS (
        |  SELECT tx_pct, valid_pct,
        |    (mid * tx_pct) // 100 AS tx_cut,
        |    t0 + ((t1 - t0) * valid_pct) // 100 AS v_cut
        |  FROM (VALUES (50), (75), (100)) tx(tx_pct)
        |  CROSS JOIN (VALUES (25), (50), (75)) vl(valid_pct)
        |  CROSS JOIN bounds
        |), hits AS (
        |  SELECT user_id, tx_pct, valid_pct, value, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, tx_pct, valid_pct
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events CROSS JOIN probes
        |  WHERE event_id <= tx_cut AND epoch_us(ts) <= v_cut
        |)
        |SELECT user_id, tx_pct, valid_pct, value AS value_at,
        |  event_id AS asof_event_id
        |FROM hits WHERE rn = 1""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val bounds = ev.agg(max(col("event_id")).as("mid"),
        expr("unix_micros(min(ts))").as("t0"),
        expr("unix_micros(max(ts))").as("t1"))
      val grid = Seq(50, 75, 100)
        .flatMap(t => Seq(25, 50, 75).map(v => (t, v)))
        .toDF("tx_pct", "valid_pct")
      val probes = grid.crossJoin(broadcast(bounds))
        .select(col("tx_pct"), col("valid_pct"),
          expr("(mid * tx_pct) div 100").as("tx_cut"),
          expr("t0 + ((t1 - t0) * valid_pct) div 100").as("v_cut"))
      ev.crossJoin(broadcast(probes))
        .filter(col("event_id") <= col("tx_cut") &&
          expr("unix_micros(ts)") <= col("v_cut"))
        .groupBy(col("user_id"), col("tx_pct"), col("valid_pct"))
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .as("top"))
        .select(col("user_id"), col("tx_pct"), col("valid_pct"),
          col("top.value").as("value_at"),
          col("top.event_id").as("asof_event_id"))
    }.intendsNestedLoop(
      "broadcast sides are the 1-row bounds frame and the constant " +
        "9-row probe grid"),

    // ---- corpus bigram vocabulary: top-20 by frequency — the n-gram
    //      counting pass behind vocab/tokenizer construction. Global
    //      top-k is TakeOrdered (distributed partial top-k per
    //      partition), never a full sort ----
    QueryDef.sql(
      "q_bigram_counts",
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), b AS (
        |  SELECT unnest(list_transform(range(1, n),
        |    i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        |  FROM t WHERE n >= 2
        |)
        |SELECT bigram, count(*) AS n_occ FROM b GROUP BY bigram
        |ORDER BY n_occ DESC, bigram LIMIT 20""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("toks"),
          size(split(col("text"), " ")).as("n"))
        .filter(col("n") >= 2)
        .select(explode(expr(
          "transform(sequence(1, n - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n_occ"))
        .orderBy(col("n_occ").desc, col("bigram"))
        .limit(20)
    },

    // ---- Distributed BPE tokenizer training ([[graft.ops.BpeTrainer]]):
    //      the learned merge table for k=24 rounds over the corpus word
    //      counts. Iterative (one pair-count agg + 1-row fetch per round)
    //      — the oracle unrolls all 24 rounds into DuckDB CTEs
    //      ([[OracleBpe]]: relational greedy-merge via gaps-and-islands
    //      parity, since list_reduce cannot carry an array accumulator),
    //      so the gate is hash-exact; BpeTrainerSpec additionally pins
    //      the merge sequence against a serial in-memory reference ----
    QueryDef.sql(
      "q_bpe_merges",
      s"""WITH ${OracleBpe.trainCtes(24)}
         |${OracleBpe.mergesSelect(24)}""".stripMargin
    ) { (s, d) =>
      val words = graft.ops.BpeTrainer.wordTable(Tables.documents(s, d), "text")
      graft.ops.BpeTrainer.mergesDf(s, graft.ops.BpeTrainer.train(words, k = 24))
    },

    // ---- The apply side: corpus tokenized with the learned merges —
    //      per-row folds over the DISTINCT-word table, linear; token
    //      arrays serialized for the harness (no raw arrays in compared
    //      output). The oracle reuses the training unroll: after k
    //      rounds w{k}.syms IS each word's tokenization ----
    QueryDef.sql(
      "q_bpe_tokenize",
      s"""WITH ${OracleBpe.trainCtes(24)}${OracleBpe.tokenizeSelect(24)}""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = graft.ops.BpeTrainer.wordTable(docs, "text")
      val merges = graft.ops.BpeTrainer.train(words, k = 24)
      graft.ops.BpeTrainer.tokenize(
        docs.select("doc_id", "text"), "doc_id", "text", merges)
        .select(col("doc_id"), size(col("tokens")).as("n_tokens"),
          array_join(col("tokens"), " ").as("tokens_joined"))
    },

    // ---- Dataset card: per (lang, source) corpus-slice health sheet —
    //      doc count, token totals, mean (fixed-point), and EXACT order-
    //      statistic median / p90 token counts (rank ceil(n/2) /
    //      ceil(9n/10) with doc_id tie-break — an element pick, never an
    //      interpolation, so both engines return the identical integer;
    //      the q_moving_median convention applied group-wise). Shape:
    //      ONE (lang, source) exchange carries the rank window and both
    //      aggregations; per-group state is O(1). The published-"data
    //      card"/datasheet summary a curation pipeline ships with the
    //      corpus ----
    QueryDef.sql(
      "q_data_card",
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang, source
        |    ORDER BY n_tokens, doc_id) AS BIGINT) AS rnk
        |  FROM t
        |), g AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM t GROUP BY lang, source
        |)
        |SELECT g.lang, g.source, g.n_docs, g.total_tokens, g.total_chars,
        |  (g.total_tokens * 100) // g.n_docs AS mean_tokens_fp,
        |  med.n_tokens AS median_tokens,
        |  p90.n_tokens AS p90_tokens
        |FROM g
        |JOIN r med ON med.lang = g.lang AND med.source = g.source
        |  AND med.rnk = (g.n_docs + 1) // 2
        |JOIN r p90 ON p90.lang = g.lang AND p90.source = g.source
        |  AND p90.rnk = (9 * g.n_docs + 9) // 10""".stripMargin
    ) { (s, d) =>
      val t = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      val r = t.withColumn("rnk",
        row_number().over(Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("n_tokens"), col("doc_id"))).cast("long"))
      val g = t.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
      g.join(r.select(col("lang"), col("source"), col("rnk"),
            col("n_tokens").as("median_tokens")),
          Seq("lang", "source"))
        .filter(col("rnk") === expr("(n_docs + 1) div 2"))
        .drop("rnk")
        .join(r.select(col("lang"), col("source"), col("rnk"),
            col("n_tokens").as("p90_tokens")),
          Seq("lang", "source"))
        .filter(col("rnk") === expr("(9 * n_docs + 9) div 10"))
        .select(col("lang"), col("source"), col("n_docs"), col("total_tokens"),
          col("total_chars"),
          expr("(total_tokens * 100) div n_docs").as("mean_tokens_fp"),
          col("median_tokens"), col("p90_tokens"))
    },

    // ---- Smoothed target-mean encoding (the high-cardinality
    //      categorical feature-engineering staple): per-customer mean
    //      order value shrunk toward the global prior,
    //      enc = (sum_t + alpha*prior) / (n + alpha), alpha = 10.
    //      Exactness: target sums are 2-decimal fixed-point integers
    //      (the Num money scheme); the prior is pre-rounded ONCE to a
    //      4-decimal integer (prior_fp4 = (gs2*100) div gn) and the
    //      blend is then pure integer arithmetic — both engines emit
    //      the identical enc_fp4. Scale shape: one groupBy on the
    //      category key + a broadcast 1-row global frame; no window,
    //      no second corpus pass. Headroom: gs2*100 < 2^63 bounds
    //      total target mass at ~9e14 money units. ----
    QueryDef.sql(
      "q_target_encode",
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
        |      AS s2,
        |    count(*) AS n
        |  FROM orders GROUP BY o_custkey
        |), g AS (
        |  SELECT CAST(sum(s2) AS BIGINT) AS gs2, CAST(sum(n) AS BIGINT) AS gn
        |  FROM pc
        |)
        |SELECT o_custkey, n,
        |  (s2 * 100 + 10 * ((gs2 * 100) // gn)) // (n + 10) AS enc_fp4
        |FROM pc CROSS JOIN g""".stripMargin
    ) { (s, d) =>
      val pc = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 1e2).cast("long")).as("s2"),
          count(lit(1)).as("n"))
      val g = pc.agg(sum(col("s2")).as("gs2"), sum(col("n")).as("gn"))
      pc.crossJoin(broadcast(g))
        .select(col("o_custkey"), col("n"),
          expr("(s2 * 100 + 10 * ((gs2 * 100) div gn)) div (n + 10)")
            .as("enc_fp4"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row global-prior frame"),

    // ---- Per-document character-entropy quality signal (the classic
    //      gibberish / low-diversity detector next to q_text_stats's
    //      ratio features): Shannon entropy of the character
    //      distribution, defined as the ORDER-INDEPENDENT statistic
    //      (sum over classes of floor(cnt*ln(n/cnt)*1e6)) div n —
    //      quantize each class term FIRST, then exact integer sum and
    //      division, the q_lm_score convention (DuckDB ln and JVM log
    //      agree at the 1e-6 floor on these magnitudes; the per-term
    //      floor makes the sum order-independent at any parallelism).
    //      Scale shape: one explode + one (doc, char) hash agg + one
    //      per-doc agg — linear, partial-aggregable. Headroom:
    //      n*ln(n)*1e6 < 2^63 bounds docs at ~2e11 chars. ----
    QueryDef.sql(
      "q_char_entropy",
      """WITH cc AS (
        |  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(text, '')) AS c
        |    FROM documents)
        |  GROUP BY doc_id, c
        |), nn AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents
        |)
        |SELECT cc.doc_id, max(nn.n) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS distinct_chars,
        |  CAST(sum(CAST(floor(
        |    cnt * ln(CAST(nn.n AS DOUBLE) / cnt) * 1e6) AS BIGINT))
        |    AS BIGINT) // max(nn.n) AS entropy_fp
        |FROM cc JOIN nn USING (doc_id)
        |GROUP BY cc.doc_id""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cc = docs
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .filter(col("c") =!= "") // Spark's split keeps a trailing empty
        .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cnt"))
      val nn = docs.select(col("doc_id"), length(col("text")).cast("long").as("n"))
      cc.join(nn, "doc_id")
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_chars"),
          count(lit(1)).as("distinct_chars"),
          expr("sum(cast(floor(cnt * ln(cast(n as double) / cnt) * 1e6) " +
            "as bigint)) div max(n)").as("entropy_fp"))
    },

    // ---- Quantile normalization of per-source doc-length
    //      distributions (the microarray-normalization classic, here
    //      the de-biasing step before cross-source length-based
    //      curation): each (source, n_chars) maps to the GLOBAL length
    //      distribution's exact order statistic at the same relative
    //      rank — idx = ceil(cum_grp * N / m) in pure integers, the
    //      pick via a range probe C(v') - cnt' < idx <= C(v') on the
    //      global CDF. EVERYTHING runs on the DISTINCT-VALUE grid (the
    //      q_decile_bucket/q_rfm convention): windows and the non-equi
    //      probe touch only grid rows — value-range-bounded, never the
    //      corpus — so the corpus itself is one hash agg in, one
    //      equi-join out ----
    QueryDef.sql(
      "q_quantile_norm",
      """WITH sg AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY source, n_chars
        |), sgc AS (
        |  SELECT source, n_chars, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM sg
        |), gg AS (
        |  SELECT n_chars AS gv, CAST(count(*) AS BIGINT) AS gcnt
        |  FROM documents GROUP BY n_chars
        |), ggc AS (
        |  SELECT gv, gcnt,
        |    CAST(sum(gcnt) OVER (ORDER BY gv) AS BIGINT) AS gcum,
        |    CAST(sum(gcnt) OVER () AS BIGINT) AS n
        |  FROM gg
        |)
        |SELECT s.source, s.n_chars, s.cnt,
        |  g.gv AS norm_chars
        |FROM sgc s JOIN ggc g
        |  ON g.gcum - g.gcnt < (s.cum * g.n + s.m - 1) // s.m
        | AND (s.cum * g.n + s.m - 1) // s.m <= g.gcum""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d).select("source", "n_chars")
      val sg = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rangeBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("source"))
      val sgc = sg
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("m", sum(col("cnt")).over(wAll))
      val gg = docs.groupBy(col("n_chars").as("gv"))
        .agg(count(lit(1)).as("gcnt"))
      val gwCum = Window.orderBy(col("gv"))
        .rangeBetween(Window.unboundedPreceding, 0)
      val ggc = gg
        .withColumn("gcum", sum(col("gcnt")).over(gwCum))
        .crossJoin(broadcast(gg.agg(sum(col("gcnt")).as("n"))))
      val idx = expr("(cum * n + m - 1) div m")
      sgc.join(broadcast(ggc),
          (col("gcum") - col("gcnt") < idx) && (idx <= col("gcum")))
        .select(col("source"), col("n_chars"), col("cnt"),
          col("gv").as("norm_chars"))
    }.intendsNestedLoop(
      "range probe against the broadcast DISTINCT-VALUE global CDF " +
        "grid — value-range-bounded, never the corpus")
      .intendsGlobalWindow(
        "the global cumulative window runs over the DISTINCT-VALUE " +
          "grid, value-range-bounded, never the corpus"),

    // ---- Flesch-Kincaid readability grade per doc, EXACT integers:
    //      words from the whitespace split, syllables as vowel-group
    //      counts ([aeiouy]+ — the standard heuristic; the simple
    //      character class behaves identically in Java regex and RE2),
    //      and the grade at 1e2 fp is pure integer algebra:
    //      39*W + (1180*Y) div W - 1559 (the 0.39/11.8/15.59
    //      coefficients are exact at the 1e2 scale). The synthetic
    //      corpus has no sentence punctuation, so S degenerates to 1
    //      (documented; the formula carries W/S as W — real corpora
    //      slot their sentence splitter into the same shape). Row-local
    //      expressions only: linear, no shuffle before the output ----
    QueryDef.sql(
      "q_readability",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
        |    AS n_syllables,
        |  39 * CAST(len(string_split(text, ' ')) AS BIGINT)
        |    + (1180 * CAST(len(regexp_extract_all(text, '[aeiouy]+'))
        |       AS BIGINT))
        |      // CAST(len(string_split(text, ' ')) AS BIGINT)
        |    - 1559 AS fk_grade_fp
        |FROM documents
        |WHERE len(string_split(text, ' ')) >= 1""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("n_syllables"))
        .filter(col("n_words") >= 1)
        .select(col("doc_id"), col("n_words"), col("n_syllables"),
          expr("39 * n_words + (1180 * n_syllables) div n_words - 1559")
            .as("fk_grade_fp"))
    },

    // ---- Generalized suffix array by prefix doubling (see
    //      ops.SuffixArray): the exact substring-dedup index of Lee et
    //      al. 2021 — repeated spans are ADJACENT in suffix order, so
    //      corpus-scale repeated-substring detection reduces to this
    //      sort plus a neighbor scan. Spark side: O(log maxlen) rounds
    //      of equi-join + distinct + range-sort dense rank — NO
    //      single-partition window anywhere (that is the op's whole
    //      point); oracle side: DuckDB literally sorts the suffix
    //      STRINGS — two independent algorithms, rank-for-rank. 25%
    //      deterministic doc sample keeps the naive oracle feasible at
    //      sf1 ----
    QueryDef.sql(
      "q_suffix_array",
      """WITH sample AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 4 = 0
        |), pos_t AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(generate_series(1, length(text))) AS BIGINT) AS pos
        |  FROM sample
        |), sfx AS (
        |  SELECT doc_id, pos, substr(text, CAST(pos AS INT)) AS s
        |  FROM pos_t
        |)
        |SELECT doc_id, pos,
        |  CAST(dense_rank() OVER (ORDER BY s) AS BIGINT) AS sfx_rank
        |FROM sfx""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(expr("md5p60(cast(doc_id AS string)) % 4 = 0"))
        .select(col("doc_id").as("id"), col("text"))
      graft.ops.SuffixArray.build(docs)
        .select(col("id").as("doc_id"), col("pos"), col("sfx_rank"))
    },

    // ---- Repeated-span detection (see ops.RepeatedSpans): the suffix-
    //      array NEIGHBOR SCAN that makes q_suffix_array a dedup tool —
    //      every substring occurring twice in the corpus puts its two
    //      occurrences adjacent somewhere in suffix order, so adjacent
    //      pairs with a long common prefix enumerate ALL >= 16-char
    //      repeats (within or across docs) without an all-pairs
    //      comparison. span_len capped at 64 (a truncated report of an
    //      arbitrarily long repeat). Adjacency = distributed lead():
    //      range-sort + in-partition sliding pairs + boundary stitching
    //      via a metadata-row collect — no single-partition window ----
    QueryDef.sql(
      "q_repeated_spans",
      """WITH sample AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 8 = 0
        |), pos_t AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(generate_series(1, length(text))) AS BIGINT) AS pos
        |  FROM sample
        |), sfx AS (
        |  SELECT doc_id, pos, substr(text, CAST(pos AS INT)) AS s
        |  FROM pos_t
        |), ord AS (
        |  SELECT doc_id, pos, s,
        |    row_number() OVER (ORDER BY s, doc_id, pos) AS rn
        |  FROM sfx
        |), pr AS (
        |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
        |    b.doc_id AS doc_b, b.pos AS pos_b, a.s AS sa_, b.s AS sb_
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1
        |  WHERE substr(a.s, 1, 16) = substr(b.s, 1, 16)
        |    AND length(a.s) >= 16
        |), lc AS (
        |  SELECT doc_a, pos_a, doc_b, pos_b, sa_,
        |    (SELECT COALESCE(max(l), 0) FROM range(1, 65) t(l)
        |     WHERE CAST(l AS BIGINT) <= least(length(sa_), length(sb_))
        |       AND substr(sa_, 1, CAST(l AS INT))
        |         = substr(sb_, 1, CAST(l AS INT))) AS span_len
        |  FROM pr
        |)
        |SELECT doc_a, pos_a, doc_b, pos_b, span_len,
        |  substr(sa_, 1, CAST(span_len AS INT)) AS span
        |FROM lc WHERE span_len >= 16""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(expr("md5p60(cast(doc_id AS string)) % 8 = 0"))
        .select(col("doc_id").as("id"), col("text"))
      graft.ops.RepeatedSpans.find(docs, minLen = 16, cap = 64)
    },

    // ---- Per-document duplication coverage: the dedup DECISION metric
    //      on top of q_repeated_spans — what fraction of each doc's
    //      characters sits inside a >= 16-char span that occurs
    //      elsewhere in the corpus (the SA neighbor has the longest
    //      common prefix of ALL suffixes, so neighbor spans mark every
    //      repeated position exactly). Both occurrence sides contribute
    //      intervals; classic gaps-and-islands union per doc (window
    //      partitioned BY DOC, never global), coverage = merged/len.
    //      Smaller 1/16 sample than q_repeated_spans bounds the second
    //      suffix-sort in the bench ----
    QueryDef.sql(
      "q_dup_coverage",
      """WITH sample AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 16 = 0
        |), pos_t AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(generate_series(1, length(text))) AS BIGINT) AS pos
        |  FROM sample
        |), sfx AS (
        |  SELECT doc_id, pos, substr(text, CAST(pos AS INT)) AS s
        |  FROM pos_t
        |), ord AS (
        |  SELECT doc_id, pos, s,
        |    row_number() OVER (ORDER BY s, doc_id, pos) AS rn
        |  FROM sfx
        |), pr AS (
        |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
        |    b.doc_id AS doc_b, b.pos AS pos_b, a.s AS sa_, b.s AS sb_
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1
        |  WHERE substr(a.s, 1, 16) = substr(b.s, 1, 16)
        |    AND length(a.s) >= 16
        |), spans AS (
        |  SELECT doc_a, pos_a, doc_b, pos_b,
        |    (SELECT COALESCE(max(l), 0) FROM range(1, 65) t(l)
        |     WHERE CAST(l AS BIGINT) <= least(length(sa_), length(sb_))
        |       AND substr(sa_, 1, CAST(l AS INT))
        |         = substr(sb_, 1, CAST(l AS INT))) AS span_len
        |  FROM pr
        |), iv AS (
        |  -- DISTINCT is load-bearing: duplicate (st, en) rows make the
        |  -- (st, en) window order non-total, and the brk/isl windows are
        |  -- SEPARATE evaluations whose tie orders can disagree under a
        |  -- parallel sort - a duplicate pair then splits across islands
        |  -- and the overlap double-counts (found as a nondeterministic
        |  -- DuckDB result at sf1)
        |  SELECT DISTINCT doc_id, st, en FROM (
        |    SELECT doc_a AS doc_id, pos_a AS st, pos_a + span_len AS en
        |    FROM spans WHERE span_len >= 16
        |    UNION ALL
        |    SELECT doc_b, pos_b, pos_b + span_len
        |    FROM spans WHERE span_len >= 16)
        |), brk AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN st > COALESCE(max(en) OVER (PARTITION BY doc_id
        |      ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS b
        |  FROM iv
        |), isl AS (
        |  SELECT doc_id, st, en,
        |    CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS island
        |  FROM brk
        |), merged AS (
        |  SELECT doc_id,
        |    CAST(sum(mx - mn) AS BIGINT) AS covered
        |  FROM (SELECT doc_id, island, min(st) AS mn, max(en) AS mx
        |        FROM isl GROUP BY doc_id, island)
        |  GROUP BY doc_id
        |)
        |SELECT s.doc_id, CAST(length(s.text) AS BIGINT) AS n_chars,
        |  COALESCE(m.covered, 0) AS covered,
        |  (COALESCE(m.covered, 0) * 1000000)
        |    // CAST(length(s.text) AS BIGINT) AS cov_fp
        |FROM sample s LEFT JOIN merged m ON m.doc_id = s.doc_id
        |WHERE length(s.text) >= 1""".stripMargin
    ) { (s, d) =>
      val sample = Tables.documents(s, d)
        .filter(expr("md5p60(cast(doc_id AS string)) % 16 = 0"))
        .select(col("doc_id").as("id"), col("text"))
      val spans = graft.ops.RepeatedSpans
        .find(sample, minLen = 16, cap = 64)
      // DISTINCT is load-bearing: see the oracle's iv comment — tied
      // (st, en) rows make the two island windows' orders non-total
      val iv = spans.select(col("doc_a").as("doc_id"), col("pos_a").as("st"),
          (col("pos_a") + col("span_len")).as("en"))
        .union(spans.select(col("doc_b"), col("pos_b"),
          col("pos_b") + col("span_len")))
        .distinct()
      val wPrev = Window.partitionBy(col("doc_id"))
        .orderBy(col("st"), col("en"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("doc_id"))
        .orderBy(col("st"), col("en"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val merged = iv
        .withColumn("b",
          when(col("st") > coalesce(max(col("en")).over(wPrev), lit(-1L)),
            1L).otherwise(0L))
        .withColumn("island", sum(col("b")).over(wCum))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("st")).as("mn"), max(col("en")).as("mx"))
        .groupBy(col("doc_id"))
        .agg(sum(col("mx") - col("mn")).as("covered"))
      sample.filter(length(col("text")) >= 1)
        .join(merged, sample("id") === merged("doc_id"), "left")
        .select(sample("id").as("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          coalesce(col("covered"), lit(0L)).as("covered"),
          expr("(coalesce(covered, 0L) * 1000000L) div CAST(length(text) AS BIGINT)")
            .as("cov_fp"))
    },

    // ---- SA-span REMOVAL end-to-end (see ops.SaDedup): the apply step
    //      on the suffix-array tier — Lee et al. 2021's ExactSubstr
    //      dedup at character granularity. Every adjacent-suffix pair
    //      with a >= 16-char common prefix marks its doc-order-LATER
    //      occurrence for removal of the common prefix; intervals
    //      DISTINCTed (the q_dup_coverage tie lesson), merged per doc
    //      (gaps-and-islands), surviving segments reassembled in
    //      position order (string_agg / sorted-collect — both engines
    //      deterministic: segment starts are unique per doc). Same 1/16
    //      doc sample as q_dup_coverage bounds the bench's suffix sort ----
    QueryDef.sql(
      "q_sa_dedup",
      """WITH sample AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 16 = 0
        |), pos_t AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(generate_series(1, length(text))) AS BIGINT) AS pos
        |  FROM sample
        |), sfx AS (
        |  SELECT doc_id, pos, substr(text, CAST(pos AS INT)) AS s
        |  FROM pos_t
        |), ord AS (
        |  SELECT doc_id, pos, s,
        |    row_number() OVER (ORDER BY s, doc_id, pos) AS rn
        |  FROM sfx
        |), pr AS (
        |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
        |    b.doc_id AS doc_b, b.pos AS pos_b, a.s AS sa_, b.s AS sb_
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1
        |  WHERE substr(a.s, 1, 16) = substr(b.s, 1, 16)
        |    AND length(a.s) >= 16
        |), spans AS (
        |  SELECT doc_a, pos_a, doc_b, pos_b,
        |    (SELECT COALESCE(max(l), 0) FROM range(1, 65) t(l)
        |     WHERE CAST(l AS BIGINT) <= least(length(sa_), length(sb_))
        |       AND substr(sa_, 1, CAST(l AS INT))
        |         = substr(sb_, 1, CAST(l AS INT))) AS span_len
        |  FROM pr
        |), victims AS (
        |  SELECT DISTINCT
        |    CASE WHEN doc_a > doc_b OR (doc_a = doc_b AND pos_a > pos_b)
        |      THEN doc_a ELSE doc_b END AS doc_id,
        |    CASE WHEN doc_a > doc_b OR (doc_a = doc_b AND pos_a > pos_b)
        |      THEN pos_a ELSE pos_b END AS st,
        |    CASE WHEN doc_a > doc_b OR (doc_a = doc_b AND pos_a > pos_b)
        |      THEN pos_a ELSE pos_b END + span_len AS en
        |  FROM spans WHERE span_len >= 16
        |), brk AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN st > COALESCE(max(en) OVER (PARTITION BY doc_id
        |      ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS b
        |  FROM victims
        |), isl AS (
        |  SELECT doc_id, st, en,
        |    CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS island
        |  FROM brk
        |), mi AS (
        |  SELECT doc_id, island, min(st) AS mn, max(en) AS mx
        |  FROM isl GROUP BY doc_id, island
        |), gaps AS (
        |  SELECT doc_id,
        |    COALESCE(lag(mx) OVER (PARTITION BY doc_id ORDER BY mn), 1)
        |      AS s,
        |    mn AS e
        |  FROM mi
        |), term AS (
        |  SELECT m.doc_id, max(m.mx) AS s,
        |    CAST(length(d.text) AS BIGINT) + 1 AS e,
        |    CAST(sum(m.mx - m.mn) AS BIGINT) AS n_removed
        |  FROM mi m JOIN sample d ON d.doc_id = m.doc_id
        |  GROUP BY m.doc_id, length(d.text)
        |), segs AS (
        |  SELECT doc_id, s, e FROM gaps WHERE e > s
        |  UNION ALL
        |  SELECT doc_id, s, e FROM term WHERE e > s
        |), kept AS (
        |  SELECT g.doc_id, g.s,
        |    substr(d.text, CAST(g.s AS INT), CAST(g.e - g.s AS INT)) AS seg
        |  FROM segs g JOIN sample d ON d.doc_id = g.doc_id
        |), ct AS (
        |  SELECT doc_id, string_agg(seg, '' ORDER BY s) AS ct
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  COALESCE(t.n_removed, 0) AS n_removed,
        |  CASE WHEN t.doc_id IS NULL THEN d.text
        |       ELSE COALESCE(ct.ct, '') END AS clean_text
        |FROM sample d
        |LEFT JOIN term t ON t.doc_id = d.doc_id
        |LEFT JOIN ct ON ct.doc_id = d.doc_id""".stripMargin
    ) { (s, d) =>
      val sample = Tables.documents(s, d)
        .filter(expr("md5p60(cast(doc_id AS string)) % 16 = 0"))
        .select(col("doc_id").as("id"), col("text"))
      graft.ops.SaDedup.clean(sample, minLen = 16, cap = 64)
    }
  )
}
