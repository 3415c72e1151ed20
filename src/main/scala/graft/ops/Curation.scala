package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: PII redaction,
  * benchmark decontamination, domain-mixture resampling, and semantic
  * (embedding-cluster) dedup. Like [[NearDup]]/[[Sharding]], everything
  * here is a reusable library surface parameterized by column names; the
  * oracle queries in `graft.queries.CurationQueries` delegate here.
  *
  * Cross-engine determinism: hashes are md5-derived (`md5p60`, requires
  * `spark.sql.extensions=graft.GraftExtensions`), thresholds are exact
  * integer comparisons, and the regex subset used for PII sits in the
  * common ground of Java regex and RE2 (no lookaround, no backrefs).
  *
  * Scale shape: PII is per-row (embarrassingly parallel); decontamination
  * joins the corpus against a BROADCAST eval-set n-gram index (benchmark
  * suites are MBs, corpora are TBs); mixture resampling is one grouped
  * count + a broadcast join back (no window over the corpus); semantic
  * dedup enumerates pairs only WITHIN a k-means cell, with k chosen so the
  * expected cell size stays constant.
  */
object Curation {

  // ------------------------------------------------------------------ PII

  /** Regex subset valid and identical in Java regex (Spark) and RE2
    * (DuckDB): character classes, bounded/unbounded repetition,
    * alternation — no lookaround, no backreferences, no \\b.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,3} [0-9]{3}-[0-9]{4}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Detect and redact emails, then phones, then IPv4s (that order — the
    * patterns are mutually non-overlapping by construction: the email
    * domain must end in an alpha TLD, the phone requires a leading `+`).
    * Appends `n_emails`, `n_phones`, `n_ipv4`, and `redacted` (the text
    * with each match replaced by a type tag). Purely per-row expressions.
    */
  def piiScrub(df: DataFrame, text: String = "text"): DataFrame = {
    val t = col(text)
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("n_ipv4", size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))
  }

  // ------------------------------------------------- decontamination

  private val P = 2147483647L // 2^31 - 1

  /** Flag training documents that share word-3-gram shingles with an
    * evaluation/benchmark set: (id, n_hits, contaminated). `n_hits`
    * counts the DISTINCT shingle hashes of the doc that appear anywhere
    * in the eval set; `contaminated` = n_hits >= `minHits`. Docs too
    * short to shingle (< 3 tokens) report 0 hits.
    *
    * The eval side collapses to a distinct hash set and is broadcast —
    * benchmark suites are MBs while the corpus is TBs, so the corpus is
    * never shuffled for the probe; the per-doc distinct + count is one
    * hash aggregation, linear in corpus size.
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      minHits: Int = 5): DataFrame = {
    def hashes(df: DataFrame) =
      NearDup.shingles(df, id, text)
        .select(col(id), expr(s"md5p60(shingle) % $P").as("h"))
    val evalSet = hashes(eval).select("h").distinct()
    val hits = hashes(train)
      .select(col(id), col("h")).distinct()
      .join(broadcast(evalSet), "h")
      .groupBy(col(id))
      .agg(count(lit(1)).as("hits"))
    train.select(col(id))
      .join(hits, Seq(id), "left")
      .select(
        col(id),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  // ------------------------------------------------- domain mixture

  /** Deterministically downsample every domain to the size of the
    * smallest one (uniform target mixture): appends `n_domain` (the
    * domain's corpus count) and `kept`. A doc survives iff
    * `(md5p60(id) % 1e6) * n_domain < min_domain_count * 1e6` — an exact
    * integer comparison, reproducible at any parallelism, with expected
    * kept-count = min_domain_count per domain.
    *
    * One grouped count (|domains| rows) broadcast back — no window over
    * the corpus, no rand(). Overflow-safe to n_domain ~ 9e12.
    */
  def mixToUniform(
      df: DataFrame,
      domain: String = "source",
      id: String = "doc_id"): DataFrame = {
    val counts = df.groupBy(col(domain)).agg(count(lit(1)).as("n_domain"))
    val minCnt = counts.agg(min(col("n_domain")).as("min_domain"))
    df.join(broadcast(counts), Seq(domain))
      .crossJoin(broadcast(minCnt))
      .withColumn("hv_ppm", expr(s"md5p60(cast($id as string)) % 1000000"))
      .withColumn("kept", col("hv_ppm") * col("n_domain") < col("min_domain") * lit(1000000L))
  }

  /** Temperature-based domain resampling at alpha = 1/2 (the sqrt
    * temperature of multilingual-sampling practice): a doc of domain d
    * survives with probability sqrt(min_count / n_d) — the smallest
    * domain keeps everything, larger domains keep sqrt-proportionally
    * more than uniform (expected kept count = sqrt(min_count * n_d),
    * between `mixToUniform`'s min_count and the natural n_d).
    *
    * Alpha is FIXED at 1/2 on purpose: sqrt is the one power function
    * IEEE-754 requires correctly rounded, so the keep decision
    * (hash_ppm < 1e6 * sqrt(min/n)) evaluates bit-identically on any
    * JVM and in the DuckDB oracle; pow(x, alpha) carries no such
    * guarantee and a 1-ulp divergence flips boundary rows. Same scale
    * shape as mixToUniform: one grouped count broadcast back, no
    * rand(), no corpus window.
    */
  def mixWithSqrtTemperature(
      df: DataFrame,
      domain: String = "source",
      id: String = "doc_id"): DataFrame = {
    val counts = df.groupBy(col(domain)).agg(count(lit(1)).as("n_domain"))
    val minCnt = counts.agg(min(col("n_domain")).as("min_domain"))
    df.join(broadcast(counts), Seq(domain))
      .crossJoin(broadcast(minCnt))
      .withColumn("hv_ppm", expr(s"md5p60(cast($id as string)) % 1000000"))
      .withColumn("kept",
        col("hv_ppm").cast("double") < lit(1e6) *
          sqrt(col("min_domain").cast("double") / col("n_domain").cast("double")))
  }

  /** Cap every domain at an expected `budget` tokens (the data-budget
    * operator of mixture design: "at most B tokens of web, B' of code"):
    * appends `t_domain` (the domain's total token count) and `kept`. A
    * doc survives iff `(md5p60(id) % 1e6) * t_domain < budget * 1e6` —
    * keep probability budget/t_domain, so expected kept tokens = budget
    * exactly; domains already under budget keep everything.
    *
    * This is an EXPECTED-value cap, not an exact prefix cut, on purpose:
    * an exact cut ("first docs by hash order until the budget fills")
    * needs a per-domain ordered cumulative sum — a single reducer per
    * domain, the anti-pattern that serializes at 100 TB with a handful
    * of domains. The threshold form is one |domains|-row grouped sum
    * broadcast back, an exact integer keep decision per row, and a
    * relative token-count error that vanishes as O(1/sqrt(n_docs)).
    * Overflow-safe while max(t_domain, budget) < ~9.2e12.
    */
  def capDomainTokens(
      df: DataFrame,
      budget: Long,
      domain: String = "source",
      id: String = "doc_id",
      tokens: String = "n_tokens"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val totals = df.groupBy(col(domain)).agg(sum(col(tokens)).as("t_domain"))
    df.join(broadcast(totals), Seq(domain))
      .withColumn("hv_ppm", expr(s"md5p60(cast($id as string)) % 1000000"))
      .withColumn("kept", col("hv_ppm") * col("t_domain") < lit(budget) * lit(1000000L))
  }

  /** Per-cluster representative by QUALITY instead of min-id: for each
    * cluster, the member with the highest `score` (ties -> lowest `id`)
    * — the "keep the best copy" policy real curation pipelines apply to
    * near-dup clusters, where min-id keeps an arbitrary copy. Output:
    * one row per cluster (`cluster`, rep_id, rep_score, n_members).
    *
    * One hash aggregation on the cluster key: the argmax travels as a
    * `max(struct(score, -id))` — partial-aggregatable, so map-side
    * combine collapses each partition's members before the shuffle and
    * no per-cluster member list is ever buffered. Scores must be
    * non-null (null rows would win max(struct) in Spark's null-last
    * struct order on some engines but not others — filter first).
    */
  def bestInCluster(
      members: DataFrame,
      cluster: String = "cluster_id",
      id: String = "doc_id",
      score: String = "score"): DataFrame =
    members
      .groupBy(col(cluster))
      .agg(
        max(struct(col(score).as("s"), (-col(id)).as("ni"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(
        col(cluster),
        (-col("m.ni")).as("rep_id"),
        col("m.s").as("rep_score"),
        col("n_members"))

  // ------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic dedup: cluster embeddings with the
    * deterministic [[IvfIndex]] k-means, enumerate pairs only WITHIN a
    * cell, mark every vector whose cosine to a lower-id cell-mate is
    * >= `tau` as a duplicate of the group's min id. Output:
    * (vec_id, cent_id, keep_id, is_dup).
    *
    * Pair cost is sum(cell^2) — the caller controls it through k: with
    * k ~ n/c the expected cell size stays a CONSTANT c and the pair
    * enumeration is linear (~n*c). [[IvfIndex.chooseK]]'s k ~ sqrt(n)
    * is the index-friendly default for search; for pure dedup at 10^9+
    * rows pass k = n/1024 (cells ~1k, pairs ~1e12 spread over the
    * cluster). Near-dup semantics are per-cell: a true duplicate split
    * across a cell boundary is missed — the standard SemDeDup recall
    * trade, bounded because near-identical vectors land in the same
    * max-cosine cell except at cell-boundary ties.
    */
  def semDedup(emb: DataFrame, k: Int, tau: Double, iters: Int = 2): DataFrame = {
    import graft.functions.VecOps
    val cb = IvfIndex.codebook(emb, k, iters)
    val assigned = IvfIndex.assign(emb, cb)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val partners = assigned
    val pairs = assigned.join(
        partners.select(
          col("vec_id").as("p_id"), col("embedding").as("p_emb"),
          col("cent_id").as("p_cent")),
        col("cent_id") === col("p_cent") && col("vec_id") =!= col("p_id"))
      .filter(VecOps.cosine(col("embedding"), col("p_emb")) >= tau)
      .select(col("vec_id"), col("p_id"))
    assigned.select(col("vec_id"), col("cent_id"))
      .join(pairs, Seq("vec_id"), "left")
      .groupBy(col("vec_id"), col("cent_id"))
      .agg(least(col("vec_id"), coalesce(min(col("p_id")), col("vec_id"))).as("keep_id"))
      .withColumn("is_dup", col("keep_id") < col("vec_id"))
  }
}
