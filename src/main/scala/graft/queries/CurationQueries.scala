package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Curation

/** Corpus-curation coverage (training-data pipeline, beyond-reference):
  * PII redaction, benchmark decontamination, domain-mixture resampling,
  * and SemDeDup-style semantic dedup. Thin oracle bindings over the
  * reusable [[graft.ops.Curation]] surface.
  */
object CurationQueries {

  private val P = 2147483647L // 2^31 - 1

  /** DuckDB twin of `md5p60(x) % m`. */
  private def duckHash(x: String, m: Long = P): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT) % $m"

  /** Deterministic PII enrichment of the synthetic corpus: the driver's
    * documents are word-soup with no PII, so both engines append the SAME
    * doc_id-derived email/phone/IP (plus a second email on every third
    * doc) before detection — the scrub path is exercised on real matches
    * while staying a pure function of driver data.
    */
  private val enrichDuck: String =
    """concat(text, ' contact user', CAST(doc_id AS VARCHAR),
      |  '@mail.example.com or +1 555-',
      |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |  ' at 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
      |  CAST((doc_id * 7) % 256 AS VARCHAR),
      |  CASE WHEN doc_id % 3 = 0
      |       THEN concat(' cc admin', CAST(doc_id AS VARCHAR), '@example.org')
      |       ELSE '' END)""".stripMargin.replaceAll("\n\\s*", " ")

  private def enrichSpark = concat(
    col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail.example.com or +1 555-"),
    lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
    lit(" at 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
    pmod(col("doc_id") * 7, lit(256)).cast("string"),
    when(pmod(col("doc_id"), lit(3)) === 0,
      concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@example.org")))
      .otherwise(lit("")))

  /** k-anonymity release cascade as shared DuckDB CTEs ending in
    * `rel(c_custkey, qi_nation, qi_segment, anon_level, class_size)` —
    * single-sourced between q_k_anonymity (the release itself) and the
    * two audits over it, q_l_diversity and q_t_closeness (via
    * [[sensDuck]]), so none of the three can drift.
    */
  private val kAnonCtes: String =
    """l1 AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n1
      |  FROM customer GROUP BY c_nationkey, c_mktsegment
      |), c1 AS (
      |  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, l1.n1
      |  FROM customer c JOIN l1 USING (c_nationkey, c_mktsegment)
      |), l2 AS (
      |  SELECT c_nationkey, count(*) AS n2 FROM c1
      |  WHERE n1 < 10 GROUP BY c_nationkey
      |), c2 AS (
      |  SELECT c1.*, l2.n2 FROM c1 LEFT JOIN l2 USING (c_nationkey)
      |), l3 AS (
      |  SELECT count(*) AS n3 FROM c2 WHERE n1 < 10 AND n2 < 10
      |), rel AS (
      |  SELECT c_custkey,
      |    CASE WHEN n1 >= 10 THEN CAST(c_nationkey AS VARCHAR)
      |         WHEN n2 >= 10 THEN CAST(c_nationkey AS VARCHAR)
      |         WHEN n3 >= 10 THEN 'ANY' ELSE 'SUPPRESSED' END AS qi_nation,
      |    CASE WHEN n1 >= 10 THEN c_mktsegment
      |         WHEN n2 >= 10 THEN 'ANY'
      |         WHEN n3 >= 10 THEN 'ANY' ELSE 'SUPPRESSED' END AS qi_segment,
      |    CASE WHEN n1 >= 10 THEN 1 WHEN n2 >= 10 THEN 2
      |         WHEN n3 >= 10 THEN 3 ELSE 0 END AS anon_level,
      |    CASE WHEN n1 >= 10 THEN n1 WHEN n2 >= 10 THEN n2
      |         WHEN n3 >= 10 THEN n3 ELSE CAST(0 AS BIGINT) END AS class_size
      |  FROM c2 CROSS JOIN l3
      |)""".stripMargin

  /** Sensitive-attribute frame over the released rows, as a DuckDB CTE
    * body ending in `sens(qi_nation, qi_segment, sband)` — the
    * account-balance band (DEBT / LOW / HIGH, threshold comparisons
    * only) joined onto [[kAnonCtes]]'s release. Single-sourced between
    * q_l_diversity and q_t_closeness (they audit the IDENTICAL release
    * over the IDENTICAL sensitive attribute; a band edit must hit both).
    */
  private val sensDuck: String =
    """sens AS (
      |  SELECT rel.qi_nation, rel.qi_segment,
      |    CASE WHEN c.c_acctbal < 0e0 THEN 'DEBT'
      |         WHEN c.c_acctbal < 5000e0 THEN 'LOW'
      |         ELSE 'HIGH' END AS sband
      |  FROM rel JOIN customer c USING (c_custkey)
      |  WHERE rel.anon_level > 0
      |)""".stripMargin

  /** Spark twin of [[sensDuck]]. */
  private def sensBand(s: SparkSession, d: String): DataFrame =
    kAnonRelease(s, d)
      .filter(col("anon_level") > 0)
      .join(Tables.customer(s, d).select("c_custkey", "c_acctbal"),
        "c_custkey")
      .withColumn("sband",
        when(col("c_acctbal") < 0, "DEBT")
          .when(col("c_acctbal") < 5000, "LOW").otherwise("HIGH"))

  /** Spark twin of [[kAnonCtes]]'s `rel` frame. */
  private def kAnonRelease(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    val l1 = cust.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n1"))
    val c1 = cust.join(l1, Seq("c_nationkey", "c_mktsegment"))
    val l2 = c1.filter(col("n1") < 10)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n2"))
    val c2 = c1.join(l2, Seq("c_nationkey"), "left")
    val l3 = c2.filter(col("n1") < 10 && col("n2") < 10)
      .agg(count(lit(1)).as("n3"))
    c2.crossJoin(broadcast(l3))
      .select(col("c_custkey"),
        when(col("n1") >= 10, col("c_nationkey").cast("string"))
          .when(col("n2") >= 10, col("c_nationkey").cast("string"))
          .when(col("n3") >= 10, lit("ANY")).otherwise("SUPPRESSED")
          .as("qi_nation"),
        when(col("n1") >= 10, col("c_mktsegment"))
          .when(col("n2") >= 10, lit("ANY"))
          .when(col("n3") >= 10, lit("ANY")).otherwise("SUPPRESSED")
          .as("qi_segment"),
        when(col("n1") >= 10, 1).when(col("n2") >= 10, 2)
          .when(col("n3") >= 10, 3).otherwise(0).as("anon_level"),
        when(col("n1") >= 10, col("n1")).when(col("n2") >= 10, col("n2"))
          .when(col("n3") >= 10, col("n3")).otherwise(0L).as("class_size"))
  }

  val all: Seq[QueryDef] = Seq(

    // ---- PII detection + redaction (emails, phones, IPv4) — per-row
    //      regex in the Java-regex/RE2 common subset, embarrassingly
    //      parallel; output digests the redacted text so the gate checks
    //      the full replacement, not just the counts ----
    QueryDef.sql(
      "q_pii_scrub",
      s"""WITH e AS (
         |  SELECT doc_id, $enrichDuck AS t FROM documents
         |), r AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(t, '${Curation.EmailRe}')) AS n_emails,
         |    len(regexp_extract_all(t, '${Curation.PhoneRe}')) AS n_phones,
         |    len(regexp_extract_all(t, '${Curation.Ipv4Re}')) AS n_ipv4,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(t, '${Curation.EmailRe}', '<EMAIL>', 'g'),
         |        '${Curation.PhoneRe}', '<PHONE>', 'g'),
         |      '${Curation.Ipv4Re}', '<IP>', 'g') AS redacted
         |  FROM e
         |)
         |SELECT doc_id, n_emails, n_phones, n_ipv4,
         |  md5(redacted) AS redacted_md5,
         |  CAST(length(redacted) AS BIGINT) AS redacted_len
         |FROM r""".stripMargin
    ) { (s, d) =>
      Curation.piiScrub(
          Tables.documents(s, d).select(col("doc_id"), enrichSpark.as("text")))
        .select(
          col("doc_id"), col("n_emails"), col("n_phones"), col("n_ipv4"),
          md5(col("redacted")).as("redacted_md5"),
          length(col("redacted")).cast("long").as("redacted_len"))
    },

    // ---- k-anonymity generalization cascade (the release-side privacy
    //      audit next to q_pii_scrub's redaction): customers are
    //      released at the most specific quasi-identifier level whose
    //      anonymity set still has >= k members — exact (nation,
    //      segment), then (nation, ANY) over the level-1 failures, then
    //      (ANY, ANY), else suppressed. Local recoding: each level's
    //      class size counts ONLY the records actually released at that
    //      level, so every released class is a true >= k anonymity set.
    //      Shape: three shrinking hash aggregations (level-2 runs over
    //      level-1 failures only, level-3 is one scalar), joined back by
    //      key / broadcast — partial-aggregable, no windows, no
    //      all-pairs anything ----
    QueryDef.sql(
      "q_k_anonymity",
      s"""WITH $kAnonCtes
         |SELECT c_custkey, qi_nation, qi_segment, anon_level, class_size
         |FROM rel""".stripMargin
    ) { (s, d) =>
      kAnonRelease(s, d)
        .select("c_custkey", "qi_nation", "qi_segment", "anon_level",
          "class_size")
    }.intendsNestedLoop(
      "broadcast side is the single-row level-3 escalation-count frame"),

    // ---- l-diversity audit over the SAME k-anonymity release (the
    //      second classical re-identification criterion: a class that
    //      is large but whose members all share one sensitive value
    //      still leaks it). Sensitive attribute = account-balance band
    //      (DEBT / LOW / HIGH — threshold comparisons only, exact on
    //      both engines); per released class: size, distinct sensitive
    //      values, and the l >= 3 verdict. Shape: the cascade's
    //      shrinking aggs + ONE more hash agg over released rows ----
    QueryDef.sql(
      "q_l_diversity",
      s"""WITH $kAnonCtes, $sensDuck
         |SELECT qi_nation, qi_segment,
         |  CAST(count(*) AS BIGINT) AS class_size,
         |  CAST(count(DISTINCT sband) AS BIGINT) AS l_distinct,
         |  count(DISTINCT sband) >= 3 AS l_diverse
         |FROM sens GROUP BY qi_nation, qi_segment""".stripMargin
    ) { (s, d) =>
      sensBand(s, d)
        .groupBy(col("qi_nation"), col("qi_segment"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("sband")).as("l_distinct"),
          (countDistinct(col("sband")) >= 3).as("l_diverse"))
    }.intendsNestedLoop(
      "broadcast side is the single-row level-3 escalation-count frame"),

    // ---- t-closeness audit over the SAME k-anonymity release — the
    //      third classical criterion (a diverse class can still leak by
    //      SKEW: all-HIGH-balance is informative even with 3 distinct
    //      bands present). t = Earth-Mover's Distance between the
    //      class's ordered sensitive-band distribution (DEBT < LOW <
    //      HIGH) and the released-population distribution. Exactness:
    //      EMD over an ordered 3-category attribute is the mean of the
    //      two interior CDF gaps; each CDF is quantized to 1e6 fixed
    //      point by integer division FIRST (exact on both engines), so
    //      t_fp is pure int64 algebra with n*1e6 < 2^63 headroom (no
    //      n*N cross term). Shape: the cascade's shrinking aggs + one
    //      hash agg onto the class frame + a broadcast 1-row global. ----
    QueryDef.sql(
      "q_t_closeness",
      s"""WITH $kAnonCtes, $sensDuck, cls AS (
         |  SELECT qi_nation, qi_segment,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN sband = 'DEBT' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nd,
         |    CAST(sum(CASE WHEN sband = 'LOW' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nl
         |  FROM sens GROUP BY qi_nation, qi_segment
         |), g AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS gn,
         |    CAST(sum(nd) AS BIGINT) AS gd,
         |    CAST(sum(nl) AS BIGINT) AS gl
         |  FROM cls
         |)
         |SELECT qi_nation, qi_segment, n AS class_size,
         |  (abs((nd * 1000000) // n - (gd * 1000000) // gn)
         |   + abs(((nd + nl) * 1000000) // n - ((gd + gl) * 1000000) // gn))
         |    // 2 AS t_fp,
         |  (abs((nd * 1000000) // n - (gd * 1000000) // gn)
         |   + abs(((nd + nl) * 1000000) // n - ((gd + gl) * 1000000) // gn))
         |    // 2 <= 250000 AS t_close
         |FROM cls CROSS JOIN g""".stripMargin
    ) { (s, d) =>
      val cls = sensBand(s, d).groupBy(col("qi_nation"), col("qi_segment"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sband") === "DEBT", 1L).otherwise(0L)).as("nd"),
          sum(when(col("sband") === "LOW", 1L).otherwise(0L)).as("nl"))
      val g = cls.agg(sum(col("n")).as("gn"), sum(col("nd")).as("gd"),
        sum(col("nl")).as("gl"))
      cls.crossJoin(broadcast(g))
        .withColumn("t_fp",
          expr("(abs((nd * 1000000L) div n - (gd * 1000000L) div gn) + " +
            "abs(((nd + nl) * 1000000L) div n - " +
            "((gd + gl) * 1000000L) div gn)) div 2"))
        .select(col("qi_nation"), col("qi_segment"),
          col("n").as("class_size"), col("t_fp"),
          (col("t_fp") <= 250000L).as("t_close"))
    }.intendsNestedLoop(
      "broadcast sides are the 1-row level-3 escalation count and the " +
        "1-row released-population distribution"),

    // ---- ε-differentially-private count release
    //      ([[graft.ops.DpNoise]]): per-event-type counts perturbed by
    //      the discrete (two-sided geometric) mechanism, ε = ln(10/9) —
    //      the tier's fourth leg: k-anonymity/l-diversity/t-closeness
    //      AUDIT a release, this one PERTURBS it with a calibrated
    //      guarantee. The noise draw is exact int64 end-to-end (α-power
    //      table on a 2^59 scale, integer CDF inversion of the 60-bit
    //      md5 uniform), so both engines release identical counts; the
    //      hash seed is the reproducibility trade documented on the op
    //      (production swaps in a secret-keyed PRF). One hash agg, then
    //      a broadcast range join against the ~760-row mechanism table ----
    QueryDef.sql(
      "q_dp_counts",
      s"""WITH RECURSIVE graft_counts AS (
         |  SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type
         |),
         |${graft.ops.DpNoise.oracleSql}""".stripMargin
    ) { (s, d) =>
      graft.ops.DpNoise.release(
        Tables.events(s, d)
          .groupBy(col("event_type").as("key"))
          .agg(count(lit(1)).as("n")))
    }.intendsNestedLoop(
      "broadcast side is the constant ~760-row mechanism CDF table " +
        "(data-independent metadata)"),

    // ---- content-defined chunking ([[graft.ops.CdcChunk]]): the
    //      rsync/LBFS dedup primitive — cut where the position-free
    //      rolling hash of the trailing 16 chars ≡ 0 (mod 64), so
    //      boundaries move WITH content and an insertion re-aligns
    //      within one window (fixed-size blocks lose every later
    //      block). Exact int64 polynomial hash mod 2^31−1 with
    //      precomputed power/inverse-power metadata tables; chunk
    //      fingerprints are position-rebased exact moments, so
    //      identical chunk content fingerprints identically at any
    //      offset; n_same = corpus-wide count of identical chunks (the
    //      dedup signal). ONE doc_id exchange carries explode, both
    //      window sums and the chunk reduction ----
    QueryDef.sql(
      "q_cdc_chunks",
      s"""WITH RECURSIVE ${graft.ops.CdcChunk.oracleSql()}""".stripMargin
    ) { (s, d) =>
      graft.ops.CdcChunk.chunks(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
    },

    // ---- chunk-fingerprint substring-dedup gate
    //      ([[graft.ops.ChunkDedup]]): the SA-free incremental tier of
    //      the ExactSubstr family — corpus chunks (doc_id % 10 <> 0)
    //      indexed once by exact CDC fingerprint, incoming docs
    //      (doc_id % 10 = 0) chunked identically and probed; per-doc
    //      duplication coverage in exact integers. One fingerprint
    //      equi-join + one doc agg, both linear in incoming chunks —
    //      never a suffix-array rebuild over corpus ∪ batch. The
    //      streaming twin is graft.streaming.SubstrDedupGate ----
    QueryDef.sql(
      "q_substr_gate",
      s"""WITH RECURSIVE ${graft.ops.CdcChunk.oracleFingerprintCtes()},
         |idx AS (
         |  SELECT chunk_len, s0, fp1, fp2, min(doc_id) AS corpus_id
         |  FROM agg WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3, 4
         |), probe AS (
         |  SELECT a.doc_id, a.chunk_len, idx.corpus_id
         |  FROM (SELECT * FROM agg WHERE doc_id % 10 = 0) a
         |  LEFT JOIN idx USING (chunk_len, s0, fp1, fp2)
         |)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(corpus_id) AS BIGINT) AS n_dup_chunks,
         |  CAST(coalesce(sum(chunk_len) FILTER (WHERE corpus_id IS NOT NULL),
         |    0) AS BIGINT) AS dup_chars,
         |  CAST(sum(chunk_len) AS BIGINT) AS n_chars_chunked,
         |  CAST(coalesce(sum(chunk_len) FILTER (WHERE corpus_id IS NOT NULL),
         |    0) AS BIGINT) * 1000000 // CAST(sum(chunk_len) AS BIGINT)
         |    AS dup_frac_fp,
         |  min(corpus_id) AS matched_corpus_id,
         |  CAST(coalesce(sum(chunk_len) FILTER (WHERE corpus_id IS NOT NULL),
         |    0) AS BIGINT) * 1000000 // CAST(sum(chunk_len) AS BIGINT)
         |    >= ${graft.ops.ChunkDedup.DupFracFpThreshold} AS is_dup
         |FROM probe GROUP BY doc_id""".stripMargin
    ) { (s, d) =>
      val fps = graft.ops.CdcChunk.fingerprints(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      graft.ops.ChunkDedup.verdicts(
        fps.filter(pmod(col("doc_id"), lit(10)) === 0),
        graft.ops.ChunkDedup.indexOf(
          fps.filter(pmod(col("doc_id"), lit(10)) =!= 0)))
    },

    // ---- benchmark decontamination: flag training docs sharing 3-gram
    //      shingles with the eval split (doc_id % 50 = 0 stands in for a
    //      held-out benchmark). Eval hash set is BROADCAST — the corpus
    //      side is one linear scan + hash agg ----
    QueryDef.sql(
      "q_decontam",
      s"""WITH sh_raw AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, len(string_split(text, ' ')) - 1),
         |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
         |  )) AS shingle
         |  FROM documents WHERE len(string_split(text, ' ')) >= 3
         |), sh AS (
         |  SELECT doc_id, ${duckHash("shingle")} AS h FROM sh_raw
         |), ev AS (
         |  SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0
         |), tr AS (
         |  SELECT DISTINCT doc_id, h FROM sh WHERE doc_id % 50 <> 0
         |), hits AS (
         |  SELECT doc_id, count(*) AS hits FROM tr JOIN ev USING (h) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) >= 5 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 50 <> 0""".stripMargin
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.decontaminate(
        train = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        eval = docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        minHits = 5)
    },

    // ---- domain-mixture resampling: deterministically downsample every
    //      source to the smallest one's size. One |domains|-row grouped
    //      count broadcast back; keep decision is exact integer
    //      arithmetic on a doc_id hash — no rand(), no corpus window ----
    QueryDef.sql(
      "q_domain_mix",
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_domain FROM documents GROUP BY source
         |), m AS (
         |  SELECT min(n_domain) AS min_domain FROM c
         |)
         |SELECT d.doc_id, d.source, c.n_domain,
         |  (${duckHash("CAST(d.doc_id AS VARCHAR)", 1000000L)}) * c.n_domain
         |    < m.min_domain * 1000000 AS kept
         |FROM documents d JOIN c USING (source) CROSS JOIN m""".stripMargin
    ) { (s, d) =>
      Curation.mixToUniform(Tables.documents(s, d).select(col("doc_id"), col("source")))
        .select(col("doc_id"), col("source"), col("n_domain"), col("kept"))
    }.intendsNestedLoop(
      "broadcast side is the single-row min-domain-count frame"),

    // ---- sqrt-temperature domain mixing (alpha = 1/2): keep prob
    //      sqrt(min/n_d) — alpha fixed at 1/2 because sqrt is the one
    //      correctly-rounded power both engines share (pow would flip
    //      boundary rows by 1 ulp); see Curation.mixWithSqrtTemperature ----
    QueryDef.sql(
      "q_domain_mix_temp",
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_domain FROM documents GROUP BY source
         |), m AS (
         |  SELECT min(n_domain) AS min_domain FROM c
         |)
         |SELECT d.doc_id, d.source, c.n_domain,
         |  (${duckHash("CAST(d.doc_id AS VARCHAR)", 1000000L)}) * 1e0
         |    < 1e6 * sqrt(CAST(m.min_domain AS DOUBLE) / CAST(c.n_domain AS DOUBLE))
         |    AS kept
         |FROM documents d JOIN c USING (source) CROSS JOIN m""".stripMargin
    ) { (s, d) =>
      Curation.mixWithSqrtTemperature(
          Tables.documents(s, d).select(col("doc_id"), col("source")))
        .select(col("doc_id"), col("source"), col("n_domain"), col("kept"))
    }.intendsNestedLoop(
      "broadcast side is the single-row min-domain-count frame"),

    // ---- per-domain token-budget cap: every source capped at an
    //      EXPECTED 1300 tokens via a hash threshold (keep prob =
    //      budget/t_domain, exact integer comparison). Deliberately not
    //      an exact prefix cut: that would need a per-domain ordered
    //      cumulative sum — one reducer per domain at 100 TB. One
    //      grouped sum broadcast back; no window, no rand() ----
    QueryDef.sql(
      "q_domain_cap",
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_domain
         |  FROM d GROUP BY source
         |)
         |SELECT d.doc_id, d.source, d.n_tokens, c.t_domain,
         |  (${duckHash("CAST(d.doc_id AS VARCHAR)", 1000000L)}) * c.t_domain
         |    < 1300 * 1000000 AS kept
         |FROM d JOIN c USING (source)""".stripMargin
    ) { (s, d) =>
      Curation.capDomainTokens(
          Tables.documents(s, d).select(
            col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          budget = 1300L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("t_domain"), col("kept"))
    },

    // ---- Tokenizer fertility / corpus sizing per (lang, source): the
    //      numbers a tokenizer+mixture design starts from — docs, token
    //      and char volume, chars-per-token (fertility) and
    //      tokens-per-doc. One scan, one hash aggregation (grouped on a
    //      bounded key space); ratios are single correctly-rounded
    //      divisions of exact integer sums, identical both engines ----
    QueryDef.sql(
      "q_token_fertility",
      """WITH t AS (
        |  SELECT lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    n_chars
        |  FROM documents
        |)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(toks) AS DOUBLE)
        |    AS chars_per_token,
        |  CAST(sum(toks) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS tokens_per_doc
        |FROM t GROUP BY lang, source""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"),
          col("n_chars"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("sum_chars"),
          (col("sum_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("tokens_per_doc"))
    },

    // ---- Blocklist screening (the multi-pattern contains scan every
    //      curation pipeline runs before anything smarter — at scale an
    //      Aho-Corasick pass; semantics here are exact substring
    //      counts): per blocklist term, documents hit and total
    //      occurrences via the length-difference identity
    //      (len(t) − len(replace(t, kw, ''))) / len(kw) — exact
    //      integers both engines. One scan; the term list is a
    //      constant-array explode, so the scan is shared across terms
    //      and the aggregate key space is |blocklist| ----
    QueryDef.sql(
      "q_blocklist", {
        val kws = Seq("slow", "merge", "vector", "stream", "filter",
          "window")
        val kwList = kws.map(k => s"'$k'").mkString(", ")
        s"""WITH x AS (
           |  SELECT kw,
           |    (length(text) - length(replace(text, kw, '')))
           |      // length(kw) AS occ
           |  FROM documents
           |  CROSS JOIN (SELECT unnest([$kwList]) AS kw)
           |)
           |SELECT kw, CAST(count(CASE WHEN occ > 0 THEN 1 END) AS BIGINT)
           |    AS n_docs,
           |  CAST(sum(occ) AS BIGINT) AS n_occ
           |FROM x GROUP BY kw""".stripMargin
      }
    ) { (s, d) =>
      val kws = Seq("slow", "merge", "vector", "stream", "filter",
        "window")
      Tables.documents(s, d)
        .select(col("text"),
          explode(array(kws.map(lit): _*)).as("kw"))
        .select(col("kw"),
          expr("(length(text) - length(replace(text, kw, '')))" +
            " div length(kw)").as("occ"))
        .groupBy(col("kw"))
        .agg(count(when(col("occ") > 0, 1)).as("n_docs"),
          sum(col("occ")).cast("long").as("n_occ"))
    },

    // ---- Gopher-style repetition signals: the repetition dimension of
    //      quality filtering (q_quality_filter covers length/punct/
    //      stopword/uniq-token) — most-frequent-token fraction,
    //      most-frequent-bigram fraction, distinct-bigram ratio. Pure
    //      per-row array expressions, embarrassingly parallel; the
    //      mode-of-array is O(u*n) per row in both engines (identical
    //      integer counts, so the double ratios match exactly) ----
    QueryDef.sql(
      "q_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), b AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
        |      i -> concat(toks[i], ' ', toks[i + 1])) ELSE [] END AS bigrams
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0e0
        |       ELSE list_max(list_transform(list_distinct(toks),
        |         u -> len(list_filter(toks, x -> x = u)))) / len(toks) END
        |    AS top_tok_frac,
        |  CASE WHEN len(bigrams) = 0 THEN 0e0
        |       ELSE list_max(list_transform(list_distinct(bigrams),
        |         u -> len(list_filter(bigrams, x -> x = u)))) / len(bigrams) END
        |    AS top_bigram_frac,
        |  CASE WHEN len(bigrams) = 0 THEN 1e0
        |       ELSE len(list_distinct(bigrams)) / len(bigrams) END
        |    AS uniq_bigram_ratio
        |FROM b""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("bigrams", expr(
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) " +
            "ELSE array() END"))
        .select(
          col("doc_id"),
          expr("CASE WHEN size(toks) = 0 THEN 0d ELSE " +
            "array_max(transform(array_distinct(toks), " +
            "u -> size(filter(toks, x -> x = u)))) / size(toks) END")
            .as("top_tok_frac"),
          expr("CASE WHEN size(bigrams) = 0 THEN 0d ELSE " +
            "array_max(transform(array_distinct(bigrams), " +
            "u -> size(filter(bigrams, x -> x = u)))) / size(bigrams) END")
            .as("top_bigram_frac"),
          expr("CASE WHEN size(bigrams) = 0 THEN 1d ELSE " +
            "size(array_distinct(bigrams)) / size(bigrams) END")
            .as("uniq_bigram_ratio"))
    },

    // ---- heavy hitters, two-pass: Misra-Gries sketch candidates
    //      (O(k) state, no corpus shuffle, no full-vocab aggregation)
    //      -> broadcast exact recount -> tokens with count*k > n. The
    //      result equals the naive full-groupBy answer — which is
    //      exactly what the oracle computes — so the gate proves the
    //      sketch produced no false negatives ----
    QueryDef.sql(
      "q_heavy_hitters",
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |), nq AS (
        |  SELECT count(*) AS n FROM toks
        |)
        |SELECT tok, cnt FROM (
        |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok) g, nq
        |WHERE g.cnt * 64 > nq.n""".stripMargin
    ) { (s, d) =>
      graft.ops.HeavyHitters.exactHeavyHitters(
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok")),
        k = 64)
    },

    // ---- Count-Min sketch point estimates ([[graft.ops.CountMin]]):
    //      4 md5-hash rows x 256 buckets over corpus token counts,
    //      estimate = min over rows. Deterministic hashing makes the
    //      sketch itself oracle-checkable — the output pins (exact, est)
    //      side by side for the 30 most frequent tokens, so the gate
    //      also witnesses est_cnt >= exact_cnt. CountMinSpec pins the
    //      one-sided error and the bucket-wise merge algebra. ----
    QueryDef.sql(
      "q_countmin",
      s"""WITH toks AS (
         |  SELECT tok FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok <> ''
         |), ex AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
         |  FROM toks GROUP BY tok
         |), hrows AS (
         |  SELECT unnest([0, 1, 2, 3]) AS i
         |), sk AS (
         |  SELECT i,
         |    ${duckHash("concat(CAST(i AS VARCHAR), ':', tok)", 256)}
         |      AS bucket,
         |    CAST(sum(exact_cnt) AS BIGINT) AS cnt
         |  FROM ex CROSS JOIN hrows
         |  GROUP BY 1, 2
         |)
         |SELECT tok, exact_cnt, est_cnt FROM (
         |  SELECT ex.tok, ex.exact_cnt, min(sk.cnt) AS est_cnt
         |  FROM ex CROSS JOIN hrows r
         |  JOIN sk ON sk.i = r.i AND sk.bucket =
         |    ${duckHash("concat(CAST(r.i AS VARCHAR), ':', ex.tok)", 256)}
         |  GROUP BY ex.tok, ex.exact_cnt)
         |ORDER BY exact_cnt DESC, tok LIMIT 30""".stripMargin
    ) { (s, d) =>
      val ex = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_cnt"))
      val sk = graft.ops.CountMin.sketchFromCounts(
        ex, "tok", "exact_cnt", d = 4, w = 256)
      graft.ops.CountMin.estimates(sk, ex, "tok", d = 4, w = 256)
        .orderBy(col("exact_cnt").desc, col("tok"))
        .limit(30)
    },

    // ---- SemDeDup-style semantic dedup: k-means cells (shared Lloyd
    //      unroll with q_knn_ivf via OracleKmeans), pairs enumerated only
    //      WITHIN a cell, cosine >= 0.9 -> min-id representative.
    //      Complement to q_dedup_embedding's LSH banding: cluster-bounded
    //      candidates instead of hyperplane-bucket candidates ----
    QueryDef.sql(
      "q_semdedup", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        s"""WITH ${OracleKmeans.codebookCtes},
           |${OracleKmeans.assignCte("asg", "cb2")},
           |pairs AS (
           |  SELECT a.vec_id, b.vec_id AS p_id
           |  FROM asg a JOIN asg b
           |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
           |  WHERE ${cosDuck("a.embedding", "b.embedding")} >= 9e-1
           |)
           |SELECT vec_id, cent_id, keep_id, keep_id < vec_id AS is_dup FROM (
           |  SELECT a.vec_id, a.cent_id,
           |    least(a.vec_id, coalesce(min(p.p_id), a.vec_id)) AS keep_id
           |  FROM asg a LEFT JOIN pairs p ON p.vec_id = a.vec_id
           |  GROUP BY a.vec_id, a.cent_id)""".stripMargin
      }
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      Curation.semDedup(emb, graft.ops.IvfIndex.chooseK(emb.count()), tau = 0.9)
    },
    // (r10: no plan intent — cell assignment is the row-local AnnAssign
    // loop over the collected codebook; the crossJoin is gone)

    // ---- Simplified silhouette (Hruschka et al. 2004): cluster-quality
    //      score of the q_knn_ivf/q_semdedup k-means cells, the
    //      evaluation metric that tells a curation pipeline whether its
    //      semantic cells are real before trusting semdedup/IVF on them.
    //      Per point: a = cosine distance to OWN centroid, b = min
    //      distance to any OTHER centroid, s = (b-a)/max(a,b) — row
    //      vs broadcast sqrt(n)-codebook only (the O(n²) pairwise
    //      silhouette is unusable at scale; the centroid form is the
    //      standard approximation). Per-term 1e6 quantization before the
    //      exact integer sum; one final shared-spelling division ----
    QueryDef.sql(
      "q_silhouette", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        s"""WITH ${OracleKmeans.codebookCtes},
           |${OracleKmeans.assignCte("asg", "cb2")},
           |sc AS (
           |  SELECT a.vec_id, a.cent_id,
           |    min(CASE WHEN c.cent_id = a.cent_id
           |        THEN 1e0 - ${cosDuck("a.embedding", "c.cent_emb")} END) AS da,
           |    min(CASE WHEN c.cent_id <> a.cent_id
           |        THEN 1e0 - ${cosDuck("a.embedding", "c.cent_emb")} END) AS db
           |  FROM asg a, cb2 c
           |  GROUP BY a.vec_id, a.cent_id
           |), sil AS (
           |  SELECT cent_id,
           |    CASE WHEN greatest(da, db) = 0e0 THEN CAST(0 AS BIGINT)
           |         ELSE CAST(floor((db - da) / greatest(da, db) * 1e6) AS BIGINT)
           |    END AS s_fp
           |  FROM sc
           |)
           |SELECT cent_id, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(s_fp) AS BIGINT) AS s_sum_fp,
           |  CAST(sum(s_fp) AS DOUBLE) / 1e6 / CAST(count(*) AS DOUBLE) AS mean_sil
           |FROM sil GROUP BY cent_id""".stripMargin
      }
    ) { (s, d) =>
      import graft.functions.VecOps
      import graft.ops.IvfIndex
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cb = IvfIndex.codebook(emb, IvfIndex.chooseK(emb.count()))
      val asg = IvfIndex.assign(emb, cb)
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      val sc = asg.crossJoin(broadcast(
          cb.select(col("cent_id").as("c2"), col("cent_emb"))))
        .withColumn("dist",
          lit(1.0) - VecOps.cosine(col("embedding"), col("cent_emb")))
        .groupBy(col("vec_id"), col("cent_id"))
        .agg(
          min(when(col("c2") === col("cent_id"), col("dist"))).as("da"),
          min(when(col("c2") =!= col("cent_id"), col("dist"))).as("db"))
      sc.withColumn("s_fp",
          when(greatest(col("da"), col("db")) === 0.0, lit(0L))
            .otherwise(floor((col("db") - col("da"))
              / greatest(col("da"), col("db")) * 1e6).cast("long")))
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n"), sum(col("s_fp")).as("s_sum_fp"))
        .select(col("cent_id"), col("n"), col("s_sum_fp"),
          (col("s_sum_fp").cast("double") / lit(1e6)
            / col("n").cast("double")).as("mean_sil"))
    }.intendsNestedLoop(
      "broadcast side is the k ~ sqrt(n) centroid codebook"),

    // ---- Repeated-span removal (Lee-et-al.-style substring dedup at
    //      8-token granularity): duplicated spans marked everywhere except
    //      the global first occurrence, merged per doc via
    //      gaps-and-islands. [[graft.ops.SpanDedup]]; all-integer/string
    //      arithmetic, exact cross-engine ----
    QueryDef.sql(
      "q_span_dedup",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS ss FROM documents
         |), occ AS (
         |  SELECT doc_id, u.s AS start,
         |    array_to_string(ss[u.s + 1 : u.s + 8], ' ') AS gram
         |  FROM toks, unnest(range(0, len(ss) - 7)) u(s)
         |  WHERE len(ss) >= 8
         |), dup AS (
         |  SELECT gram, min(doc_id * 1048576 + start) AS first_key
         |  FROM occ GROUP BY gram HAVING count(*) >= 2
         |), marked AS (
         |  SELECT o.doc_id, o.start, o.start + 7 AS e
         |  FROM occ o JOIN dup d USING (gram)
         |  WHERE o.doc_id * 1048576 + o.start <> d.first_key
         |), isl AS (
         |  SELECT doc_id, start, e,
         |    CASE WHEN max(e) OVER wprev IS NULL
         |           OR start > max(e) OVER wprev + 1 THEN 1 ELSE 0 END AS is_new
         |  FROM marked
         |  WINDOW wprev AS (PARTITION BY doc_id ORDER BY start
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |), isl2 AS (
         |  SELECT doc_id, start, e,
         |    CAST(sum(is_new) OVER (PARTITION BY doc_id ORDER BY start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS island
         |  FROM isl
         |)
         |SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
         |       max(e) - min(start) + 1 AS span_len
         |FROM isl2 GROUP BY doc_id, island""".stripMargin
    ) { (s, d) =>
      graft.ops.SpanDedup.removalSpans(
        Tables.documents(s, d), "doc_id", "text", n = 8)
    },

    // ---- The apply side: delete the marked ranges, reassemble every doc
    //      (untouched docs pass through; fully-duplicated docs -> '') ----
    QueryDef.sql(
      "q_span_dedup_clean",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS ss FROM documents
         |), occ AS (
         |  SELECT doc_id, u.s AS start,
         |    array_to_string(ss[u.s + 1 : u.s + 8], ' ') AS gram
         |  FROM toks, unnest(range(0, len(ss) - 7)) u(s)
         |  WHERE len(ss) >= 8
         |), dup AS (
         |  SELECT gram, min(doc_id * 1048576 + start) AS first_key
         |  FROM occ GROUP BY gram HAVING count(*) >= 2
         |), rpos AS (
         |  SELECT DISTINCT o.doc_id, o.start + u.i AS pos
         |  FROM occ o JOIN dup d USING (gram), unnest(range(0, 8)) u(i)
         |  WHERE o.doc_id * 1048576 + o.start <> d.first_key
         |), positions AS (
         |  SELECT doc_id, u.p - 1 AS pos, ss[u.p] AS tok
         |  FROM toks, unnest(range(1, len(ss) + 1)) u(p)
         |), kept AS (
         |  SELECT p.doc_id, count(*) AS n_kept,
         |    string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text
         |  FROM positions p ANTI JOIN rpos r
         |    ON p.doc_id = r.doc_id AND p.pos = r.pos
         |  GROUP BY p.doc_id
         |)
         |SELECT t.doc_id, len(t.ss) AS n_toks,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id""".stripMargin
    ) { (s, d) =>
      graft.ops.SpanDedup.removeSpans(
        Tables.documents(s, d), "doc_id", "text", n = 8)
    },

    // ---- Paragraph-level dedup ([[graft.ops.ParaDedup]]): the
    //      granularity between doc-level and span-level. The synthetic
    //      docs are single-line, so the fixture derives multi-paragraph
    //      "pages" first: 4 consecutive docs per page, prefixed by a
    //      per-source license-header paragraph (the classic repeated
    //      boilerplate) — then every exact paragraph keeps only its
    //      globally first occurrence (min (page_id, position)) and pages
    //      reassemble in order. Pure string/integer ops, exact
    //      cross-engine. ----
    QueryDef.sql(
      "q_para_dedup",
      """WITH pages AS (
        |  SELECT doc_id // 4 AS page_id,
        |    'license ' || min_by(source, doc_id) || ' standard terms apply'
        |      || chr(10) || chr(10)
        |      || string_agg(text, chr(10) || chr(10) ORDER BY doc_id)
        |      AS page_text
        |  FROM documents GROUP BY 1
        |), pp AS (
        |  SELECT page_id,
        |    string_split(page_text, chr(10) || chr(10)) AS ps
        |  FROM pages
        |), paras AS (
        |  SELECT page_id, u.i - 1 AS pos, ps[u.i] AS para
        |  FROM pp, unnest(range(1, len(ps) + 1)) u(i)
        |), firsts AS (
        |  SELECT para, min(page_id * 1048576 + pos) AS first_key
        |  FROM paras GROUP BY para
        |), kept AS (
        |  SELECT p.page_id, count(*) AS n_kept,
        |    string_agg(p.para, chr(10) || chr(10) ORDER BY p.pos)
        |      AS clean_text
        |  FROM paras p JOIN firsts f USING (para)
        |  WHERE p.page_id * 1048576 + p.pos = f.first_key
        |  GROUP BY p.page_id
        |)
        |SELECT pp.page_id, len(pp.ps) AS n_paras,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM pp LEFT JOIN kept k USING (page_id)""".stripMargin
    ) { (s, d) =>
      val pages = Tables.documents(s, d)
        .groupBy(expr("doc_id div 4").as("page_id"))
        .agg(
          concat(
            lit("license "), min_by(col("source"), col("doc_id")),
            lit(" standard terms apply"), lit("\n\n"),
            array_join(
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("text")))),
                x => x.getField("text")),
              "\n\n")).as("page_text"))
      graft.ops.ParaDedup.dedupParagraphs(pages, "page_id", "page_text")
    },

    // ---- Bloom-gated incremental dedup: incoming events keep only the
    //      (user_id, event_type) pairs never seen in the history slice —
    //      first-touch detection. The bloom routes rows (no false
    //      negatives); the exact verify joins broadcast only the tiny
    //      maybe-dup key sets, so neither history nor incoming shuffles
    //      ([[graft.ops.BloomDedup]]). The oracle states the pure
    //      anti-join semantics the bloom must not change. ----
    QueryDef.sql(
      "q_dedup_bloom",
      """WITH cnt AS (SELECT count(*)//10 AS cut FROM events),
        |hist AS (
        |  SELECT DISTINCT user_id, event_type FROM events, cnt
        |  WHERE event_id < cut
        |), inc AS (
        |  SELECT event_id, user_id, event_type, ts, value FROM events, cnt
        |  WHERE event_id >= cut
        |)
        |SELECT i.event_id, i.user_id, i.event_type, i.ts, i.value
        |FROM inc i WHERE NOT EXISTS (
        |  SELECT 1 FROM hist h
        |  WHERE h.user_id = i.user_id AND h.event_type = i.event_type)""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      // one count() to place the history cut — sizing metadata, same role
      // as the LSH band-width count
      val cut = ev.count() / 10
      val hist = ev.filter(col("event_id") < cut)
        .select("user_id", "event_type")
      val inc = ev.filter(col("event_id") >= cut)
        .select("event_id", "user_id", "event_type", "ts", "value")
      graft.ops.BloomDedup.newRows(hist, inc, Seq("user_id", "event_type"))
    },

    // ---- HyperLogLog distinct-user estimate per event type
    //      ([[graft.ops.Hll]]): the cardinality sketch beside
    //      q_countmin's frequency sketch — deterministic md5-prefix
    //      hashing makes the register array itself oracle-checkable
    //      (the upgrade q_approx_distinct, Spark's native sketch,
    //      cannot have). Output pins (exact, estimate, zeros) side by
    //      side so the gate also witnesses the error envelope;
    //      HllSpec pins the ±3σ bound and the element-wise-max merge
    //      algebra ----
    QueryDef.sql(
      "q_hll",
      s"""WITH graft_hll_obs AS (
         |  SELECT event_type AS key,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM events
         |), ${graft.ops.Hll.oracleSql}, ex AS (
         |  SELECT event_type AS key,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
         |  FROM events GROUP BY event_type
         |)
         |SELECT key, exact_n, zeros, hll_fp
         |FROM graft_hll_est JOIN ex USING (key)""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val obs = ev.select(col("event_type").as("key"),
        expr("md5p60(CAST(user_id AS STRING))").as("h"))
      val ex = ev.groupBy(col("event_type").as("key"))
        .agg(countDistinct(col("user_id")).as("exact_n"))
      graft.ops.Hll.estimate(obs).join(ex, "key")
        .select(col("key"), col("exact_n"), col("zeros"), col("hll_fp"))
    }
  )
}
