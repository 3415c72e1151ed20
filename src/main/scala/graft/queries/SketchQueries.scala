package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Round-6 breadth: mergeable-sketch cardinality, two-sample testing,
  * document fingerprinting, sequential pattern mining, smoothed LM
  * scoring, decayed attribution, and global graph structure — each the
  * standard distributed form of a pass a large-scale data platform
  * runs, each hash-exact against the DuckDB oracle.
  *
  * Reference scope: extension surface (the reference's statistics are
  * price scalars — services/spark/app/api/views.py); part of the
  * training-data tier.
  *
  * Numeric contract: exact int64 counts/moments; single-row test
  * statistics use the q_anova identical-op-order double-chain
  * convention (floor-quantized once at the end); per-row scores are
  * pure integer fixed point.
  */
object SketchQueries {

  /** The 60-bit md5-prefix hash, DuckDB spelling (≡ Spark `md5p60`). */
  private def md5pDuck(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  private def coEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    CoGraph.edges(s, d)

  /** Winnowing fingerprint derivation (DuckDB CTE chain ending in
    * `fp(doc_id, wmin)`) — shared by q_winnow and q_winnow_pairs so
    * the two oracles cannot drift.
    */
  private val winnowDuck: String =
    s"""tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3
       |), sh AS (
       |  SELECT doc_id, unnest(range(1, n - 1)) AS pos,
       |    CAST(n - 2 AS BIGINT) AS n_sh, toks
       |  FROM tok
       |), hh AS (
       |  SELECT doc_id, pos, n_sh,
       |    ${md5pDuck(
          "array_to_string(list_slice(toks, pos, pos + 2), ' ')")} AS h
       |  FROM sh
       |), wm AS (
       |  SELECT doc_id, pos, n_sh,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
       |  FROM hh
       |), fp AS (
       |  SELECT DISTINCT doc_id, wmin
       |  FROM wm WHERE pos <= greatest(1, n_sh - 3)
       |)""".stripMargin

  /** The same fingerprint set on the Spark side: (doc_id, wmin). */
  private def winnowFp(s: org.apache.spark.sql.SparkSession, d: String) = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
    val hh = tok
      .select(col("doc_id"), (col("n") - 2).cast("long").as("n_sh"),
        col("toks"), explode(expr("sequence(1, n - 2)")).as("pos"))
      .select(col("doc_id"), col("pos"), col("n_sh"),
        expr("md5p60(concat_ws(' ', slice(toks, pos, 3)))").as("h"))
    hh.withColumn("wmin", min(col("h")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(0, 3)))
      .filter(col("pos") <= greatest(lit(1L), col("n_sh") - 3))
      .select(col("doc_id"), col("wmin")).distinct()
  }

  // Welch chain fragments — ONE spelling shared verbatim by both
  // engines (floor/CASE/CAST/1e0 are common syntax), so the
  // identical-op-order contract cannot drift.
  private val vn1 =
    "(((q1 * 1e0 - (s1 * 1e0 * s1) / n1) / (n1 - 1)) / n1)"
  private val vn2 =
    "(((q2 * 1e0 - (s2 * 1e0 * s2) / n2) / (n2 - 1)) / n2)"
  private val mdiff = "(s1 * 1e0 / n1 - s2 * 1e0 / n2)"
  private val welchCols: Seq[String] = Seq(
    "n1", "n2",
    s"CAST(floor($mdiff * 1e6) AS BIGINT) AS mdiff_fp",
    s"CAST(floor(($mdiff * $mdiff) / ($vn1 + $vn2) * 1e6) AS BIGINT)" +
      " AS t2_fp",
    s"CAST(floor((($vn1 + $vn2) * ($vn1 + $vn2))" +
      s" / ($vn1 * $vn1 / (n1 - 1) + $vn2 * $vn2 / (n2 - 1)) * 1e6)" +
      " AS BIGINT) AS df_fp")

  // Granger F-statistic chain — ONE spelling shared verbatim by both
  // engines over the exact int64 cross-moments (products of sums go
  // through doubles: Sbb·Scc can exceed int64).
  private val grangerFCol: String = {
    val d2 = "(sbb * 1e0 * scc - sbc * 1e0 * sbc)"
    val b1 = s"((sab * 1e0 * scc - sac * 1e0 * sbc) / $d2)"
    val b2 = s"((sac * 1e0 * sbb - sab * 1e0 * sbc) / $d2)"
    val rssu = s"(saa * 1e0 - $b1 * sab - $b2 * sac)"
    val rssr = "(saa * 1e0 - (sab * 1e0 / sbb) * sab)"
    s"CASE WHEN sbb > 0 AND $d2 <> 0e0 AND $rssu > 0e0" +
      s" THEN CAST(floor(($rssr - $rssu) * (n - 3) / $rssu * 1e6)" +
      " AS BIGINT) ELSE NULL END AS f_fp"
  }

  // Partial-correlation chain — ONE spelling shared verbatim by both
  // engines over the ten exact int64 minute-grid moments (x = views,
  // y = clicks, z = purchases; all products promote through doubles).
  private val partialCorrCols: Seq[String] = {
    val vx = "(n * 1e0 * sxx - sx * 1e0 * sx)"
    val vy = "(n * 1e0 * syy - sy * 1e0 * sy)"
    val vz = "(n * 1e0 * szz - sz * 1e0 * sz)"
    val cyx = s"((n * 1e0 * sxy - sx * 1e0 * sy) / sqrt($vx * $vy))"
    val czx = s"((n * 1e0 * sxz - sx * 1e0 * sz) / sqrt($vx * $vz))"
    val cyz = s"((n * 1e0 * syz - sy * 1e0 * sz) / sqrt($vy * $vz))"
    val den = s"((1e0 - $cyx * $cyx) * (1e0 - $czx * $czx))"
    Seq(
      s"CASE WHEN $vx > 0e0 AND $vy > 0e0 THEN" +
        s" CAST(floor($cyx * 1e6) AS BIGINT) ELSE NULL END" +
        " AS r_click_view_fp",
      s"CASE WHEN $vx > 0e0 AND $vz > 0e0 THEN" +
        s" CAST(floor($czx * 1e6) AS BIGINT) ELSE NULL END" +
        " AS r_purchase_view_fp",
      s"CASE WHEN $vy > 0e0 AND $vz > 0e0 THEN" +
        s" CAST(floor($cyz * 1e6) AS BIGINT) ELSE NULL END" +
        " AS r_click_purchase_fp",
      s"CASE WHEN $vx > 0e0 AND $vy > 0e0 AND $vz > 0e0 AND $den > 0e0" +
        s" THEN CAST(floor(($cyz - $cyx * $czx) / sqrt($den) * 1e6)" +
        " AS BIGINT) ELSE NULL END AS partial_fp")
  }

  // James–Stein chain over the quantized across-arm integer sums
  // (mq = arm mean × 1e4, svq = arm sampling variance × 1e6; S below is
  // in mean²×1e8 units, so σ̂²×1e6 scales by 1e2 to match). Int64
  // headroom: Σmq² needs arm means < ~1.3e9/1e4 — the events value
  // contract (|value| ≤ 1e6 centi-units) keeps it with 5 arms.
  private val jsCFpCol: String = {
    val sBig = "(sq2 * 1e0 - (smq * 1e0 * smq) / k)"
    val cSh = s"greatest(0e0, 1e0 - (k - 3) * ((ssv * 1e0 / k) * 1e2)" +
      s" / $sBig)"
    s"CASE WHEN $sBig > 0e0 THEN CAST(floor($cSh * 1e6) AS BIGINT)" +
      " ELSE NULL END AS c_fp"
  }
  private val jsShrunkFpCol: String = {
    val sBig = "(sq2 * 1e0 - (smq * 1e0 * smq) / k)"
    val cSh = s"greatest(0e0, 1e0 - (k - 3) * ((ssv * 1e0 / k) * 1e2)" +
      s" / $sBig)"
    s"CASE WHEN $sBig > 0e0 THEN CAST(floor(smq * 1e0 / k" +
      s" + $cSh * (mq - smq * 1e0 / k)) AS BIGINT)" +
      " ELSE mq END AS shrunk_fp"
  }

  val all: Seq[QueryDef] = Seq(

    // ---- KMV (k-minimum-values) distinct sketch per event type
    //      (Bar-Yossef et al. 2002; the theta-sketch core): the k = 64
    //      smallest 60-bit hashes of the user ids; estimate
    //      (k−1)·2^60 / h_(k). Fully DETERMINISTIC (md5 hashes), so
    //      unlike HLL the whole sketch — kth hash AND estimate — is
    //      hash-exact against the oracle, and the sketch is mergeable
    //      (union = k smallest of the concatenation; KmvSpec pins the
    //      merge algebra). Scale shape: rank ≤ k over distinct hashes
    //      rides Spark's WindowGroupLimit (partial top-k BEFORE the
    //      shuffle), so no group ever sorts its full distinct set.
    //      63·2^60 is exactly representable (6-bit mantissa·2^60) and
    //      the single divide is correctly rounded — identical doubles
    //      both engines ----
    QueryDef.sql(
      "q_kmv",
      // capacity single-sourced from ops.Kmv.K (estExpr branches on the
      // same constant)
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${md5pDuck("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |), rk AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM h
         |), sk AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS sk_size,
         |    max(h) AS kth_h
         |  FROM rk WHERE rk <= ${graft.ops.Kmv.K} GROUP BY event_type
         |), ex AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM h GROUP BY event_type
         |)
         |SELECT s.event_type, e.n_exact, s.sk_size, s.kth_h,
         |  CASE WHEN s.sk_size < ${graft.ops.Kmv.K} THEN s.sk_size
         |    ELSE CAST(floor((${graft.ops.Kmv.K - 1}e0
         |      * 1152921504606846976e0) / s.kth_h)
         |      AS BIGINT) END AS est
         |FROM sk s JOIN ex e ON e.event_type = s.event_type
         |ORDER BY s.event_type""".stripMargin
    ) { (s, d) =>
      val h = Tables.events(s, d)
        .select(col("event_type"),
          expr("md5p60(cast(user_id as string))").as("h"))
        .distinct()
      val rk = h.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"))))
      val sk = rk.filter(col("rk") <= graft.ops.Kmv.K)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("sk_size"), max(col("h")).as("kth_h"))
      val ex = h.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
      sk.join(ex, "event_type")
        .select(col("event_type"), col("n_exact"), col("sk_size"),
          col("kth_h"),
          graft.ops.Kmv.estExpr.as("est"))
        .orderBy(col("event_type"))
    },

    // ---- Theta-sketch INTERSECTION (Dasgupta et al. 2016, the
    //      DataSketches set-algebra form of KMV): estimated
    //      |users(A) ∩ users(B)| for every event-type pair from the
    //      per-type K-minimum-value sketches alone — θ = min(θ_A, θ_B),
    //      S = common retained hashes below θ, est = |S|·2^60/θ. This
    //      is the audience-overlap measure when the exact pairwise
    //      distinct join (q_audience_overlap) is unaffordable: sketches
    //      are K rows per group (mergeable, partial top-K rides
    //      WindowGroupLimit), so the pairwise stage touches ≤ K·|types|
    //      rows regardless of data size. n_exact rides along to grade
    //      the estimate. |S|·2^60 ≤ 2^66 is exactly representable as a
    //      double (7-bit mantissa · 2^60) and the single divide is
    //      correctly rounded — identical integers both engines ----
    QueryDef.sql(
      "q_theta_intersect", {
        val K = graft.ops.Kmv.K
        s"""WITH h AS (
           |  SELECT DISTINCT event_type,
           |    ${md5pDuck("CAST(user_id AS VARCHAR)")} AS h
           |  FROM events
           |), rk AS (
           |  SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
           |  FROM h
           |), sk AS (
           |  SELECT event_type, h FROM rk WHERE rk <= $K
           |), th AS (
           |  SELECT event_type,
           |    CASE WHEN count(*) < $K
           |      THEN CAST(1152921504606846976 AS BIGINT)
           |      ELSE max(h) END AS theta
           |  FROM sk GROUP BY event_type
           |), inter AS (
           |  SELECT a.event_type AS type_a, b.event_type AS type_b,
           |    CAST(count(*) AS BIGINT) AS n_common
           |  FROM sk a JOIN sk b
           |    ON b.h = a.h AND a.event_type < b.event_type
           |  JOIN th ta ON ta.event_type = a.event_type
           |  JOIN th tb ON tb.event_type = b.event_type
           |  WHERE a.h < least(ta.theta, tb.theta)
           |  GROUP BY a.event_type, b.event_type
           |), ex AS (
           |  SELECT a.event_type AS type_a, b.event_type AS type_b,
           |    CAST(count(*) AS BIGINT) AS n_exact
           |  FROM h a JOIN h b
           |    ON b.h = a.h AND a.event_type < b.event_type
           |  GROUP BY a.event_type, b.event_type
           |)
           |SELECT i.type_a, i.type_b, i.n_common,
           |  least(ta.theta, tb.theta) AS theta_min,
           |  CAST(floor(CAST(i.n_common AS DOUBLE) * 1152921504606846976e0
           |    / CAST(least(ta.theta, tb.theta) AS DOUBLE)) AS BIGINT)
           |    AS est_inter,
           |  e.n_exact
           |FROM inter i
           |JOIN th ta ON ta.event_type = i.type_a
           |JOIN th tb ON tb.event_type = i.type_b
           |JOIN ex e ON e.type_a = i.type_a AND e.type_b = i.type_b"""
          .stripMargin
      }
    ) { (s, d) =>
      val K = graft.ops.Kmv.K
      val h = Tables.events(s, d)
        .select(col("event_type"),
          expr("md5p60(cast(user_id as string))").as("h"))
        .distinct()
      val sk = h.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("h"))))
        .filter(col("rk") <= K).select(col("event_type"), col("h"))
      val th = sk.groupBy(col("event_type")).agg(
        when(count(lit(1)) < K, lit(1152921504606846976L))
          .otherwise(max(col("h"))).as("theta"))
      val inter = sk.select(col("event_type").as("type_a"), col("h"))
        .join(sk.select(col("event_type").as("type_b"),
          col("h").as("h_b")), col("h_b") === col("h")
            && col("type_a") < col("type_b"))
        .join(broadcast(th.select(col("event_type").as("type_a"),
          col("theta").as("theta_a"))), "type_a")
        .join(broadcast(th.select(col("event_type").as("type_b"),
          col("theta").as("theta_b"))), "type_b")
        .filter(col("h") < least(col("theta_a"), col("theta_b")))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_common"),
          first(least(col("theta_a"), col("theta_b"))).as("theta_min"))
      val ex = h.select(col("event_type").as("type_a"), col("h"))
        .join(h.select(col("event_type").as("type_b"),
          col("h").as("h_b")), col("h_b") === col("h")
            && col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_exact"))
      inter.join(ex, Seq("type_a", "type_b"))
        .selectExpr("type_a", "type_b", "n_common", "theta_min",
          """CAST(floor(CAST(n_common AS DOUBLE) * 1152921504606846976e0
            |  / CAST(theta_min AS DOUBLE)) AS BIGINT)""".stripMargin
            + " AS est_inter",
          "n_exact")
    },

    // ---- Bloom-filter quality eval: the deterministic 3-hash/2^16-bit
    //      Bloom construction measured against EXACT membership — the
    //      false-positive-rate reading that sizes a join-pruning filter
    //      before trusting it (complement of q_minhash_err/q_lsh_scurve
    //      in the sketch-quality family; q_dedup_bloom USES a Bloom
    //      gate, this one grades it). Member set = customers with ≥ 1
    //      order; probe set = all customers; the 3 bit positions are
    //      disjoint 16-bit fields of the shared md5p60 hash, so both
    //      engines build bit-identical filters. Scale shape: the filter
    //      is ≤ 2^16 distinct ints (broadcastable by construction —
    //      that is the point of a Bloom filter); probes join it 3×
    //      row-locally; one final single-row aggregate. fpr_load is the
    //      standard (set-fraction)^k expected FPR — spelled by repeated
    //      multiplication, no pow() ----
    QueryDef.sql(
      "q_bloom_eval", {
        val probeBits = (0 until 3)
          .map(j => s"(h >> ${16 * j}) & 65535").mkString(", ")
        s"""WITH mem AS (
           |  SELECT DISTINCT ${md5pDuck("CAST(o_custkey AS VARCHAR)")} AS h
           |  FROM orders
           |), bits AS (
           |  SELECT DISTINCT unnest([$probeBits]) AS bitpos FROM mem
           |), probe AS (
           |  SELECT c_custkey,
           |    ${md5pDuck("CAST(c_custkey AS VARCHAR)")} AS h,
           |    CASE WHEN o.ok IS NULL THEN 0 ELSE 1 END AS is_member
           |  FROM customer
           |  LEFT JOIN (SELECT DISTINCT o_custkey, 1 AS ok FROM orders) o
           |    ON o.o_custkey = c_custkey
           |), pb AS (
           |  SELECT c_custkey, is_member,
           |    unnest([$probeBits]) AS bitpos
           |  FROM probe
           |), hits AS (
           |  SELECT p.c_custkey, p.is_member,
           |    CAST(count(b.bitpos) AS BIGINT) AS nhit
           |  FROM pb p LEFT JOIN bits b ON b.bitpos = p.bitpos
           |  GROUP BY p.c_custkey, p.is_member
           |), agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_universe,
           |    CAST(sum(is_member) AS BIGINT) AS n_members,
           |    CAST(sum(CASE WHEN nhit = 3 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_pass,
           |    CAST(sum(CASE WHEN nhit = 3 AND is_member = 0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
           |  FROM hits
           |), nb AS (
           |  SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits
           |)
           |SELECT n_universe, n_members, bits_set, n_pass, n_false_pos,
           |  CAST(floor(CAST(n_false_pos AS DOUBLE)
           |    / CAST(nullif(n_universe - n_members, 0) AS DOUBLE) * 1e6)
           |    AS BIGINT) AS fpr_fp,
           |  CAST(floor((CAST(bits_set AS DOUBLE) / 65536e0)
           |    * (CAST(bits_set AS DOUBLE) / 65536e0)
           |    * (CAST(bits_set AS DOUBLE) / 65536e0) * 1e9) AS BIGINT)
           |    AS fpr_load_fp
           |FROM agg, nb""".stripMargin
      }
    ) { (s, d) =>
      val mem = Tables.orders(s, d)
        .select(expr("md5p60(cast(o_custkey as string))").as("h")).distinct()
      val bits = mem.select(explode(array((0 until 3).map(j =>
          expr(s"(h >> ${16 * j}) & 65535")): _*)).as("bitpos")).distinct()
      val probe = Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("md5p60(cast(c_custkey as string))").as("h"))
        .join(Tables.orders(s, d).select(col("o_custkey"), lit(1).as("ok"))
          .distinct(), col("o_custkey") === col("c_custkey"), "left")
        .select(col("c_custkey"), col("h"),
          when(col("ok").isNull, 0).otherwise(1).as("is_member"))
      val pb = probe.select(col("c_custkey"), col("is_member"),
        explode(array((0 until 3).map(j =>
          expr(s"(h >> ${16 * j}) & 65535")): _*)).as("bitpos"))
      val hits = pb
        .join(broadcast(bits.withColumn("hit", lit(1))), Seq("bitpos"), "left")
        .groupBy(col("c_custkey"), col("is_member"))
        .agg(count(col("hit")).as("nhit"))
      val agg = hits.agg(
        count(lit(1)).as("n_universe"),
        sum(col("is_member")).cast("long").as("n_members"),
        sum(when(col("nhit") === 3, 1).otherwise(0)).cast("long").as("n_pass"),
        sum(when(col("nhit") === 3 && col("is_member") === 0, 1).otherwise(0))
          .cast("long").as("n_false_pos"))
      agg.crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
        .selectExpr("n_universe", "n_members", "bits_set", "n_pass",
          "n_false_pos",
          """CAST(floor(CAST(n_false_pos AS DOUBLE)
            |  / CAST(nullif(n_universe - n_members, 0) AS DOUBLE) * 1e6)
            |  AS BIGINT)""".stripMargin + " AS fpr_fp",
          """CAST(floor((CAST(bits_set AS DOUBLE) / 65536e0)
            |  * (CAST(bits_set AS DOUBLE) / 65536e0)
            |  * (CAST(bits_set AS DOUBLE) / 65536e0) * 1e9) AS BIGINT)"""
            .stripMargin + " AS fpr_load_fp")
    }.intendsNestedLoop(
      "broadcast side is the single-row bits_set count"),

    // ---- Welch's unequal-variance t-test, click vs view values — the
    //      two-sample member of the parametric tier (q_anova tests k
    //      means jointly; Welch is THE default two-group test since
    //      equal variances can't be assumed at pipeline scale). One
    //      conditional-aggregate pass gives both groups' exact int64
    //      moments; t², the mean gap, and the Welch–Satterthwaite df
    //      are one shared-spelling double chain over them (fragments
    //      literally shared between the Spark and DuckDB strings) ----
    QueryDef.sql(
      "q_welch",
      s"""WITH c AS (
         |  SELECT event_type, CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS c
         |  FROM events WHERE event_type IN ('click', 'view')
         |), g AS (
         |  SELECT
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END)
         |      AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN c ELSE 0 END)
         |      AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END)
         |      AS BIGINT) AS q1,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN c * c ELSE 0 END)
         |      AS BIGINT) AS q2
         |  FROM c
         |)
         |SELECT ${welchCols.mkString(",\n  ")}
         |FROM g""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("c"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n2"),
          sum(when(col("event_type") === "click", col("c")).otherwise(0L))
            .as("s1"),
          sum(when(col("event_type") === "view", col("c")).otherwise(0L))
            .as("s2"),
          sum(when(col("event_type") === "click", expr("c * c"))
            .otherwise(0L)).as("q1"),
          sum(when(col("event_type") === "view", expr("c * c"))
            .otherwise(0L)).as("q2"))
        .selectExpr(welchCols: _*)
    },

    // ---- Two-sample power analysis (experiment DESIGN, before the
    //      q_welch/q_ab_test/q_srm health tier runs): per metric stream,
    //      the required n per arm to detect a 5% lift of the current
    //      mean at alpha=0.05 / power=0.8 —
    //      n = ceil(2 (z_{.975}+z_{.8})^2 sigma^2 / delta^2). One hash
    //      aggregation of exact centi-unit integer moments (the q_welch
    //      quantization); the closed form is one shared-spelling double
    //      chain (z constants as literals, squared by multiplication —
    //      no pow(), whose rounding is not cross-engine pinned) ----
    QueryDef.sql(
      "q_power_analysis", {
        val z2 = "(1.959963984540054e0 + 8.416212335729143e-1)" +
          " * (1.959963984540054e0 + 8.416212335729143e-1)"
        s"""WITH c AS (
           |  SELECT event_type, CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS c
           |  FROM events
           |), g AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
           |  FROM c GROUP BY event_type HAVING sum(c) <> 0
           |), m AS (
           |  SELECT event_type, n,
           |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
           |    CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
           |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS var_c
           |  FROM g
           |)
           |SELECT event_type, n, mean_c, var_c,
           |  CAST(ceil(2e0 * $z2 * var_c
           |    / (mean_c * 5e-2 * (mean_c * 5e-2))) AS BIGINT) AS n_required
           |FROM m""".stripMargin
      }
    ) { (s, d) =>
      val z2 = "(1.959963984540054e0 + 8.416212335729143e-1)" +
        " * (1.959963984540054e0 + 8.416212335729143e-1)"
      Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(expr("c * c")).as("q"))
        .filter(col("s") =!= 0L)
        .selectExpr("event_type", "n",
          "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c",
          """CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
            |  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            |    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin
            + " AS var_c")
        .selectExpr("event_type", "n", "mean_c", "var_c",
          s"""CAST(ceil(2e0 * $z2 * var_c
             |  / (mean_c * 5e-2 * (mean_c * 5e-2))) AS BIGINT)""".stripMargin
            + " AS n_required")
    },

    // ---- Winnowing document fingerprints (Schleimer, Wilkerson &
    //      Aiken 2003 — the MOSS local fingerprinting scheme): hash
    //      every 3-shingle, slide a w = 4 window over the positions,
    //      keep each window's minimum, dedupe. Guarantees a shared
    //      fingerprint for any shared run of ≥ w+k−1 = 6 tokens while
    //      storing ~2/(w+1) of the hashes — the position-robust
    //      near-dup fingerprint family next to minhash (set-level) and
    //      q_fingerprint (rolling hash). With 60-bit hashes the
    //      window argmin is tie-free, so the fingerprint SET is exact:
    //      selected = DISTINCT leading-window minima over full windows
    //      (short docs keep their single whole-doc window). Row-local
    //      + one per-doc window — no corpus-wide shuffle beyond the
    //      doc key ----
    QueryDef.sql(
      "q_winnow",
      s"""WITH $winnowDuck
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |  string_agg(CAST(wmin AS VARCHAR), ',' ORDER BY wmin) AS fp_csv
         |FROM fp GROUP BY doc_id""".stripMargin
    ) { (s, d) =>
      winnowFp(s, d)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          expr("array_join(transform(array_sort(collect_list(wmin))," +
            " x -> cast(x as string)), ',')").as("fp_csv"))
    },

    // ---- Winnowing near-dup pairs (the MOSS matching step): docs
    //      sharing ≥ 50% of the smaller side's fingerprints, candidates
    //      by fingerprint EQUI-JOIN — never all-pairs, the positional
    //      complement to minhash's set-level banding. Hot fingerprints
    //      (df > 20) are dropped on BOTH engines before pairing (the
    //      q_containment posting-cap convention): at corpus scale a
    //      boilerplate shingle would otherwise join quadratically, and
    //      a fingerprint shared by >20 docs identifies boilerplate,
    //      not a pair ----
    QueryDef.sql(
      "q_winnow_pairs",
      s"""WITH $winnowDuck, freq AS (
         |  SELECT wmin, CAST(count(*) AS BIGINT) AS df
         |  FROM fp GROUP BY wmin
         |), fpc AS (
         |  SELECT fp.doc_id, fp.wmin FROM fp
         |  JOIN freq ON freq.wmin = fp.wmin WHERE freq.df <= 20
         |), nf AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
         |  FROM fpc GROUP BY doc_id
         |), shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM fpc a JOIN fpc b
         |    ON a.wmin = b.wmin AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, n_shared,
         |  (n_shared * 1000000) // least(na.n_fp, nb.n_fp) AS overlap_fp
         |FROM shared
         |JOIN nf na ON na.doc_id = doc_a
         |JOIN nf nb ON nb.doc_id = doc_b
         |WHERE n_shared * 2 >= least(na.n_fp, nb.n_fp)
         |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) =>
      val fp = winnowFp(s, d)
      val freq = fp.groupBy(col("wmin")).agg(count(lit(1)).as("df"))
      val fpc = fp.join(freq.filter(col("df") <= 20), "wmin")
        .select(col("doc_id"), col("wmin"))
      val nf = fpc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val shared = fpc.select(col("wmin"), col("doc_id").as("doc_a"))
        .join(fpc.select(col("wmin"), col("doc_id").as("doc_b")), "wmin")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(nf.select(col("doc_id").as("doc_a"), col("n_fp").as("na")),
          "doc_a")
        .join(nf.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")),
          "doc_b")
        .filter(expr("n_shared * 2 >= least(na, nb)"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          expr("(n_shared * 1000000L) div least(na, nb)").as("overlap_fp"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- Sequential pattern support (the PrefixSpan support-counting
    //      core at length 2): for every ordered event-type pair
    //      (src THEN dst), how many users exhibit it — exists an src
    //      occurrence strictly before a dst occurrence, i.e.
    //      min_ts(src) < max_ts(dst). ONE grouped agg gives each
    //      user's per-type first/last µs; the pair join is within-user
    //      over ≤ |types| rows — never an event-level self-join ----
    QueryDef.sql(
      "q_seq_patterns",
      """WITH ut AS (
        |  SELECT user_id, event_type,
        |    min(epoch_us(ts)) AS t_min, max(epoch_us(ts)) AS t_max
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.event_type AS src, b.event_type AS dst,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |WHERE a.t_min < b.t_max
        |GROUP BY 1, 2 ORDER BY support DESC, src, dst""".stripMargin
    ) { (s, d) =>
      val ut = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(expr("unix_micros(ts)")).as("t_min"),
          max(expr("unix_micros(ts)")).as("t_max"))
      ut.alias("a").join(ut.alias("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") =!= col("b.event_type"))
        .filter(col("a.t_min") < col("b.t_max"))
        .groupBy(col("a.event_type").as("src"),
          col("b.event_type").as("dst"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("src"), col("dst"))
    },

    // ---- Interpolated Kneser-Ney bigram scores (Kneser & Ney 1995,
    //      the smoothing standard behind n-gram LMs; q_lm_score's
    //      add-k sibling with the CONTINUATION-count back-off):
    //      P(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/T
    //      with discount D = 3/4 — an exact rational, so with common
    //      denominator 4·c1·T the whole score is ONE integer fixed-
    //      point ratio, no ln/exp anywhere. Headroom:
    //      4·c12·T·1e6 < 2^63 holds to ~10^8 bigram tokens at this
    //      vocab (documented bound; lower the 1e6 scale beyond). All
    //      counts partial-aggregable; top-30 via TakeOrdered ----
    QueryDef.sql(
      "q_kn_score",
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), b AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT toks, unnest(range(1, n)) AS i FROM t WHERE n >= 2)
        |), bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM b GROUP BY 1, 2
        |), lc AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS n1p
        |  FROM bc GROUP BY w1
        |), rc AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS nctx FROM bc GROUP BY w2
        |), tt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS tbig FROM bc
        |)
        |SELECT bc.w1, bc.w2, bc.c12,
        |  ((4 * bc.c12 - 3) * tt.tbig + 3 * lc.n1p * rc.nctx) * 1000000
        |    // (4 * lc.c1 * tt.tbig) AS kn_fp
        |FROM bc JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN tt
        |ORDER BY kn_fp DESC, w1, w2 LIMIT 30""".stripMargin
    ) { (s, d) =>
      val b = Tables.documents(s, d)
        .select(split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
        .select(col("toks"), explode(expr("sequence(1, n - 1)")).as("i"))
        .select(expr("element_at(toks, i)").as("w1"),
          expr("element_at(toks, i + 1)").as("w2"))
      val bc = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val lc = bc.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
      val rc = bc.groupBy(col("w2")).agg(count(lit(1)).as("nctx"))
      val tt = bc.agg(count(lit(1)).as("tbig"))
      bc.join(lc, "w1").join(rc, "w2").crossJoin(broadcast(tt))
        .select(col("w1"), col("w2"), col("c12"),
          expr("((4 * c12 - 3) * tbig + 3 * n1p * nctx) * 1000000L" +
            " div (4 * c1 * tbig)").as("kn_fp"))
        .orderBy(col("kn_fp").desc, col("w1"), col("w2"))
        .limit(30)
    }.intendsNestedLoop(
      "broadcast side is the 1-row bigram-type total"),

    // ---- Time-decay attribution: q_attribution's journey machinery
    //      with half-life-per-hour weights — each touch credits its
    //      journey's closing purchase 2^-hours (capped at 20h), in
    //      exact 2^-20 fixed point (weights are integer SHIFTS of
    //      2^20, so the decay is exact on both engines — the reason
    //      the half-life is a power of two and not e-based: exp is not
    //      correctly rounded, shifts are exact). Same one-exchange
    //      shape as q_attribution ----
    QueryDef.sql(
      "q_attribution_decay",
      """WITH seq AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS journey
        |  FROM events
        |), conv AS (
        |  SELECT user_id, journey, epoch_us(ts) AS p_us
        |  FROM seq WHERE event_type = 'purchase'
        |), touches AS (
        |  SELECT s.event_type,
        |    least((c.p_us - epoch_us(s.ts)) // 3600000000, 20) AS hgap
        |  FROM seq s JOIN conv c
        |    ON c.user_id = s.user_id AND c.journey = s.journey
        |  WHERE s.event_type <> 'purchase'
        |)
        |SELECT event_type AS channel,
        |  CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(1048576 >> hgap) AS BIGINT) AS decay_fp20
        |FROM touches GROUP BY event_type ORDER BY channel""".stripMargin
    ) { (s, d) =>
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val seq = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("journey",
          coalesce(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).over(wSeq), lit(0L)))
      val conv = seq.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("journey"),
          expr("unix_micros(ts)").as("p_us"))
      seq.filter(col("event_type") =!= "purchase")
        .join(conv, Seq("user_id", "journey"))
        .select(col("event_type"),
          least(expr("(p_us - unix_micros(ts)) div 3600000000L"), lit(20L))
            .as("hgap"))
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(expr("shiftright(1048576L, cast(hgap as int))"))
            .as("decay_fp20"))
        .orderBy(col("channel"))
    },

    // ---- Degree assortativity of the co-occurrence graph (Newman
    //      2002): do high-degree parts co-occur with high-degree parts?
    //      Pearson r over the (deg(u), deg(v)) pairs of every directed
    //      edge. Because the edge list is symmetric, Σx = Σy and
    //      Σx² = Σy², so r = (M·Σxy − Σx²)/(M·Σx² − (Σx)²) needs NO
    //      sqrt — exact int64 sums, one floor-quantized division ----
    QueryDef.sql(
      "q_assortativity",
      s"""WITH ${CoGraph.ctes}, de2 AS (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
         |), xy AS (
         |  SELECT du.dg AS x, dv.dg AS y
         |  FROM de2 JOIN deg du ON du.node = de2.u
         |            JOIN deg dv ON dv.node = de2.v
         |), mm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM xy
         |)
         |SELECT m, sxy, sx, sxx,
         |  CASE WHEN m * 1e0 * sxx - sx * 1e0 * sx > 0
         |    THEN CAST(floor((m * 1e0 * sxy - sx * 1e0 * sx)
         |      / (m * 1e0 * sxx - sx * 1e0 * sx) * 1e6) AS BIGINT)
         |    ELSE NULL END AS r_fp
         |FROM mm""".stripMargin
    ) { (s, d) =>
      val e = coEdges(s, d)
      val deg = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      val de2 = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      de2.join(deg.select(col("node").as("u"), col("dg").as("x")), "u")
        .join(deg.select(col("node").as("v"), col("dg").as("y")), "v")
        .agg(count(lit(1)).as("m"), sum(expr("x * y")).as("sxy"),
          sum(col("x")).as("sx"), sum(expr("x * x")).as("sxx"))
        .select(col("m"), col("sxy"), col("sx"), col("sxx"),
          when(expr("m * 1e0 * sxx - sx * 1e0 * sx") > 0,
            expr("CAST(floor((m * 1e0 * sxy - sx * 1e0 * sx)" +
              " / (m * 1e0 * sxx - sx * 1e0 * sx) * 1e6) AS BIGINT)"))
            .otherwise(lit(null)).as("r_fp"))
    },

    // ---- Global transitivity (the whole-graph clustering ratio,
    //      completing q_clustering_coef's per-node view): 3·triangles
    //      / wedges, wedges = Σ C(deg, 2). Triangle total from the
    //      same degree-ordered enumeration (Σ per-node participation
    //      = 3T exactly); both counts are one agg each ----
    QueryDef.sql(
      "q_transitivity",
      s"""WITH ${CoGraph.ctes}, de AS (
         |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
         |              THEN a ELSE b END AS src,
         |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
         |              THEN b ELSE a END AS dst
         |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
         |), tri AS (
         |  SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
         |  FROM de w1 JOIN de w2 ON w1.src = w2.src AND w1.dst <> w2.dst
         |  WHERE EXISTS (SELECT 1 FROM de c
         |                WHERE c.src = w1.dst AND c.dst = w2.dst)
         |), tc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_tri FROM tri
         |), wc AS (
         |  SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedge
         |  FROM deg
         |)
         |SELECT n_tri, n_wedge,
         |  CASE WHEN n_wedge > 0
         |    THEN (3 * n_tri * 1000000) // n_wedge ELSE NULL END AS trans_fp
         |FROM tc CROSS JOIN wc""".stripMargin
    ) { (s, d) =>
      val e = coEdges(s, d)
      // sum over ZERO triangle rows is NULL; the oracle's count(*) is 0
      // (the sf1 co-occurrence graph has no support>=2 triangles)
      val tc = graft.ops.Triangles.perNode(e)
        .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("n_tri"))
      val wc = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
        .agg(sum(expr("(dg * (dg - 1)) div 2")).as("n_wedge"))
      tc.crossJoin(broadcast(wc))
        .select(col("n_tri"), col("n_wedge"),
          when(col("n_wedge") > 0,
            expr("(3 * n_tri * 1000000L) div n_wedge"))
            .otherwise(lit(null)).as("trans_fp"))
    }.intendsNestedLoop(
      "broadcast sides are two 1-row scalar frames"),

    // ---- Robust scaler (median/IQR standardization — the outlier-
    //      immune cousin of min-max normalization, sklearn's
    //      RobustScaler): per event type, p25/median/p75 as EXACT
    //      LOWER order statistics (rank-(n+3)//4 / (n+1)//2 /
    //      (3n+3)//4 element picks with event_id tie-break — never
    //      interpolation, the q_data_card convention), then each row's
    //      z = (c − med)·1e6 div IQR. One event_type exchange carries
    //      the rank window; quartiles come back by broadcast join ----
    QueryDef.sql(
      "q_robust_scaler",
      """WITH c AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS c
        |  FROM events
        |), r AS (
        |  SELECT event_id, event_type, c,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY c, event_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM c
        |), q AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN c END) AS p25,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN c END) AS p75
        |  FROM r GROUP BY event_type
        |)
        |SELECT r.event_id, r.event_type, r.c,
        |  CASE WHEN q.p75 > q.p25
        |    THEN ((r.c - q.med) * 1000000) // (q.p75 - q.p25)
        |    ELSE NULL END AS z_fp
        |FROM r JOIN q USING (event_type)""".stripMargin
    ) { (s, d) =>
      val c = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("c"))
      val w = Window.partitionBy(col("event_type"))
      val r = c
        .withColumn("rn", row_number().over(
          w.orderBy(col("c"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(w))
      val q = r.groupBy(col("event_type"))
        .agg(
          max(when(expr("rn = (n + 3) div 4"), col("c"))).as("p25"),
          max(when(expr("rn = (n + 1) div 2"), col("c"))).as("med"),
          max(when(expr("rn = (3 * n + 3) div 4"), col("c"))).as("p75"))
      r.join(broadcast(q), "event_type")
        .select(col("event_id"), col("event_type"), col("c"),
          when(col("p75") > col("p25"),
            expr("((c - med) * 1000000L) div (p75 - p25)"))
            .otherwise(lit(null)).as("z_fp"))
    },

    // ---- Shuffle-skew profile of a join key (know your shuffle BEFORE
    //      running it at 100 TB — the diagnostic behind the salting /
    //      AQE-skew-join decisions this engine makes elsewhere):
    //      per-key fan-out of lineitem.l_orderkey → key count, row
    //      count, max and exact-p99 fan-out, mean, and the skew ratio
    //      max/mean. p99 comes from the fan-out HISTOGRAM (group by
    //      cnt), so the only window runs over ≤ max-fan-out rows —
    //      never a corpus-wide rank ----
    QueryDef.sql(
      "q_skew_profile",
      """WITH k AS (
        |  SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1
        |), h AS (
        |  SELECT cnt, CAST(count(*) AS BIGINT) AS f FROM k GROUP BY cnt
        |), cum AS (
        |  SELECT cnt, f,
        |    CAST(sum(f) OVER (ORDER BY cnt) AS BIGINT) AS cf,
        |    CAST(sum(f) OVER () AS BIGINT) AS nk,
        |    CAST(sum(cnt * f) OVER () AS BIGINT) AS nr
        |  FROM h
        |)
        |SELECT max(nk) AS n_keys, max(nr) AS n_rows,
        |  max(cnt) AS max_cnt,
        |  min(CASE WHEN cf >= (99 * nk + 99) // 100 THEN cnt END) AS p99_cnt,
        |  (max(nr) * 1000000) // max(nk) AS mean_fp,
        |  (max(cnt) * max(nk) * 1000000) // max(nr) AS skew_fp
        |FROM cum""".stripMargin
    ) { (s, d) =>
      val k = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val h = k.groupBy(col("cnt")).agg(count(lit(1)).as("f"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = h
        .withColumn("cf", sum(col("f")).over(
          Window.orderBy(col("cnt"))))
        .withColumn("nk", sum(col("f")).over(wAll))
        .withColumn("nr", sum(expr("cnt * f")).over(wAll))
      cum.agg(
        max(col("nk")).as("n_keys"), max(col("nr")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        min(when(expr("cf >= (99 * nk + 99) div 100"), col("cnt")))
          .as("p99_cnt"))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          col("p99_cnt"),
          expr("(n_rows * 1000000L) div n_keys").as("mean_fp"),
          expr("(max_cnt * n_keys * 1000000L) div n_rows").as("skew_fp"))
    }.intendsGlobalWindow(
      "the windowed frame is the per-key fan-out HISTOGRAM — rows = " +
        "distinct fan-out values, bounded by the max key fan-out " +
        "(single digits to dozens), never corpus-sized"),

    // ---- Order-independent table checksum (dataset versioning /
    //      replication audit — the integrity primitive behind
    //      q_dataset_diff's row-level view): per table, row count +
    //      the exact SUM of 60-bit row-hash residues mod 1e9+7.
    //      Commutative, so any partitioning/ordering gives the same
    //      value; residue sum stays inside int64 to ~9e9 rows (mod the
    //      sum again beyond). Only integer-cast and string columns
    //      feed the hash — float/timestamp columns go through epoch /
    //      cents casts so both engines hash identical strings ----
    QueryDef.sql(
      "q_table_checksum",
      s"""WITH lh AS (
         |  SELECT ${md5pDuck(
            "concat_ws('|', l_orderkey, l_partkey, l_suppkey, " +
              "l_linenumber, CAST(floor(l_quantity * 1e2 + 5e-1) AS BIGINT), " +
              "CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT), " +
              "l_returnflag, l_linestatus, epoch_us(l_shipdate))")} % 1000000007
         |    AS hr
         |  FROM lineitem
         |), dh AS (
         |  SELECT ${md5pDuck(
            "concat_ws('|', doc_id, lang, source, n_chars, text)")} % 1000000007
         |    AS hr
         |  FROM documents
         |)
         |SELECT 'documents' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(hr) AS BIGINT) AS checksum FROM dh
         |UNION ALL
         |SELECT 'lineitem', CAST(count(*) AS BIGINT),
         |  CAST(sum(hr) AS BIGINT) FROM lh
         |ORDER BY tbl""".stripMargin
    ) { (s, d) =>
      val lh = Tables.lineitem(s, d).select(
        expr("md5p60(concat_ws('|', l_orderkey, l_partkey, l_suppkey, " +
          "l_linenumber, CAST(floor(l_quantity * 1e2 + 5e-1) AS BIGINT), " +
          "CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT), " +
          // l_shipdate arrives TIMESTAMP_NTZ; the cast is a UTC-session
          // no-op and matches DuckDB's naive epoch_us
          "l_returnflag, l_linestatus, " +
          "unix_micros(cast(l_shipdate as timestamp)))) " +
          "% 1000000007L").as("hr"))
      val dh = Tables.documents(s, d).select(
        expr("md5p60(concat_ws('|', doc_id, lang, source, n_chars, text))" +
          " % 1000000007L").as("hr"))
      dh.agg(count(lit(1)).as("n_rows"), sum(col("hr")).as("checksum"))
        .select(lit("documents").as("tbl"), col("n_rows"), col("checksum"))
        .union(
          lh.agg(count(lit(1)).as("n_rows"), sum(col("hr")).as("checksum"))
            .select(lit("lineitem").as("tbl"), col("n_rows"),
              col("checksum")))
        .orderBy(col("tbl"))
    },

    // ---- Length-3 sequential patterns (q_seq_patterns' GSP step): for
    //      every ordered type triple (src THEN mid THEN dst), users
    //      with occurrences in that order. Correctness by the greedy
    //      argument: a valid triple exists iff (earliest src, earliest
    //      mid AFTER it, any dst after that) works — so one grouped
    //      min/max pass + one events×types conditional-min join
    //      (events touched once per candidate mid type, grouped
    //      immediately; never an events-level self-join) ----
    QueryDef.sql(
      "q_gsp3",
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), ut AS (
        |  SELECT user_id, event_type, min(us) AS t_min, max(us) AS t_max
        |  FROM ev GROUP BY 1, 2
        |), m2 AS (
        |  SELECT a.user_id, a.event_type AS src, e.event_type AS mid,
        |    min(e.us) AS t2
        |  FROM ut a JOIN ev e ON e.user_id = a.user_id
        |    AND e.event_type <> a.event_type AND e.us > a.t_min
        |  GROUP BY 1, 2, 3
        |)
        |SELECT m2.src, m2.mid, c.event_type AS dst,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM m2 JOIN ut c ON c.user_id = m2.user_id
        |  AND c.event_type <> m2.src AND c.event_type <> m2.mid
        |WHERE c.t_max > m2.t2
        |GROUP BY 1, 2, 3 ORDER BY support DESC, src, mid, dst""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      val ut = ev.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("us")).as("t_min"), max(col("us")).as("t_max"))
      val m2 = ut.alias("a").join(ev.alias("e"),
          col("e.user_id") === col("a.user_id") &&
            col("e.event_type") =!= col("a.event_type") &&
            col("e.us") > col("a.t_min"))
        .groupBy(col("a.user_id").as("user_id"),
          col("a.event_type").as("src"), col("e.event_type").as("mid"))
        .agg(min(col("e.us")).as("t2"))
      m2.join(ut.alias("c"),
          col("c.user_id") === m2("user_id") &&
            col("c.event_type") =!= m2("src") &&
            col("c.event_type") =!= m2("mid"))
        .filter(col("c.t_max") > col("t2"))
        .groupBy(m2("src"), m2("mid"), col("c.event_type").as("dst"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("src"), col("mid"), col("dst"))
    },

    // ---- Lorenz curve of supplier revenue concentration (q_gini's
    //      CURVE: cumulative revenue share at each population decile —
    //      the 10 points a concentration dashboard plots): exact
    //      integer ranks and cumulative sums over the supplier
    //      dimension, point d picked at rank (d·n)//10 ----
    QueryDef.sql(
      "q_lorenz",
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS units
        |  FROM lineitem GROUP BY 1
        |), rk AS (
        |  SELECT units,
        |    CAST(row_number() OVER (ORDER BY units, l_suppkey) AS BIGINT)
        |      AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(units) OVER (ORDER BY units, l_suppkey) AS BIGINT)
        |      AS cum,
        |    CAST(sum(units) OVER () AS BIGINT) AS tot
        |  FROM rev
        |)
        |SELECT d.d AS decile, (p.cum * 1000000) // p.tot AS cum_share_fp
        |FROM (SELECT unnest(range(1, 11)) AS d) d
        |JOIN rk p ON p.i = (d.d * p.n) // 10
        |ORDER BY d.d""".stripMargin
    ) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice) AS BIGINT)"))
          .as("units"))
      val wOrd = Window.orderBy(col("units"), col("l_suppkey"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val rk = rev
        .withColumn("i", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("cum", sum(col("units")).over(wOrd))
        .withColumn("tot", sum(col("units")).over(wAll))
      val ds = Tables.lineitem(s, d).sparkSession
        .range(1, 11).select(col("id").as("d"))
      broadcast(ds).join(rk, expr("i = (d * n) div 10"))
        .select(col("d").as("decile"),
          expr("(cum * 1000000L) div tot").as("cum_share_fp"))
        .orderBy(col("decile"))
    }.intendsGlobalWindow(
      "the windowed frame is the SUPPLIER DIMENSION (one row per " +
        "supplier after the revenue rollup) — dim-table-sized, never " +
        "fact-sized").intendsNestedLoop(
      "broadcast side is the constant 10-row decile grid"),

    // ---- AR(2) fit by Yule-Walker (the autoregression member of the
    //      forecasting tier — q_holt smooths, this IDENTIFIES the
    //      process): per symbol, φ1 = r1(1−r2)/(1−r1²), φ2 =
    //      (r2−r1²)/(1−r1²) from exact integer deviation moments
    //      (values quantized to whole units so Σd² keeps int64 headroom
    //      to ~1e8 rows/symbol; mean is the integer floor mean, the
    //      q_levene convention). One symbol exchange carries both lag
    //      windows; the φ chain is one shared-spelling double
    //      expression quantized at 1e6 ----
    QueryDef.sql(
      "q_ar2",
      """WITH u AS (
        |  SELECT event_type AS symbol, ts, event_id,
        |    CAST(floor(value + 5e-1) AS BIGINT) AS v
        |  FROM events
        |), m AS (
        |  SELECT symbol, CAST(sum(v) AS BIGINT) // count(*) AS mu
        |  FROM u GROUP BY symbol
        |), dd AS (
        |  SELECT u.symbol, u.v - m.mu AS dv,
        |    lag(u.v - m.mu, 1) OVER w AS d1,
        |    lag(u.v - m.mu, 2) OVER w AS d2
        |  FROM u JOIN m ON m.symbol = u.symbol
        |  WINDOW w AS (PARTITION BY u.symbol ORDER BY u.ts, u.event_id)
        |), g AS (
        |  SELECT symbol,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dv * dv) AS BIGINT) AS sd0,
        |    CAST(sum(CASE WHEN d1 IS NOT NULL THEN dv * d1 ELSE 0 END)
        |      AS BIGINT) AS sd1,
        |    CAST(sum(CASE WHEN d2 IS NOT NULL THEN dv * d2 ELSE 0 END)
        |      AS BIGINT) AS sd2
        |  FROM dd GROUP BY symbol
        |)
        |SELECT symbol, n, sd0, sd1, sd2,
        |  CASE WHEN sd0 > 0
        |      AND 1e0 - (sd1 * 1e0 / sd0) * (sd1 * 1e0 / sd0) <> 0e0
        |    THEN CAST(floor((sd1 * 1e0 / sd0)
        |      * (1e0 - sd2 * 1e0 / sd0)
        |      / (1e0 - (sd1 * 1e0 / sd0) * (sd1 * 1e0 / sd0)) * 1e6)
        |      AS BIGINT) ELSE NULL END AS phi1_fp,
        |  CASE WHEN sd0 > 0
        |      AND 1e0 - (sd1 * 1e0 / sd0) * (sd1 * 1e0 / sd0) <> 0e0
        |    THEN CAST(floor((sd2 * 1e0 / sd0
        |      - (sd1 * 1e0 / sd0) * (sd1 * 1e0 / sd0))
        |      / (1e0 - (sd1 * 1e0 / sd0) * (sd1 * 1e0 / sd0)) * 1e6)
        |      AS BIGINT) ELSE NULL END AS phi2_fp
        |FROM g ORDER BY symbol""".stripMargin
    ) { (s, d) =>
      val u = Tables.events(s, d)
        .select(col("event_type").as("symbol"), col("ts"), col("event_id"),
          expr("CAST(floor(value + 5e-1) AS BIGINT)").as("v"))
      val m = u.groupBy(col("symbol"))
        .agg(expr("CAST(sum(v) AS BIGINT) div count(*)").as("mu"))
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col("ts"), col("event_id"))
      val dd = u.join(broadcast(m), "symbol")
        .withColumn("dv", col("v") - col("mu"))
        .withColumn("d1", lag(col("dv"), 1).over(w))
        .withColumn("d2", lag(col("dv"), 2).over(w))
      val g = dd.groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"),
          sum(expr("dv * dv")).as("sd0"),
          sum(expr("CASE WHEN d1 IS NOT NULL THEN dv * d1 ELSE 0 END"))
            .as("sd1"),
          sum(expr("CASE WHEN d2 IS NOT NULL THEN dv * d2 ELSE 0 END"))
            .as("sd2"))
      val r1 = "(sd1 * 1e0 / sd0)"
      val r2 = "(sd2 * 1e0 / sd0)"
      val den = s"(1e0 - $r1 * $r1)"
      g.select(col("symbol"), col("n"), col("sd0"), col("sd1"), col("sd2"),
          when(col("sd0") > 0 && expr(s"$den <> 0e0"),
            expr(s"CAST(floor($r1 * (1e0 - $r2) / $den * 1e6) AS BIGINT)"))
            .otherwise(lit(null)).as("phi1_fp"),
          when(col("sd0") > 0 && expr(s"$den <> 0e0"),
            expr(s"CAST(floor(($r2 - $r1 * $r1) / $den * 1e6) AS BIGINT)"))
            .otherwise(lit(null)).as("phi2_fp"))
        .orderBy(col("symbol"))
    },

    // ---- Granger causality, view → click (Granger 1969): per DAY,
    //      does the views-per-minute series help predict the NEXT
    //      minute's clicks beyond clicks' own lag? Restricted model
    //      y_t ~ y_{t-1} vs unrestricted y_t ~ y_{t-1} + x_{t-1} on the
    //      dense 1440-minute grid (zero-filled, so lags are true
    //      clock-time lags); F = (RSS_r − RSS_u)(n−3)/RSS_u. The
    //      causality member of the forecasting tier: q_ar2 identifies a
    //      single series, q_xcorr measures contemporaneous lead/lag,
    //      this one tests PREDICTIVE direction. Deviations use the
    //      integer floor mean (q_ar2/q_levene convention) so all five
    //      cross-moments are exact int64; the 2-regressor normal
    //      equations are one shared-spelling double chain (products of
    //      int sums go through doubles — Sbb·Scc would overflow int64).
    //      Scale shape: one grouped agg to minutes, windows PARTITIONED
    //      BY day (1440-row frames), one hash agg per day — no global
    //      window, days parallelize ----
    QueryDef.sql(
      "q_granger", {
        s"""WITH u AS (
           |  SELECT epoch_us(ts) // 1000000 AS es, event_type
           |  FROM events WHERE event_type IN ('click', 'view')
           |), b AS (
           |  SELECT es // 86400 AS day, (es % 86400) // 60 AS mi,
           |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS y,
           |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS x
           |  FROM u GROUP BY 1, 2
           |), grid AS (
           |  SELECT day, unnest(range(0, 1440)) AS mi
           |  FROM (SELECT DISTINCT es // 86400 AS day FROM u)
           |), g AS (
           |  SELECT grid.day, grid.mi,
           |    COALESCE(b.y, 0) AS y, COALESCE(b.x, 0) AS x
           |  FROM grid LEFT JOIN b ON b.day = grid.day AND b.mi = grid.mi
           |), mm AS (
           |  SELECT day, CAST(sum(y) AS BIGINT) // count(*) AS my,
           |    CAST(sum(x) AS BIGINT) // count(*) AS mx
           |  FROM g GROUP BY day
           |), dd AS (
           |  SELECT g.day, g.y - mm.my AS a,
           |    lag(g.y - mm.my) OVER w AS lb,
           |    lag(g.x - mm.mx) OVER w AS lc
           |  FROM g JOIN mm ON mm.day = g.day
           |  WINDOW w AS (PARTITION BY g.day ORDER BY g.mi)
           |), sm AS (
           |  SELECT day, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(a * a) AS BIGINT) AS saa,
           |    CAST(sum(a * lb) AS BIGINT) AS sab,
           |    CAST(sum(a * lc) AS BIGINT) AS sac,
           |    CAST(sum(lb * lb) AS BIGINT) AS sbb,
           |    CAST(sum(lc * lc) AS BIGINT) AS scc,
           |    CAST(sum(lb * lc) AS BIGINT) AS sbc
           |  FROM dd WHERE lb IS NOT NULL GROUP BY day
           |)
           |SELECT day, n, saa, sab, sac, sbb, scc, sbc,
           |  $grangerFCol
           |FROM sm ORDER BY day""".stripMargin
      }
    ) { (s, d) =>
      val u = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(expr("CAST(unix_micros(ts) AS BIGINT) div 1000000").as("es"),
          col("event_type"))
      val b = u.groupBy(expr("es div 86400").as("day"),
          expr("(es % 86400) div 60").as("mi"))
        .agg(sum(when(col("event_type") === "click", 1).otherwise(0))
            .cast("long").as("y"),
          sum(when(col("event_type") === "view", 1).otherwise(0))
            .cast("long").as("x"))
      val grid = u.select(expr("es div 86400").as("day")).distinct()
        .select(col("day"), explode(expr("sequence(0L, 1439L)")).as("mi"))
      val g = grid.join(b, Seq("day", "mi"), "left")
        .select(col("day"), col("mi"),
          coalesce(col("y"), lit(0L)).as("y"),
          coalesce(col("x"), lit(0L)).as("x"))
      val mm = g.groupBy("day").agg(
        expr("CAST(sum(y) AS BIGINT) div count(*)").as("my"),
        expr("CAST(sum(x) AS BIGINT) div count(*)").as("mx"))
      val w = Window.partitionBy(col("day")).orderBy(col("mi"))
      val dd = g.join(broadcast(mm), "day")
        .withColumn("a", col("y") - col("my"))
        .withColumn("lb", lag(col("y") - col("my"), 1).over(w))
        .withColumn("lc", lag(col("x") - col("mx"), 1).over(w))
      dd.filter(col("lb").isNotNull)
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(expr("a * a")).as("saa"), sum(expr("a * lb")).as("sab"),
          sum(expr("a * lc")).as("sac"), sum(expr("lb * lb")).as("sbb"),
          sum(expr("lc * lc")).as("scc"), sum(expr("lb * lc")).as("sbc"))
        .selectExpr("day", "n", "saa", "sab", "sac", "sbb", "scc", "sbc",
          grangerFCol)
        .orderBy("day")
    },

    // ---- Partial correlation (confounder adjustment): r of clicks vs
    //      purchases per minute CONTROLLING for views —
    //      r_yz·x = (r_yz − r_yx·r_zx)/√((1−r_yx²)(1−r_zx²)). The
    //      causal-reading sibling of q_pair_corr (raw r) and q_granger
    //      (predictive direction): a click↔purchase correlation that
    //      survives the view control is not just traffic volume. Built
    //      on the same dense zero-filled minute grid as q_granger;
    //      all ten cross-moments exact int64 from ONE hash agg (no
    //      window at all); the r chain promotes through doubles with
    //      one shared spelling ----
    QueryDef.sql(
      "q_partial_corr", {
        s"""WITH u AS (
           |  SELECT epoch_us(ts) // 1000000 AS es, event_type
           |  FROM events WHERE event_type IN ('click', 'view', 'purchase')
           |), b AS (
           |  SELECT es // 86400 AS day, (es % 86400) // 60 AS mi,
           |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS y,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS z
           |  FROM u GROUP BY 1, 2
           |), grid AS (
           |  SELECT day, unnest(range(0, 1440)) AS mi
           |  FROM (SELECT DISTINCT es // 86400 AS day FROM u)
           |), g AS (
           |  SELECT COALESCE(b.x, 0) AS x, COALESCE(b.y, 0) AS y,
           |    COALESCE(b.z, 0) AS z
           |  FROM grid LEFT JOIN b ON b.day = grid.day AND b.mi = grid.mi
           |), sm AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(z) AS BIGINT) AS sz,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(y * y) AS BIGINT) AS syy,
           |    CAST(sum(z * z) AS BIGINT) AS szz,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(x * z) AS BIGINT) AS sxz,
           |    CAST(sum(y * z) AS BIGINT) AS syz
           |  FROM g
           |)
           |SELECT n, ${partialCorrCols.mkString(",\n  ")}
           |FROM sm""".stripMargin
      }
    ) { (s, d) =>
      val u = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(expr("CAST(unix_micros(ts) AS BIGINT) div 1000000").as("es"),
          col("event_type"))
      val b = u.groupBy(expr("es div 86400").as("day"),
          expr("(es % 86400) div 60").as("mi"))
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0))
            .cast("long").as("x"),
          sum(when(col("event_type") === "click", 1).otherwise(0))
            .cast("long").as("y"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .cast("long").as("z"))
      val grid = u.select(expr("es div 86400").as("day")).distinct()
        .select(col("day"), explode(expr("sequence(0L, 1439L)")).as("mi"))
      grid.join(b, Seq("day", "mi"), "left")
        .select(coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"),
          coalesce(col("z"), lit(0L)).as("z"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("z")).as("sz"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"), sum(expr("z * z")).as("szz"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * z")).as("sxz"),
          sum(expr("y * z")).as("syz"))
        .selectExpr(("n" +: partialCorrCols): _*)
    },

    // ---- James–Stein shrinkage of per-arm means (Efron & Morris
    //      1975): the winner's-curse correction an experiment platform
    //      applies before ranking arms — each arm's mean is pulled
    //      toward the grand mean by c = max(0, 1 − (k−3)·σ̂²/S), where
    //      S = Σ(mean_i − grand)² and σ̂² is the mean per-arm sampling
    //      variance. Dominates the raw means for k ≥ 4 arms. One
    //      conditional-agg scan for exact centi-unit arm moments; the
    //      arm means/variances are QUANTIZED (1e4 / 1e6) before the
    //      across-arm sums so those sums are exact integers
    //      (order-independent — raw double sums across rows are not);
    //      k-row second agg, broadcast back — the q_simpson shape ----
    QueryDef.sql(
      "q_james_stein", {
        s"""WITH c AS (
           |  SELECT event_type, CAST(floor(value * 1e2 + 5e-1) AS BIGINT)
           |    AS c
           |  FROM events
           |), g AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
           |  FROM c GROUP BY event_type HAVING count(*) > 1
           |), m AS (
           |  SELECT event_type, n,
           |    CAST(floor(s * 1e4 / n) AS BIGINT) AS mq,
           |    CAST(floor(((q * 1e0 - (s * 1e0 * s) / n) / (n - 1)) / n
           |      * 1e6) AS BIGINT) AS svq
           |  FROM g
           |), a AS (
           |  SELECT CAST(count(*) AS BIGINT) AS k,
           |    CAST(sum(mq) AS BIGINT) AS smq,
           |    CAST(sum(mq * mq) AS BIGINT) AS sq2,
           |    CAST(sum(svq) AS BIGINT) AS ssv
           |  FROM m
           |)
           |SELECT event_type, n, mq AS mean_fp,
           |  $jsCFpCol,
           |  $jsShrunkFpCol
           |FROM m, a ORDER BY event_type""".stripMargin
      }
    ) { (s, d) =>
      val m = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(expr("c * c")).as("q"))
        // a 1-row arm has no sampling-variance estimate ((n-1) = 0 →
        // NULL svq that sum() would silently skip while k counts the
        // arm, corrupting σ̂²) — exclude it from the arm set entirely
        .filter(col("n") > 1)
        .selectExpr("event_type", "n",
          "CAST(floor(s * 1e4 / n) AS BIGINT) AS mq",
          """CAST(floor(((q * 1e0 - (s * 1e0 * s) / n) / (n - 1)) / n
            |  * 1e6) AS BIGINT)""".stripMargin + " AS svq")
      val a = m.agg(count(lit(1)).as("k"),
        sum(col("mq")).as("smq"), sum(expr("mq * mq")).as("sq2"),
        sum(col("svq")).as("ssv"))
      m.crossJoin(broadcast(a))
        .selectExpr("event_type", "n", "mq AS mean_fp",
          jsCFpCol, jsShrunkFpCol)
        .orderBy("event_type")
    }.intendsNestedLoop(
      "broadcast side is the single-row across-arms frame"),

    // ---- Simpson's-paradox detector: per-segment OLS slope vs the
    //      pooled slope of extendedprice ~ quantity over lineitem — the
    //      aggregation-bias diagnostic (a pooled trend can reverse
    //      inside every segment; any experiment/mixture readout should
    //      check before trusting a pooled slope). Money in exact cents,
    //      one conditional-agg scan for all segments, pooled moments by
    //      re-aggregating the SEGMENT moments (never a second scan);
    //      slope chain through doubles (n·Sxy overflows int64), one
    //      shared spelling, broadcast 1-row pooled frame ----
    QueryDef.sql(
      "q_simpson", {
        val slope = "(n * 1e0 * sxy - sx * 1e0 * sy)" +
          " / (n * 1e0 * sxx - sx * 1e0 * sx)"
        val slopeAll = "(n_all * 1e0 * sxy_all - sx_all * 1e0 * sy_all)" +
          " / (n_all * 1e0 * sxx_all - sx_all * 1e0 * sx_all)"
        s"""WITH r AS (
           |  SELECT l_returnflag AS seg,
           |    CAST(l_quantity AS BIGINT) AS x,
           |    CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT) AS y
           |  FROM lineitem
           |), g AS (
           |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(x * y) AS BIGINT) AS sxy
           |  FROM r GROUP BY seg
           |), a AS (
           |  SELECT CAST(sum(n) AS BIGINT) AS n_all,
           |    CAST(sum(sx) AS BIGINT) AS sx_all,
           |    CAST(sum(sy) AS BIGINT) AS sy_all,
           |    CAST(sum(sxx) AS BIGINT) AS sxx_all,
           |    CAST(sum(sxy) AS BIGINT) AS sxy_all
           |  FROM g
           |)
           |SELECT seg, n,
           |  CAST(floor($slope * 1e6) AS BIGINT) AS slope_fp,
           |  CAST(floor($slopeAll * 1e6) AS BIGINT) AS pooled_slope_fp,
           |  ($slope) * ($slopeAll) < 0e0 AS reversed
           |FROM g, a""".stripMargin
      }
    ) { (s, d) =>
      val slope = "(n * 1e0 * sxy - sx * 1e0 * sy)" +
        " / (n * 1e0 * sxx - sx * 1e0 * sx)"
      val slopeAll = "(n_all * 1e0 * sxy_all - sx_all * 1e0 * sy_all)" +
        " / (n_all * 1e0 * sxx_all - sx_all * 1e0 * sx_all)"
      val g = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("seg"),
          col("l_quantity").cast("long").as("x"),
          expr("CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT)")
            .as("y"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
          sum(expr("x * y")).as("sxy"))
      val a = g.agg(sum(col("n")).as("n_all"), sum(col("sx")).as("sx_all"),
        sum(col("sy")).as("sy_all"), sum(col("sxx")).as("sxx_all"),
        sum(col("sxy")).as("sxy_all"))
      g.crossJoin(broadcast(a))
        .selectExpr("seg", "n",
          s"CAST(floor($slope * 1e6) AS BIGINT) AS slope_fp",
          s"CAST(floor($slopeAll * 1e6) AS BIGINT) AS pooled_slope_fp",
          s"($slope) * ($slopeAll) < 0e0 AS reversed")
    }.intendsNestedLoop(
      "broadcast side is the single-row pooled-moments frame"),

    // ---- Burstiness index per user (Goh & Barabási 2008,
    //      B = (σ−μ)/(σ+μ) of the inter-event gaps): −1 = periodic,
    //      0 = Poisson, →1 = bursty — the single-number arrival-
    //      pattern diagnostic next to q_bursts' per-event state
    //      machine. Gaps in exact whole seconds; σ via the population
    //      moment identity over exact int64 sums, one sqrt (correctly
    //      rounded) + one quantized division ----
    QueryDef.sql(
      "q_burstiness",
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) // 1000000
        |      - lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS gap
        |  FROM events
        |), mo AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(gap) AS BIGINT) AS s,
        |    CAST(sum(gap * gap) AS BIGINT) AS q
        |  FROM g WHERE gap IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id, n,
        |  CASE WHEN sqrt((q * 1e0 - (s * 1e0 * s) / n) / n) + s * 1e0 / n
        |         > 0e0
        |    THEN CAST(floor(
        |      (sqrt((q * 1e0 - (s * 1e0 * s) / n) / n) - s * 1e0 / n)
        |      / (sqrt((q * 1e0 - (s * 1e0 * s) / n) / n) + s * 1e0 / n)
        |      * 1e6) AS BIGINT)
        |    ELSE NULL END AS b_fp
        |FROM mo WHERE n >= 2 ORDER BY user_id""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val g = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("unix_seconds(ts)").as("sec"))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .filter(col("gap").isNotNull)
      val mo = g.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("gap")).as("s"),
          sum(expr("gap * gap")).as("q"))
        .filter(col("n") >= 2)
      val sig = "sqrt((q * 1e0 - (s * 1e0 * s) / n) / n)"
      val mu = "(s * 1e0 / n)"
      mo.select(col("user_id"), col("n"),
          when(expr(s"$sig + $mu > 0e0"),
            expr(s"CAST(floor(($sig - $mu) / ($sig + $mu) * 1e6) AS BIGINT)"))
            .otherwise(lit(null)).as("b_fp"))
        .orderBy(col("user_id"))
    },

    // ---- Vocabulary coverage curve (tokenizer sizing: what fraction
    //      of the token stream does a top-k vocabulary cover?): token
    //      frequency ranks + cumulative share, exact integers; the
    //      rank window runs over the VOCABULARY (distinct tokens),
    //      never the token stream ----
    QueryDef.sql(
      "q_vocab_coverage",
      """WITH tokc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok
        |), rk AS (
        |  SELECT tok, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
        |      AS rank,
        |    CAST(sum(c) OVER (ORDER BY c DESC, tok) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS tot
        |  FROM tokc
        |)
        |SELECT rank, tok, c, (cum * 1000000) // tot AS cov_fp
        |FROM rk ORDER BY rank""".stripMargin
    ) { (s, d) =>
      val tokc = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val wOrd = Window.orderBy(col("c").desc, col("tok"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      tokc
        .withColumn("rank", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("tot", sum(col("c")).over(wAll))
        .select(col("rank"), col("tok"), col("c"),
          expr("(cum * 1000000L) div tot").as("cov_fp"))
        .orderBy(col("rank"))
    }.intendsGlobalWindow(
      "the windowed frame is the DISTINCT-token vocabulary — " +
        "vocab-bounded, never token-stream-sized"),

    // ---- Hill tail-index estimator (heavy-tail diagnostics — does the
    //      price distribution have finite variance? the power-law
    //      check behind sampling and skew decisions): α̂ = k / Σ
    //      ln(x_(i)/x_(k+1)) over the top k=100 order statistics. The
    //      top-101 set is TakeOrdered (no global sort); each ln term
    //      is 1e6-quantized before the exact integer sum (the
    //      klContrib convention); α as one integer division. Boundary
    //      ties are value-ties, so the selected MULTISET of values is
    //      deterministic regardless of which tied rows survive the
    //      limit ----
    QueryDef.sql(
      "q_hill_tail",
      """WITH v AS (
        |  SELECT CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT) AS c
        |  FROM lineitem
        |), top AS (
        |  SELECT c, CAST(row_number() OVER (ORDER BY c DESC) AS BIGINT)
        |    AS rk
        |  FROM (SELECT c FROM v ORDER BY c DESC LIMIT 101)
        |), ref AS (
        |  SELECT c AS cref FROM top WHERE rk = 101
        |), terms AS (
        |  SELECT CAST(floor(1e6 * ln(t.c * 1e0 / r.cref)) AS BIGINT) AS lt
        |  FROM top t CROSS JOIN ref r WHERE t.rk <= 100
        |)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(lt) AS BIGINT) AS sum_ln_fp,
        |  CASE WHEN CAST(sum(lt) AS BIGINT) > 0
        |    THEN CAST(100000000000000 AS BIGINT)
        |      // CAST(sum(lt) AS BIGINT)
        |    ELSE NULL END AS alpha_fp
        |FROM terms""".stripMargin
    ) { (s, d) =>
      val v = Tables.lineitem(s, d)
        .select(expr("CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT)")
          .as("c"))
      val top = v.orderBy(col("c").desc).limit(101)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("c").desc)).cast("long"))
      val ref = top.filter(col("rk") === 101)
        .select(col("c").as("cref"))
      top.filter(col("rk") <= 100)
        .crossJoin(broadcast(ref))
        .select(expr("CAST(floor(1e6 * ln(c * 1e0 / cref)) AS BIGINT)")
          .as("lt"))
        .agg(count(lit(1)).as("k"), sum(col("lt")).as("sum_ln_fp"))
        .select(col("k"), col("sum_ln_fp"),
          when(col("sum_ln_fp") > 0,
            expr("100000000000000L div sum_ln_fp"))
            .otherwise(lit(null)).as("alpha_fp"))
    }.intendsGlobalWindow(
      "rank runs over the post-limit 101-row top set (the pattern-" +
        "match post-limit-rank precedent)").intendsNestedLoop(
      "broadcast side is the 1-row x_(k+1) reference"),

    // ---- Sample-ratio-mismatch check (the A/B assignment health test
    //      run BEFORE believing any experiment metric — Fabijan et al.
    //      2019): chi-square of the observed variant counts against
    //      the designed 50/50 hash split. Exact integer counts; the
    //      statistic is one quantized chain; expected counts are exact
    //      halves via the 2e0 division ----
    QueryDef.sql(
      "q_srm",
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |), v AS (
        |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1
        |  FROM u
        |)
        |SELECT n0, n1,
        |  CAST(floor(
        |    ((n0 * 1e0 - (n0 + n1) / 2e0) * (n0 * 1e0 - (n0 + n1) / 2e0)
        |      / ((n0 + n1) / 2e0)
        |   + (n1 * 1e0 - (n0 + n1) / 2e0) * (n1 * 1e0 - (n0 + n1) / 2e0)
        |      / ((n0 + n1) / 2e0)) * 1e6) AS BIGINT) AS chi2_fp
        |FROM v""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d).select(col("user_id")).distinct()
        .agg(
          sum(when(expr("user_id % 2 = 0"), 1L).otherwise(0L)).as("n0"),
          sum(when(expr("user_id % 2 = 1"), 1L).otherwise(0L)).as("n1"))
        .selectExpr("n0", "n1",
          "CAST(floor(((n0 * 1e0 - (n0 + n1) / 2e0) * " +
            "(n0 * 1e0 - (n0 + n1) / 2e0) / ((n0 + n1) / 2e0) + " +
            "(n1 * 1e0 - (n0 + n1) / 2e0) * " +
            "(n1 * 1e0 - (n0 + n1) / 2e0) / ((n0 + n1) / 2e0)) * 1e6) " +
            "AS BIGINT) AS chi2_fp")
    },

    // ---- Feature hashing (the "hashing trick", Weinberger et al.
    //      2009 — the fixed-width featurizer behind Vowpal Wabbit /
    //      sklearn's HashingVectorizer): tokens map to 256 buckets by
    //      hash, sign by a second hash bit, counts collide additively.
    //      Row-local per doc (one tokenize + one grouped count — the
    //      featurization never shuffles the corpus beyond the doc
    //      key); sparse vector serialized as sorted idx:val CSV (no
    //      raw arrays in compared output) ----
    QueryDef.sql(
      "q_feature_hash",
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |    ${md5pDuck("tok")} % 256 AS idx,
         |    CASE WHEN (${md5pDuck("concat('sgn:', tok)")} % 2) = 0
         |      THEN 1 ELSE -1 END AS sgn
         |  FROM t
         |), b AS (
         |  SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS val
         |  FROM f GROUP BY doc_id, idx
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
         |  string_agg(CAST(idx AS VARCHAR) || ':' || CAST(val AS VARCHAR),
         |    ',' ORDER BY idx) AS feat_csv
         |FROM b WHERE val <> 0 GROUP BY doc_id""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"),
          expr("md5p60(tok) % 256").as("idx"),
          expr("CASE WHEN (md5p60(concat('sgn:', tok)) % 2) = 0 " +
            "THEN 1L ELSE -1L END").as("sgn"))
        .groupBy(col("doc_id"), col("idx"))
        .agg(sum(col("sgn")).as("val"))
        .filter(col("val") =!= 0)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"),
          expr("array_join(transform(array_sort(" +
            "collect_list(struct(idx, val))), " +
            "x -> concat(cast(x.idx as string), ':', " +
            "cast(x.val as string))), ',')").as("feat_csv"))
    },

    // ---- Theil T inequality index (the decomposable member of the
    //      concentration tier — q_gini ranks, q_lorenz plots, Theil
    //      ADDS across subgroups): T = Σ (x/X)·ln(x·n/X) over supplier
    //      revenue. Each term is one quantized ln times exact integers
    //      (the klContrib convention: x·1e6·ln(...) div-free double
    //      product floored once), summed exactly; zero-revenue
    //      suppliers contribute 0 (lim x→0). No window anywhere — two
    //      hash aggs and a broadcast 1-row total ----
    QueryDef.sql(
      "q_theil",
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM lineitem GROUP BY 1
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS xt
        |  FROM rev
        |)
        |SELECT max(n) AS n_suppliers, max(xt) AS total_units,
        |  CAST(sum(CASE WHEN x > 0 THEN
        |    CAST(floor((x * 1e6 * ln(x * 1e0 * n / xt)) / xt) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS theil_fp
        |FROM rev CROSS JOIN tot""".stripMargin
    ) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice) AS BIGINT)")).as("x"))
      val tot = rev.agg(count(lit(1)).as("n"), sum(col("x")).as("xt"))
      rev.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_suppliers"),
          max(col("xt")).as("total_units"),
          sum(when(col("x") > 0,
            expr("CAST(floor((x * 1e6 * ln(x * 1e0 * n / xt)) / xt)" +
              " AS BIGINT)")).otherwise(0L)).as("theil_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row (n, total) frame"),

    // ---- AMS (tug-of-war) sketch for the second frequency moment F2 =
    //      sum_u f_u^2 — the join/self-join SIZE estimator (F2 of the key
    //      distribution IS the self-join cardinality, the quantity a
    //      cost-based reorderer actually wants from a sketch; Alon,
    //      Matias & Szegedy 1996). 16 independent ±1 estimators:
    //      sg_k(u) from the md5 bit of (k:user), Z_k = sum_rows sg, each
    //      Z_k^2 an unbiased F2 estimate. Sketch-quality eval next to
    //      q_minhash_err/q_bloom_eval: per-estimator exact relative
    //      error vs the exact F2 in pure integer arithmetic (err_fp =
    //      |Z^2-F2|*1e6 // F2). Scale: ONE linear scan + partial-agg on
    //      16 keys for the sketch; the exact side is one user-bounded
    //      agg (eval-only — at 100 TB you keep the sketch, not the
    //      exact). Headroom: the err_fp numerator |Z^2-F2|*1e6 <=
    //      n^2*1e6 caps the EVAL at n <= 3e6 rows (drop the *1e6 column
    //      beyond); Z and Z^2 themselves are safe to 3e9 rows ----
    QueryDef.sql(
      "q_ams_f2",
      """WITH s AS (
        |  SELECT k.k AS est_id,
        |    (CAST(concat('0x', substr(md5(concat(CAST(k.k AS VARCHAR),
        |       ':', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2)
        |      * 2 - 1 AS sg
        |  FROM events, (SELECT unnest(range(0, 16)) AS k) k
        |), z AS (
        |  SELECT est_id, CAST(sum(sg) AS BIGINT) AS z
        |  FROM s GROUP BY est_id
        |), f AS (
        |  SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM (
        |    SELECT CAST(count(*) AS BIGINT) AS c
        |    FROM events GROUP BY user_id)
        |)
        |SELECT est_id, z, z * z AS z2, f2_exact,
        |  (abs(z * z - f2_exact) * 1000000) // f2_exact AS err_fp
        |FROM z CROSS JOIN f""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"))
      val z = ev.select(posexplode(expr(
          "transform(sequence(0, 15), k -> " +
            "(md5p60(concat(CAST(k AS STRING), ':', " +
            "CAST(user_id AS STRING))) % 2) * 2 - 1)"))
          .as(Seq("est_id", "sg")))
        .groupBy(col("est_id").cast("long").as("est_id"))
        .agg(sum(col("sg")).as("z"))
      val f2 = ev.groupBy("user_id").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("f2_exact"))
      z.crossJoin(broadcast(f2)).select(
        col("est_id"), col("z"), (col("z") * col("z")).as("z2"),
        col("f2_exact"),
        expr("(abs(z * z - f2_exact) * 1000000) div f2_exact")
          .as("err_fp"))
    }.intendsNestedLoop(
      "broadcast side is the 1-row exact-F2 eval frame")
  )
}
