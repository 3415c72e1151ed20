package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Beyond-reference operator coverage: time-bar resampling, rollup
  * aggregation, as-of join, SQL-surface indicators, SimHash near-dup,
  * LSH-bucketed approximate nearest neighbours.
  */
object ExtQueries {

  import Num.{dsumSql, dsum}

  /** Banded random-hyperplane LSH over an embedding column, via the native
    * codegen'd [[graft.functions.VecPlaneDot]] projections (plane family
    * (a_j, b_j) = (1000003 + 7919j, 271j + 17), matching the DuckDB oracle
    * formula exactly).
    *
    * OR-construction: `EmbBands` bands of `r` sign bits each; a pair is a
    * candidate if ANY band value collides, so candidates come from an
    * equality join on (band_id, band_val) — never an all-pairs product.
    *
    * The band width `r` GROWS WITH THE CORPUS: the smallest r with
    * 2^r * 8 >= n (same integer rule in the oracle's `rq` CTE), so the
    * expected bucket occupancy m = n / 2^r stays in (4, 8] at any scale
    * and the in-bucket self-join costs ~sum(n_b^2) ~= n*m <= 8n per band,
    * i.e. ~32n total with 4 bands — LINEAR in n. Derivation at n = 10^9:
    * r = 27 (2^27 * 8 = 1.07e9), m ~= 7.5, candidate pairs ~3e10 cheap
    * dot products spread over the cluster — vs the quadratic n^2/2^r =
    * 3.8e15 a FIXED 256-bucket code would give. (Occupancy assumes
    * near-uniform sign bits; heavily clustered corpora skew some buckets —
    * AQE skew-join splitting plus the threshold filter keep those bounded.)
    */
  private val EmbBands = 4
  private val EmbMaxBits = 28

  /** Smallest r with 2^r * 8 >= n, capped — twin of the oracle `rq` CTE. */
  private def lshBandBits(n: Long): Int = {
    var r = 1
    while (r < EmbMaxBits && (8L << r) < n) r += 1
    r
  }

  /** (vec_id, embedding, band_id, band_val) — one row per vector per band. */
  private def lshBanded(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VecOps.planeDot
    val emb = Tables.embeddings(s, d)
    // one count() to size the band width — index-sizing metadata, same
    // role as a broadcast-threshold statistic, NOT a data collect
    val r = lshBandBits(emb.count())
    val bands = (0 until EmbBands).map { k =>
      (0 until r).map { i =>
        val j = k * r + i
        when(planeDot(col("embedding"), 1000003 + j * 7919, j * 271 + 17) >= 0.0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    emb.select(
      col("vec_id"), col("embedding"),
      posexplode(array(bands: _*)).as(Seq("band_id", "band_val")))
  }

  /** Shared builder for the banded-LSH top-5 queries: `multiProbe =
    * false` probes each query's own band bucket only (q_knn_lsh);
    * `true` adds every Hamming-1 neighbor bucket — band_val XOR
    * (1 << i), i < r — the Lv-et-al. multi-probe scheme for a sign-bit
    * code (q_knn_mplsh). One definition, so the band CTE, the
    * dedup-after-cosine rationale, and the (cosine DESC, c_id)
    * tie-break cannot drift between the two variants.
    */
  private def knnLshSql(multiProbe: Boolean): String = {
    def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
    // probe offsets: o = 0 keeps the own bucket; o in 1..r flips sign
    // bit o-1. Single-probe pins o = 0.
    val oBound = if (multiProbe) "rq.r" else "0"
    s"""WITH ${OracleVec.bandsCte(EmbBands, EmbMaxBits)}, q AS (
       |  SELECT b.vec_id AS q_id, e.embedding AS q_emb, b.band_id,
       |    CASE WHEN t.o = 0 THEN b.band_val
       |         ELSE xor(b.band_val,
       |           CAST(1 AS BIGINT) << CAST(t.o - 1 AS INT)) END AS band_val
       |  FROM ebands b JOIN embeddings e USING (vec_id), rq,
       |       range(0, ${EmbMaxBits + 1}) t(o)
       |  WHERE b.vec_id < 10 AND t.o <= $oBound
       |), c AS (
       |  SELECT b.vec_id AS c_id, e.embedding AS c_emb, b.band_id, b.band_val
       |  FROM ebands b JOIN embeddings e USING (vec_id)
       |), p AS (
       |  SELECT DISTINCT q_id, c_id,
       |    ${cosDuck("q_emb", "c_emb")} AS cosine
       |  FROM q JOIN c USING (band_id, band_val) WHERE q_id <> c_id
       |)
       |SELECT q_id, c_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, c_id) AS rank FROM p) WHERE rank <= 5""".stripMargin
  }

  private def knnLshDf(multiProbe: Boolean)(
      s: SparkSession, d: String): DataFrame = {
    import graft.functions.VecOps
    val banded = lshBanded(s, d)
    val r = lshBandBits(Tables.embeddings(s, d).count())
    val probeCols: Seq[org.apache.spark.sql.Column] =
      if (!multiProbe) Seq(col("band_val"))
      else col("band_val") +:
        (0 until r).map(i => expr(s"band_val ^ ${1L << i}"))
    val q = banded.filter(col("vec_id") < 10).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("band_id"), col("band_val"))
      .select(col("q_id"), col("q_emb"), col("band_id"),
        explode(array(probeCols: _*)).as("band_val"))
    val c = banded.select(
      col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("band_id"), col("band_val"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    // distinct AFTER the cosine: the pair may collide in several bands
    // (and, multi-probe, in several probes), and (q_id, c_id) determines
    // cosine, so distinct-on-3-cols == pair dedup without an extra
    // shuffle of embeddings
    c.join(broadcast(q), Seq("band_id", "band_val"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", VecOps.cosine(col("q_emb"), col("c_emb")))
      .select("q_id", "c_id", "cosine")
      .distinct()
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("q_id", "c_id", "cosine", "rank")
  }

  /** SimHash width: 60 bits (15 hex chars of md5 per token = 60 unbiased
    * bits, and the signature stays positive in a signed int64 for both
    * engines). 4 bands x 15 bits drive the near-dup candidate join —
    * the MINIMUM band count that keeps the hamming<=3 guarantee exact
    * (pigeonhole: <=3 flipped bits leave >=1 of 4 bands untouched).
    *
    * Scale honesty: 15-bit bands give 32k buckets, so expected bucket
    * occupancy is n/32k (~30k at n=10^9) and the in-bucket verify is
    * ~n^2/2^15 per band — unlike the embedding LSH, the band width here
    * CANNOT grow freely with n without widening the signature (r bands
    * of b bits need r*b total bits and r >= hamming+1 for exactness).
    * The scale path at 10^9+ is a wider signature, not more 15-bit
    * bands — and it ships: `q_simhash_wide` / [[graft.ops.NearDup
    * .simhashWidePairs]] band a 120-bit signature (two independent
    * 60-bit md5 halves as two int64 columns, keeping every per-word
    * value oracle-exact) as 4 x 30 bits = ~10^9 buckets. The 60-bit
    * variant stays as the small-corpus default.
    */
  private val SimBits = graft.ops.NearDup.SimBits

  /** 60-bit SimHash signature per doc (shared by q_simhash / q_simhash_pairs).
    * Per-token hash = the full 60-bit md5 prefix (no mod-P reduction — every
    * bit position must be an independent coin flip).
    */
  private def simhashSig(s: SparkSession, d: String): DataFrame =
    graft.ops.NearDup.simhashSig(Tables.documents(s, d))

  /** DuckDB twin of [[simhashSig]], as a CTE chain ending in `sig`. */
  private val simhashSigSql: String = {
    val bits = (0 until SimBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n    ")
    val combine = (0 until SimBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM toks
       |), bits AS (
       |  SELECT doc_id,
       |    $bits
       |  FROM hashed GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM bits
       |)""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.NearDup.simhashWideSig]]: both 60-bit
    * halves (md5 prefix + suffix per token), CTE chain ending in
    * `wsig(doc_id, sim_lo, sim_hi)`.
    */
  private val simhashWideSigSql: String = {
    def bitsOf(h: String, p: String) = (0 until SimBits)
      .map(j => s"sum(CASE WHEN ($h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS $p$j")
      .mkString(",\n    ")
    def combine(p: String) = (0 until SimBits)
      .map(j => s"(CASE WHEN $p$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""wtoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), whashed AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h1,
       |    CAST(concat('0x', substr(md5(tok), 16, 15)) AS BIGINT) AS h2
       |  FROM wtoks
       |), wbits AS (
       |  SELECT doc_id,
       |    ${bitsOf("h1", "s")},
       |    ${bitsOf("h2", "t")}
       |  FROM whashed GROUP BY doc_id
       |), wsig AS (
       |  SELECT doc_id,
       |    CAST(${combine("s")} AS BIGINT) AS sim_lo,
       |    CAST(${combine("t")} AS BIGINT) AS sim_hi
       |  FROM wbits
       |)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // ---- OHLC bar resampling (1-hour bars per symbol) ----
    QueryDef.sql(
      "q_ohlc_bars",
      s"""WITH b AS (
         |  SELECT event_type, date_trunc('hour', ts) AS bar_ts, value,
         |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
         |      ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
         |      ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM events
         |)
         |SELECT event_type, bar_ts,
         |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |  count(*) AS n_ticks,
         |  ${dsumSql("value")} AS sum_value
         |FROM b GROUP BY event_type, bar_ts""".stripMargin
    ) { (s, d) =>
      val bar = date_trunc("hour", col("ts"))
      val wa = Window.partitionBy(col("event_type"), bar)
        .orderBy(col("ts"), col("event_id"))
      val wd = Window.partitionBy(col("event_type"), bar)
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("bar_ts", bar)
        .withColumn("rn_a", row_number().over(wa))
        .withColumn("rn_d", row_number().over(wd))
        .groupBy(col("event_type"), col("bar_ts"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n_ticks"),
          dsum(col("value")).as("sum_value"))
    },

    // ---- ROLLUP aggregation (subtotals + grand total) ----
    QueryDef.sql(
      "q_rollup_lineitem",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    },

    // ---- time-series pattern matching (subsequence similarity search):
    //      Euclidean top-k between one query window (the latest 8-point
    //      window of the min event_type, deterministic) and EVERY
    //      8-point sliding window of every series. The per-window
    //      distance is a fixed-index-order fold (IEEE-identical in both
    //      engines, same construction as the vec_dot oracle); the global
    //      top-k rank is WindowGroupLimit-capped, so each partition
    //      pre-filters its own top 10 — no full sort at scale ----
    QueryDef.sql(
      "q_pattern_match",
      """WITH wins AS (
        |  SELECT event_type, ts, event_id,
        |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
        |  FROM events
        |), full8 AS (
        |  SELECT * FROM wins WHERE len(win) = 8
        |), qt AS (
        |  SELECT min(event_type) AS qtype FROM events
        |), qw AS (
        |  SELECT win AS qwin FROM full8, qt WHERE event_type = qtype
        |  ORDER BY ts DESC, event_id DESC LIMIT 1
        |), scored AS (
        |  SELECT f.event_type, f.ts, f.event_id,
        |    list_reduce(list_prepend(0e0, list_transform(range(1, 9),
        |      i -> (f.win[i] - q.qwin[i]) * (f.win[i] - q.qwin[i]))),
        |      (acc, x) -> acc + x) AS dist
        |  FROM full8 f, qw q
        |)
        |SELECT event_type, ts, event_id, dist, rank FROM (
        |  SELECT *, row_number() OVER (ORDER BY dist, event_type, ts, event_id)
        |    AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-7, 0)
      val wins = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          collect_list(col("value")).over(w).as("win"))
        .filter(size(col("win")) === 8)
      val minType = Tables.events(s, d).agg(min(col("event_type")).as("qtype"))
      val qw = wins.join(broadcast(minType), col("event_type") === col("qtype"))
        .orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(col("win").as("qwin"))
      // top-k via orderBy+limit = TakeOrderedAndProject (each partition
      // contributes its own top 10, no global sort, no single-task
      // whole-corpus window); the rank window then runs on 10 rows only
      val wr = Window.orderBy(
        col("dist"), col("event_type"), col("ts"), col("event_id"))
      wins.crossJoin(broadcast(qw))
        .withColumn("dist", expr(
          "aggregate(zip_with(win, qwin, (a, b) -> (a - b) * (a - b)), " +
            "0D, (acc, x) -> acc + x)"))
        .select("event_type", "ts", "event_id", "dist")
        .orderBy(col("dist"), col("event_type"), col("ts"), col("event_id"))
        .limit(10)
        .withColumn("rank", row_number().over(wr).cast("long"))
    }.intendsNestedLoop(
      "broadcast side is the single-row query-window frame")
      .intendsGlobalWindow(
        "rank window runs on the 10 TakeOrdered survivors only"),

    // ---- z-normalized pattern matching: each 8-point window is
    //      standardized to (x - mu) / sd before the Euclidean fold, so
    //      the match is shape-based (scale/offset-invariant — the form
    //      used by Matrix-Profile-style similarity search) rather than
    //      level-based. Every FP step is a fixed-order fold or a
    //      correctly-rounded primitive (sqrt, /), so the score is
    //      bit-identical cross-engine; flat windows (sd = 0) z-normalize
    //      to all-zeros on both sides. Same distributed top-k shape as
    //      q_pattern_match (TakeOrdered, rank window on 10 rows) ----
    QueryDef.sql(
      "q_pattern_match_znorm",
      """WITH wins AS (
        |  SELECT event_type, ts, event_id,
        |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
        |  FROM events
        |), full8 AS (
        |  SELECT * FROM wins WHERE len(win) = 8
        |), zn AS (
        |  SELECT event_type, ts, event_id,
        |    CASE WHEN ss = 0e0 THEN list_transform(win, x -> 0e0)
        |         ELSE list_transform(win, x -> (x - mu) / sqrt(ss / 8e0))
        |    END AS zwin
        |  FROM (
        |    SELECT *, list_reduce(list_prepend(0e0, list_transform(win,
        |        x -> (x - mu) * (x - mu))), (a, b) -> a + b) AS ss
        |    FROM (
        |      SELECT *,
        |        list_reduce(list_prepend(0e0, win), (a, b) -> a + b) / 8e0 AS mu
        |      FROM full8))
        |), qt AS (
        |  SELECT min(event_type) AS qtype FROM events
        |), qw AS (
        |  SELECT zwin AS qwin FROM zn, qt WHERE event_type = qtype
        |  ORDER BY ts DESC, event_id DESC LIMIT 1
        |), scored AS (
        |  SELECT f.event_type, f.ts, f.event_id,
        |    list_reduce(list_prepend(0e0, list_transform(range(1, 9),
        |      i -> (f.zwin[i] - q.qwin[i]) * (f.zwin[i] - q.qwin[i]))),
        |      (acc, x) -> acc + x) AS dist
        |  FROM zn f, qw q
        |)
        |SELECT event_type, ts, event_id, dist, rank FROM (
        |  SELECT *, row_number() OVER (ORDER BY dist, event_type, ts, event_id)
        |    AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-7, 0)
      val zn = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          collect_list(col("value")).over(w).as("win"))
        .filter(size(col("win")) === 8)
        .withColumn("mu", expr("aggregate(win, 0D, (a, x) -> a + x) / 8.0D"))
        .withColumn("ss", expr(
          "aggregate(transform(win, x -> (x - mu) * (x - mu)), " +
            "0D, (a, x) -> a + x)"))
        .withColumn("zwin", expr(
          "CASE WHEN ss = 0D THEN transform(win, x -> 0D) " +
            "ELSE transform(win, x -> (x - mu) / sqrt(ss / 8.0D)) END"))
        .select("event_type", "ts", "event_id", "zwin")
      val minType = Tables.events(s, d).agg(min(col("event_type")).as("qtype"))
      val qw = zn.join(broadcast(minType), col("event_type") === col("qtype"))
        .orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(col("zwin").as("qwin"))
      val wr = Window.orderBy(
        col("dist"), col("event_type"), col("ts"), col("event_id"))
      zn.crossJoin(broadcast(qw))
        .withColumn("dist", expr(
          "aggregate(zip_with(zwin, qwin, (a, b) -> (a - b) * (a - b)), " +
            "0D, (acc, x) -> acc + x)"))
        .select("event_type", "ts", "event_id", "dist")
        .orderBy(col("dist"), col("event_type"), col("ts"), col("event_id"))
        .limit(10)
        .withColumn("rank", row_number().over(wr).cast("long"))
    }.intendsNestedLoop(
      "broadcast side is the single-row query-window frame")
      .intendsGlobalWindow(
        "rank window runs on the 10 TakeOrdered survivors only"),

    // ---- DTW pattern matching: banded (Sakoe-Chiba r=2) dynamic time
    //      warping between the query window and every candidate window —
    //      tolerant to local time-axis stretch that the rigid Euclidean
    //      fold penalizes. The 8x8 DP band is unrolled into 38 lateral-
    //      alias cells (graft.ops.Dtw) shared verbatim with the oracle:
    //      fixed-order +/*/least arithmetic, bit-identical cross-engine.
    //      Same distributed top-k shape as q_pattern_match ----
    QueryDef.sql(
      "q_pattern_match_dtw", {
        // one MATERIALIZED CTE per DP row: DuckDB expands lateral column
        // aliases textually, so the flat 38-cell SELECT costs ~3^depth
        // (measured ~85 s at sf0.01; ~1 s leveled) — see Dtw.cellLevels
        val levels = graft.ops.Dtw
          .cellLevels(i => s"win[$i]", j => s"qwin[$j]", 8, 2)
          .zipWithIndex.map { case (cells, li) =>
            val exprs =
              cells.map { case (a, e) => s"$e AS $a" }.mkString(", ")
            s"""sc$li AS MATERIALIZED (
               |  SELECT *, $exprs FROM ${if (li == 0) "base" else s"sc${li - 1}"}
               |)""".stripMargin
          }.mkString(", ")
        s"""WITH wins AS (
           |  SELECT event_type, ts, event_id,
           |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
           |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
           |  FROM events
           |), full8 AS MATERIALIZED (
           |  SELECT * FROM wins WHERE len(win) = 8
           |), qt AS (
           |  SELECT min(event_type) AS qtype FROM events
           |), qw AS (
           |  SELECT win AS qwin FROM full8, qt WHERE event_type = qtype
           |  ORDER BY ts DESC, event_id DESC LIMIT 1
           |), base AS (
           |  SELECT event_type, ts, event_id, win, qwin FROM full8, qw
           |), $levels
           |SELECT event_type, ts, event_id, dist, rank FROM (
           |  SELECT event_type, ts, event_id, d_8_8 AS dist,
           |    row_number() OVER (ORDER BY d_8_8, event_type, ts, event_id)
           |      AS rank
           |  FROM sc7) WHERE rank <= 10""".stripMargin
      }
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-7, 0)
      val wins = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          collect_list(col("value")).over(w).as("win"))
        .filter(size(col("win")) === 8)
      val minType = Tables.events(s, d).agg(min(col("event_type")).as("qtype"))
      val qw = wins.join(broadcast(minType), col("event_type") === col("qtype"))
        .orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(col("win").as("qwin"))
      val cells = graft.ops.Dtw.cellExprs(
        i => s"element_at(win, $i)", j => s"element_at(qwin, $j)", 8, 2)
      val wr = Window.orderBy(
        col("dist"), col("event_type"), col("ts"), col("event_id"))
      wins.crossJoin(broadcast(qw))
        .selectExpr(Seq("event_type", "ts", "event_id") ++
          cells.map { case (a, e) => s"$e AS $a" }: _*)
        .select(col("event_type"), col("ts"), col("event_id"),
          col("d_8_8").as("dist"))
        .orderBy(col("dist"), col("event_type"), col("ts"), col("event_id"))
        .limit(10)
        .withColumn("rank", row_number().over(wr).cast("long"))
    }.intendsNestedLoop(
      "broadcast side is the single-row query-window frame")
      .intendsGlobalWindow(
        "rank window runs on the 10 TakeOrdered survivors only"),

    // ---- set operations: INTERSECT / EXCEPT between two derived key
    //      sets (hash-dedup semantics, no sort) ----
    QueryDef.sql(
      "q_set_ops",
      """WITH hi AS (
        |  SELECT DISTINCT event_type FROM events WHERE value > 50
        |), lo AS (
        |  SELECT DISTINCT event_type FROM events WHERE value < -50
        |)
        |SELECT event_type, 'both_tails' AS which FROM (
        |  SELECT event_type FROM hi INTERSECT SELECT event_type FROM lo)
        |UNION ALL
        |SELECT event_type, 'hi_only' AS which FROM (
        |  SELECT event_type FROM hi EXCEPT SELECT event_type FROM lo)""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val hi = ev.filter(col("value") > 50).select("event_type").distinct()
      val lo = ev.filter(col("value") < -50).select("event_type").distinct()
      hi.intersect(lo).withColumn("which", lit("both_tails"))
        .unionByName(hi.except(lo).withColumn("which", lit("hi_only")))
    },

    // ---- correlated scalar subquery (decorrelation): events above their
    //      type's average — Catalyst rewrites the subquery into the
    //      grouped-agg + join the DataFrame twin spells out ----
    QueryDef.sql(
      "q_above_type_avg",
      s"""SELECT e.event_id, e.event_type, e.value
         |FROM events e
         |WHERE e.value > (SELECT ${Num.davgSql("e2.value")} FROM events e2
         |                 WHERE e2.event_type = e.event_type)""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val avgs = ev.groupBy(col("event_type").as("t"))
        .agg(Num.davg(col("value")).as("type_avg"))
      ev.join(broadcast(avgs), col("event_type") === col("t"))
        .filter(col("value") > col("type_avg"))
        .select("event_id", "event_type", "value")
    },

    // ---- semi-structured JSON: build a JSON payload from columns,
    //      extract fields back out. The payload string is assembled with
    //      concat (identical bytes in both engines — engine-native
    //      to_json/json_object formatting differs); extraction compares
    //      the PARSED values, which is the capability under test ----
    QueryDef.sql(
      "q_json_extract",
      """WITH j AS (
        |  SELECT event_id,
        |    concat('{"id":', CAST(event_id AS VARCHAR),
        |      ',"type":"', event_type, '"}') AS payload
        |  FROM events
        |)
        |SELECT event_id, payload,
        |  CAST(json_extract_string(payload, '$.id') AS BIGINT) AS id_back,
        |  json_extract_string(payload, '$.type') AS type_back
        |FROM j""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          concat(lit("{\"id\":"), col("event_id").cast("string"),
            lit(",\"type\":\""), col("event_type"), lit("\"}")).as("payload"))
        .select(col("event_id"), col("payload"),
          get_json_object(col("payload"), "$.id").cast("long").as("id_back"),
          get_json_object(col("payload"), "$.type").as("type_back"))
    },

    // ---- UNPIVOT / melt: wide per-row OHLC-ish columns to long
    //      (field, value) rows — the reshape between storage layouts ----
    QueryDef.sql(
      "q_unpivot",
      """SELECT event_id, field, fval
        |FROM (SELECT event_id, value AS raw, value * 2e0 AS doubled,
        |             value + 1e0 AS shifted
        |      FROM events)
        |UNPIVOT (fval FOR field IN (raw, doubled, shifted))""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("value").as("raw"),
          (col("value") * 2.0).as("doubled"), (col("value") + 1.0).as("shifted"))
        .select(col("event_id"),
          expr("stack(3, 'raw', raw, 'doubled', doubled, 'shifted', shifted)")
            .as(Seq("field", "fval")))
    },

    // ---- CUBE aggregation (all grouping-set combinations) ----
    QueryDef.sql(
      "q_cube_events",
      s"""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_rows,
         |  ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .cube(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
    },

    // ---- as-of join: each event matched to the latest hourly snapshot ----
    // Spark has no ASOF JOIN; composed as union + last-observation-carry-
    // forward over ONE window (single shuffle+sort per key) — the plan a
    // native AsOfJoinExec would produce, with no O(n*m) range explosion.
    QueryDef.sql(
      "q_asof_join",
      """WITH snaps AS (
        |  SELECT event_type, ts AS snap_ts, value AS snap_value FROM (
        |    SELECT event_type, ts, value,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |        ORDER BY ts DESC, event_id DESC) AS rn_d
        |    FROM events) WHERE rn_d = 1
        |)
        |SELECT p.event_type, p.ts, p.event_id, p.value, b.snap_ts, b.snap_value
        |FROM events p ASOF LEFT JOIN snaps b
        |  ON p.event_type = b.event_type AND p.ts >= b.snap_ts""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val wd = Window
        .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      val snaps = ev
        .withColumn("rn_d", row_number().over(wd))
        .filter(col("rn_d") === 1)
        .select(col("event_type"), col("ts"), col("value"))
      // union probe (side=1) and build (side=0) rows; at equal ts the build
      // row sorts first so the probe sees it (ASOF's inclusive >=)
      val probe = ev.select(
        col("event_type"), col("ts"), col("event_id"), col("value"),
        lit(null).cast("timestamp").as("b_ts"),
        lit(null).cast("double").as("b_value"),
        lit(1).as("side"))
      val build = snaps.select(
        col("event_type"), col("ts"), lit(-1L).as("event_id"),
        lit(null).cast("double").as("value"),
        col("ts").as("b_ts"), col("value").as("b_value"), lit(0).as("side"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      probe.unionByName(build)
        .withColumn("snap_ts", last(col("b_ts"), ignoreNulls = true).over(w))
        .withColumn("snap_value", last(col("b_value"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select("event_type", "ts", "event_id", "value", "snap_ts", "snap_value")
    },

    // ---- SQL-surface parity: the indicator pipeline in pure spark.sql,
    //      exercising the registered ewm_avg window function ----
    QueryDef.sql(
      "q_indicators_sql",
      s"""${FinanceQueries.enrichedSql}
         |SELECT event_id, event_type, ts, value, sma_5, ema_10, delta, gain,
         |       loss, avg_gain_10, avg_loss_10, rs, rsi_10, signal
         |FROM enriched""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("graft_events_v")
      s.sql(
        """WITH base AS (
          |  SELECT event_id, event_type, ts, value FROM graft_events_v
          |), s1 AS (
          |  SELECT *,
          |    CASE WHEN count(value) OVER w5 = 5 THEN avg(value) OVER w5 END AS sma_5,
          |    ewm_avg(value, 10) OVER wo AS ema_10,
          |    value - lag(value, 1) OVER wo AS delta
          |  FROM base
          |  WINDOW
          |    wo AS (PARTITION BY event_type ORDER BY ts, event_id),
          |    w5 AS (PARTITION BY event_type ORDER BY ts, event_id
          |           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
          |), s2 AS (
          |  SELECT *,
          |    CASE WHEN delta IS NOT NULL THEN greatest(delta, 0e0) END AS gain,
          |    CASE WHEN delta IS NOT NULL THEN greatest(-delta, 0e0) END AS loss
          |  FROM s1
          |), s3 AS (
          |  SELECT *,
          |    CASE WHEN count(gain) OVER w10 = 10 THEN avg(gain) OVER w10 END AS avg_gain_10,
          |    CASE WHEN count(loss) OVER w10 = 10 THEN avg(loss) OVER w10 END AS avg_loss_10
          |  FROM s2
          |  WINDOW w10 AS (PARTITION BY event_type ORDER BY ts, event_id
          |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
          |), s4 AS (
          |  SELECT *, avg_gain_10 / (CASE WHEN avg_loss_10 <> 0e0 THEN avg_loss_10 END) AS rs
          |  FROM s3
          |), s5 AS (
          |  SELECT *, 100e0 - 100e0/(1e0 + rs) AS rsi_10 FROM s4
          |)
          |SELECT event_id, event_type, ts, value, sma_5, ema_10, delta, gain,
          |       loss, avg_gain_10, avg_loss_10, rs,  rsi_10,
          |  CASE WHEN rsi_10 IS NULL OR sma_5 IS NULL OR ema_10 IS NULL THEN 'HOLD'
          |       WHEN sma_5 > ema_10 AND rsi_10 < 70e0 THEN 'BUY'
          |       WHEN sma_5 < ema_10 AND rsi_10 > 30e0 THEN 'SELL'
          |       ELSE 'HOLD' END AS signal
          |FROM s5""".stripMargin)
    },

    // ---- SimHash (60-bit) document fingerprint ----
    QueryDef.sql(
      "q_simhash",
      s"WITH $simhashSigSql\nSELECT doc_id, simhash FROM sig"
    )(simhashSig),

    // ---- SimHash near-dup pairs (hamming distance <= 3) ----
    QueryDef.sql(
      "q_simhash_pairs",
      s"""WITH $simhashSigSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
    ) { (s, d) =>
      // Scale path: hamming<=3 over 60 bits means at least one of the 4
      // 15-bit bands matches exactly (pigeonhole), so candidates come from
      // an equality join on (band_id, band_value) — a linear shuffle — and
      // only candidates pay the hamming verify (graft.ops.NearDup).
      graft.ops.NearDup.simhashPairs(Tables.documents(s, d), maxHamming = 3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
    },

    // ---- WIDE SimHash near-dup pairs: the 10^9+-scale signature the
    //      60-bit scale note promises — 120 bits (independent md5
    //      prefix/suffix halves), 4 bands x 30 bits => ~10^9 band
    //      buckets vs 32k, same exact hamming<=3 pigeonhole. The oracle
    //      verifies all-pairs; the Spark side is the banded join ----
    QueryDef.sql(
      "q_simhash_wide",
      s"""WITH $simhashWideSigSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sim_lo, b.sim_lo))
         |    + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
         |FROM wsig a JOIN wsig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim_lo, b.sim_lo))
         |    + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3""".stripMargin
    ) { (s, d) =>
      graft.ops.NearDup.simhashWidePairs(Tables.documents(s, d), maxHamming = 3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
    },

    // ---- Cross-format identity through the batch DSv2 source (see
    //      graft.sources.JsonlSource): events → Spark's JSON writer →
    //      the graft-jsonl TableProvider (filter pushdown evaluates
    //      cents >= 26000 on the parsed line, column pruning drops
    //      user_id at the reader) → hash-aggregate — the SAME numbers
    //      the oracle computes from the original parquet. Proves the
    //      source end-to-end, not just spec-level ----
    QueryDef.sql(
      "q_jsonl_source",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM (SELECT event_type,
        |        CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents
        |      FROM events)
        |WHERE cents >= 26000 GROUP BY event_type""".stripMargin
    ) { (s, d) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_jsonl_q").toString
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").as("cents"))
        .coalesce(4)
        .write.mode("overwrite").json(tmp)
      s.read.format("graft-jsonl")
        .option("path", tmp)
        .option("schema",
          "event_id:long,user_id:long,event_type:string,cents:long")
        .load()
        .filter(col("cents") >= 26000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    },

    // ---- interval x interval OVERLAP join (both sides are intervals —
    //      the harder sibling of q_range_join's point-in-interval):
    //      per-order open fulfillment windows [orderdate, min(last ship,
    //      orderdate + 90d)], pairs of the SAME customer whose windows
    //      overlap -> per-customer concurrency stats. Scale path: uniform
    //      32-day bins — each window explodes to its <=4 covered bins,
    //      candidates meet on the EQUI key (custkey, bin), and each
    //      true pair is counted exactly once by the standard
    //      first-shared-bin rule (bin == max of the two start bins: if
    //      the bin ranges intersect at all, that is their first shared
    //      cell). Cost is linear + true-output-sized — never the naive
    //      per-customer quadratic nested loop the oracle states ----
    QueryDef.sql(
      "q_overlap_join",
      """WITH w AS (
        |  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS s,
        |    least(greatest(CAST(max(l_shipdate) AS DATE),
        |                   CAST(o_orderdate AS DATE)),
        |          CAST(o_orderdate AS DATE) + 90) AS e
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3
        |)
        |SELECT a.o_custkey, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(date_diff('day', greatest(a.s, b.s),
        |                     least(a.e, b.e)) + 1) AS BIGINT)
        |    AS overlap_days
        |FROM w a JOIN w b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |  AND a.s <= b.e AND b.s <= a.e
        |GROUP BY 1""".stripMargin
    ) { (s, d) =>
      val w = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("s"))
        .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"), col("s"))
        .agg(least(greatest(max(col("sd")), col("s")),
          date_add(col("s"), 90)).as("e"))
        .withColumn("sbin", expr("unix_date(s) div 32"))
        .withColumn("ebin", expr("unix_date(e) div 32"))
      val frag = w.withColumn("bin",
        explode(expr("sequence(sbin, ebin)")))
      val a = frag.select(col("o_custkey"), col("bin"),
        col("o_orderkey").as("ka"), col("s").as("sa"), col("e").as("ea"),
        col("sbin").as("ba"))
      val b = frag.select(col("o_custkey"), col("bin"),
        col("o_orderkey").as("kb"), col("s").as("sb"), col("e").as("eb"),
        col("sbin").as("bb"))
      a.join(b, Seq("o_custkey", "bin"))
        .filter(col("ka") < col("kb")
          && col("bin") === greatest(col("ba"), col("bb"))
          && col("sa") <= col("eb") && col("sb") <= col("ea"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(datediff(least(col("ea"), col("eb")),
            greatest(col("sa"), col("sb"))).cast("long") + 1L)
            .as("overlap_days"))
    },

    // ---- range join WITHOUT an equi key (interval containment), made
    //      scale-safe by grid bucketing: every high-value event opens a
    //      30-minute alert window; all events inside any window join to
    //      it. A naive plan is a nested-loop (events x windows) — at
    //      100 TB both sides are big and that is quadratic. Bucketing
    //      time into window-length cells turns it into an EQUI join:
    //      each window explodes to the (<=2) cells it overlaps, each
    //      event maps to exactly ONE cell, join on cell + residual
    //      ts-range filter. No dedup pass is needed — a matching
    //      (event, window) pair meets in exactly one cell (the event's
    //      own), so the equi join cannot produce duplicates. Cost is
    //      linear + the true output size; hot cells (many windows in
    //      one half-hour) are ordinary join skew, handled by AQE ----
    QueryDef.sql(
      "q_range_join",
      """WITH w AS (
        |  SELECT event_id AS window_id, ts AS w_start,
        |    ts + INTERVAL 30 MINUTE AS w_end
        |  FROM events WHERE value >= 26e1
        |)
        |SELECT w.window_id, e.event_id, e.ts
        |FROM events e JOIN w
        |  ON e.ts >= w.w_start AND e.ts < w.w_end""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val win = ev.filter(col("value") >= 260.0)
        .select(
          col("event_id").as("window_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
        // a 30-min window overlaps at most two 30-min grid cells; the end
        // bound is exclusive, so the last covered cell is w_end - 1us
        .withColumn("bucket", explode(expr(
          "sequence(unix_timestamp(w_start) div 1800, " +
            "unix_timestamp(w_end - INTERVAL 1 MICROSECOND) div 1800)")))
      ev.select(col("event_id"), col("ts"))
        .withColumn("bucket", expr("unix_timestamp(ts) div 1800"))
        .join(win, Seq("bucket"))
        .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .select(col("window_id"), col("event_id"), col("ts"))
    },

    // ---- LSH-banded ANN (random-hyperplane signs), the scale path for
    //      similarity search: probes compare only within colliding band
    //      buckets; band width adapts to corpus size (see lshBanded).
    //      Single-probe and multi-probe share ONE builder (knnLsh) ----
    QueryDef.sql("q_knn_lsh", knnLshSql(multiProbe = false)) {
      knnLshDf(multiProbe = false)
    },

    // ---- Multi-probe LSH ANN (Lv et al. 2007 applied to the sign-bit
    //      family): each query also probes every HAMMING-1 neighbor
    //      bucket of its band code — band_val XOR (1 << i) for each of
    //      the r sign bits. Flipping one hyperplane sign is exactly the
    //      most-likely single hash error for a near neighbor, so the
    //      probe budget lands on the most-correlated buckets (for a
    //      sign-bit code, arithmetic ±1 would jump to anti-correlated
    //      cells — the bitmask is NOT a scalar quantization). Recall is
    //      bought on the query side only: the corpus band frame is
    //      untouched, probes stay a broadcast ((r+1)× a handful of
    //      query rows), candidates remain bucket-bounded ----
    QueryDef.sql("q_knn_mplsh", knnLshSql(multiProbe = true)) {
      knnLshDf(multiProbe = true)
    },

    // ---- int8 scalar quantization of the embedding column: per-dim
    //      global [min,max] -> 256 uniform cells. 4x storage shrink for
    //      the ANN candidate store. Scale shape: dim stats are one
    //      posexplode scan partial-aggregated to 64 groups, broadcast
    //      back as two 64-double arrays; quantization itself is then
    //      ROW-LOCAL (transform over the array) — the corpus is never
    //      shuffled or reassembled. All arithmetic is IEEE-identical
    //      cross-engine (min/max/floor, no summation), so the oracle
    //      matches exactly; truncation (floor) quantization avoids the
    //      half-even/half-up rounding divergence between engines. ----
    QueryDef.sql(
      "q_quantize_embeddings",
      """WITH ex AS (
        |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        |), st AS (
        |  SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos
        |), qq AS (
        |  SELECT vec_id, pos, x, mn, mx,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE least(255, CAST(floor((x - mn) * 256e0 / (mx - mn)) AS BIGINT))
        |    END AS q
        |  FROM ex JOIN st USING (pos)
        |)
        |SELECT vec_id,
        |  string_agg(CAST(q AS VARCHAR), ',' ORDER BY pos) AS qcsv,
        |  max(abs(x - (mn + (q + 5e-1) * (mx - mn) / 256e0))) AS max_abs_err
        |FROM qq GROUP BY vec_id""".stripMargin
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val stats = emb
        .select(col("vec_id"), posexplode(col("embedding")))
        .select((col("pos") + 1).as("pos"), col("col").cast("double").as("x"))
        .groupBy("pos")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)")
            .as("mns"),
          expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)")
            .as("mxs"))
      emb.crossJoin(broadcast(stats))
        .withColumn("qarr", expr(
          """transform(embedding, (e, i) ->
            |  CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN 0L
            |       ELSE least(255L, floor((CAST(e AS DOUBLE) - element_at(mns, i + 1))
            |         * 256.0D / (element_at(mxs, i + 1) - element_at(mns, i + 1))))
            |  END)""".stripMargin))
        .select(
          col("vec_id"),
          expr("array_join(transform(qarr, q -> CAST(q AS STRING)), ',')")
            .as("qcsv"),
          expr(
            """array_max(transform(embedding, (e, i) ->
              |  abs(CAST(e AS DOUBLE) - (element_at(mns, i + 1)
              |    + (element_at(qarr, i + 1) + 0.5D)
              |      * (element_at(mxs, i + 1) - element_at(mns, i + 1)) / 256.0D))))"""
              .stripMargin).as("max_abs_err"))
    }.intendsNestedLoop(
      "broadcast side is the single-row per-dim stats frame"),

    // ---- z-order (Morton) cell + z-value of the (value, event_id)
    //      plane: the clustering key of a two-dimensional layout. The
    //      bit-spreading SQL string is shared verbatim with the oracle —
    //      `<<`/`&`/`|` parse identically in Spark SQL and DuckDB — and
    //      the normalization reuses the broadcast single-row stats
    //      shape ----
    QueryDef.sql(
      "q_zorder",
      s"""WITH st AS (
         |  SELECT min(value) AS xmn, max(value) AS xmx,
         |         min(CAST(event_id AS DOUBLE)) AS ymn,
         |         max(CAST(event_id AS DOUBLE)) AS ymx
         |  FROM events
         |), c AS (
         |  SELECT event_id,
         |    CASE WHEN xmx = xmn THEN 0
         |         ELSE least(65535, CAST(floor((value - xmn) * 65536e0
         |           / (xmx - xmn)) AS BIGINT)) END AS xc,
         |    CASE WHEN ymx = ymn THEN 0
         |         ELSE least(65535, CAST(floor((CAST(event_id AS DOUBLE) - ymn)
         |           * 65536e0 / (ymx - ymn)) AS BIGINT)) END AS yc
         |  FROM events, st
         |)
         |SELECT event_id, xc, yc,
         |  ${graft.ops.ZOrder.zvalueSql("xc", "yc")} AS zval
         |FROM c""".stripMargin
    ) { (s, d) =>
      import graft.ops.ZOrder
      val ev = Tables.events(s, d)
      val stats = ev.agg(
        min(col("value").cast("double")).as("xmn"),
        max(col("value").cast("double")).as("xmx"),
        min(col("event_id").cast("double")).as("ymn"),
        max(col("event_id").cast("double")).as("ymx"))
      ev.select("event_id", "value")
        .crossJoin(broadcast(stats))
        .withColumn("xc", ZOrder.cell16(col("value"), col("xmn"), col("xmx")))
        .withColumn("yc", ZOrder.cell16(col("event_id"), col("ymn"), col("ymx")))
        .select(
          col("event_id"), col("xc"), col("yc"),
          expr(ZOrder.zvalueSql("xc", "yc")).as("zval"))
    }.intendsNestedLoop(
      "broadcast side is the single-row min/max stats frame"),

    // ---- Data-skipping effectiveness (the measurement that justifies
    //      q_zorder/q_hilbert at 100 TB): simulate per-file zone maps
    //      (min/max of each queried column, what parquet footers and
    //      table-format manifests store) under TWO layouts of the same
    //      events — natural insertion order (256-row files) vs z-order
    //      prefix cells (top 9 Morton bits of the (user_id, value)
    //      interleave) — and count the files a 2-D range predicate can
    //      skip. Zone-map intersection on exact 16-bit cell integers;
    //      one shared quantization frame feeds both layouts; the
    //      predicate box is 1/8 of each dimension. Scale shape: two
    //      bounded hash aggs (one per layout) + single-row rollups ----
    QueryDef.sql(
      "q_skip_stats", {
        val (lo, hi) = (16384, 24575)
        def layer(name: String, fileKey: String) =
          s"""SELECT '$name' AS layout,
             |  CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(sum(CASE WHEN mxx >= $lo AND mnx <= $hi
             |    AND mxy >= $lo AND mny <= $hi THEN 1 ELSE 0 END)
             |    AS BIGINT) AS files_scanned,
             |  CAST(sum(CASE WHEN mxx >= $lo AND mnx <= $hi
             |    AND mxy >= $lo AND mny <= $hi THEN nrows ELSE 0 END)
             |    AS BIGINT) AS rows_scanned,
             |  CAST(sum(nm) AS BIGINT) AS rows_matched
             |FROM (
             |  SELECT $fileKey AS f, min(xc) AS mnx, max(xc) AS mxx,
             |    min(yc) AS mny, max(yc) AS mxy,
             |    count(*) AS nrows,
             |    sum(CASE WHEN xc BETWEEN $lo AND $hi
             |      AND yc BETWEEN $lo AND $hi THEN 1 ELSE 0 END) AS nm
             |  FROM z GROUP BY 1)""".stripMargin
        s"""WITH st AS (
           |  SELECT min(CAST(user_id AS DOUBLE)) AS xmn,
           |         max(CAST(user_id AS DOUBLE)) AS xmx,
           |         min(value) AS ymn, max(value) AS ymx
           |  FROM events
           |), c AS (
           |  SELECT event_id,
           |    CASE WHEN xmx = xmn THEN 0
           |         ELSE least(65535, CAST(floor((CAST(user_id AS DOUBLE)
           |           - xmn) * 65536e0 / (xmx - xmn)) AS BIGINT)) END AS xc,
           |    CASE WHEN ymx = ymn THEN 0
           |         ELSE least(65535, CAST(floor((value - ymn) * 65536e0
           |           / (ymx - ymn)) AS BIGINT)) END AS yc
           |  FROM events, st
           |), z AS (
           |  SELECT event_id, xc, yc,
           |    ${graft.ops.ZOrder.zvalueSql("xc", "yc")} AS zv
           |  FROM c
           |)
           |${layer("natural", "event_id // 256")}
           |UNION ALL
           |${layer("zorder", "zv >> 23")}""".stripMargin
      }
    ) { (s, d) =>
      import graft.ops.ZOrder
      val (lo, hi) = (16384, 24575)
      val ev = Tables.events(s, d)
      val stats = ev.agg(
        min(col("user_id").cast("double")).as("xmn"),
        max(col("user_id").cast("double")).as("xmx"),
        min(col("value").cast("double")).as("ymn"),
        max(col("value").cast("double")).as("ymx"))
      val z = ev.select("event_id", "user_id", "value")
        .crossJoin(broadcast(stats))
        .withColumn("xc", ZOrder.cell16(col("user_id"), col("xmn"), col("xmx")))
        .withColumn("yc", ZOrder.cell16(col("value"), col("ymn"), col("ymx")))
        .withColumn("zv", expr(ZOrder.zvalueSql("xc", "yc")))
      def layer(name: String, fileKey: org.apache.spark.sql.Column) =
        z.groupBy(fileKey.as("f"))
          .agg(min(col("xc")).as("mnx"), max(col("xc")).as("mxx"),
            min(col("yc")).as("mny"), max(col("yc")).as("mxy"),
            count(lit(1)).as("nrows"),
            sum(when(col("xc").between(lo, hi)
              && col("yc").between(lo, hi), 1).otherwise(0)).as("nm"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("mxx") >= lo && col("mnx") <= hi
              && col("mxy") >= lo && col("mny") <= hi, 1).otherwise(0))
              .cast("long").as("files_scanned"),
            sum(when(col("mxx") >= lo && col("mnx") <= hi
              && col("mxy") >= lo && col("mny") <= hi, col("nrows"))
              .otherwise(0)).cast("long").as("rows_scanned"),
            sum(col("nm")).cast("long").as("rows_matched"))
          .select(lit(name).as("layout"), col("n_files"),
            col("files_scanned"), col("rows_scanned"), col("rows_matched"))
      layer("natural", expr("event_id div 256"))
        .unionByName(layer("zorder", expr("zv >> 23")))
    }.intendsNestedLoop(
      "broadcast side is the single-row min/max stats frame"),

    // ---- Hilbert-curve clustering key over the same (value, event_id)
    //      plane: the locality-BETTER layout sibling of q_zorder —
    //      adjacent curve positions are adjacent cells (unit steps, no
    //      Morton quadrant jumps), so range scans along the sort key
    //      touch tighter spatial blocks (HilbertSpec pins the
    //      adjacency property). The 16-step xy2d walk expands from ONE
    //      per-step arithmetic source (ops.Hilbert; XOR spelled
    //      arithmetically — `^` is POWER in DuckDB) into Spark's
    //      lateral-alias chain AND the oracle's chained CTEs — the CTE
    //      boundaries are load-bearing there: DuckDB inlines lateral
    //      aliases textually and the chained form explodes to a ~3^16
    //      expression tree (measured, minutes of planning). Same
    //      broadcast single-row stats normalization as q_zorder ----
    QueryDef.sql(
      "q_hilbert",
      s"""WITH st AS (
         |  SELECT min(value) AS xmn, max(value) AS xmx,
         |         min(CAST(event_id AS DOUBLE)) AS ymn,
         |         max(CAST(event_id AS DOUBLE)) AS ymx
         |  FROM events
         |), c AS (
         |  SELECT event_id,
         |    CASE WHEN xmx = xmn THEN 0
         |         ELSE least(65535, CAST(floor((value - xmn) * 65536e0
         |           / (xmx - xmn)) AS BIGINT)) END AS xc,
         |    CASE WHEN ymx = ymn THEN 0
         |         ELSE least(65535, CAST(floor((CAST(event_id AS DOUBLE) - ymn)
         |           * 65536e0 / (ymx - ymn)) AS BIGINT)) END AS yc
         |  FROM events, st
         |),
         |${graft.ops.Hilbert.stepCtes("c", Seq("event_id", "xc", "yc"))}
         |SELECT event_id, xc, yc, hval FROM hfin""".stripMargin
    ) { (s, d) =>
      import graft.ops.{Hilbert, ZOrder}
      val ev = Tables.events(s, d)
      val stats = ev.agg(
        min(col("value").cast("double")).as("xmn"),
        max(col("value").cast("double")).as("xmx"),
        min(col("event_id").cast("double")).as("ymn"),
        max(col("event_id").cast("double")).as("ymx"))
      ev.select("event_id", "value")
        .crossJoin(broadcast(stats))
        .withColumn("xc", ZOrder.cell16(col("value"), col("xmn"), col("xmx")))
        .withColumn("yc", ZOrder.cell16(col("event_id"), col("ymn"), col("ymx")))
        .select(col("event_id"), col("xc"), col("yc"))
        .selectExpr(Seq("event_id", "xc", "yc") ++
          Hilbert.lateralColsSeq("xc", "yc") :+ "hd0 AS hval": _*)
        .select("event_id", "xc", "yc", "hval")
    }.intendsNestedLoop(
      "broadcast side is the single-row min/max stats frame"),

    // ---- 3-dimensional z-order: 21-bit cells over (value, event_id,
    //      ts-seconds) interleaved into one 63-bit Morton key — the
    //      layout key for a table filtered on any of THREE dimensions
    //      (e.g. time AND price AND id range at 100 TB). Same shared-SQL
    //      construction as q_zorder; ts seconds via the epoch_us/1e6 ≡
    //      cast-to-double identity used by q_trend_corr ----
    QueryDef.sql(
      "q_zorder3",
      s"""WITH st AS (
         |  SELECT min(value) AS xmn, max(value) AS xmx,
         |         min(CAST(event_id AS DOUBLE)) AS ymn,
         |         max(CAST(event_id AS DOUBLE)) AS ymx,
         |         min(CAST(epoch_us(ts) AS DOUBLE) / 1e6) AS zmn,
         |         max(CAST(epoch_us(ts) AS DOUBLE) / 1e6) AS zmx
         |  FROM events
         |), c AS (
         |  SELECT event_id,
         |    CASE WHEN xmx = xmn THEN 0
         |         ELSE least(2097151, CAST(floor((value - xmn) * 2097152e0
         |           / (xmx - xmn)) AS BIGINT)) END AS xc,
         |    CASE WHEN ymx = ymn THEN 0
         |         ELSE least(2097151, CAST(floor((CAST(event_id AS DOUBLE) - ymn)
         |           * 2097152e0 / (ymx - ymn)) AS BIGINT)) END AS yc,
         |    CASE WHEN zmx = zmn THEN 0
         |         ELSE least(2097151, CAST(floor((CAST(epoch_us(ts) AS DOUBLE) / 1e6
         |           - zmn) * 2097152e0 / (zmx - zmn)) AS BIGINT)) END AS zc
         |  FROM events, st
         |)
         |SELECT event_id, xc, yc, zc,
         |  ${graft.ops.ZOrder.zvalue3Sql("xc", "yc", "zc")} AS zval
         |FROM c""".stripMargin
    ) { (s, d) =>
      import graft.ops.ZOrder
      val ev = Tables.events(s, d)
      val tSec = col("ts").cast("double")
      val stats = ev.agg(
        min(col("value").cast("double")).as("xmn"),
        max(col("value").cast("double")).as("xmx"),
        min(col("event_id").cast("double")).as("ymn"),
        max(col("event_id").cast("double")).as("ymx"),
        min(tSec).as("zmn"),
        max(tSec).as("zmx"))
      ev.select(col("event_id"), col("value"), tSec.as("tsec"))
        .crossJoin(broadcast(stats))
        .withColumn("xc", ZOrder.cell21(col("value"), col("xmn"), col("xmx")))
        .withColumn("yc", ZOrder.cell21(col("event_id"), col("ymn"), col("ymx")))
        .withColumn("zc", ZOrder.cell21(col("tsec"), col("zmn"), col("zmx")))
        .select(
          col("event_id"), col("xc"), col("yc"), col("zc"),
          expr(ZOrder.zvalue3Sql("xc", "yc", "zc")).as("zval"))
    }.intendsNestedLoop(
      "broadcast side is the single-row min/max stats frame"),

    // ---- analytic window-function breadth: rank family + offsets over
    //      the per-symbol ordered series (one shuffle, shared window) ----
    QueryDef.sql(
      "q_window_suite",
      """SELECT event_id, event_type, ts, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  row_number() OVER w AS rn,
        |  rank() OVER wv AS value_rank,
        |  dense_rank() OVER wv AS value_dense_rank,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER wv AS value_pct_rank,
        |  cume_dist() OVER wv AS value_cume_dist,
        |  first_value(value) OVER w AS first_val,
        |  nth_value(value, 3) OVER w AS third_val
        |FROM events
        |WINDOW
        |  w AS (PARTITION BY event_type ORDER BY ts, event_id),
        |  wv AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      Tables.events(s, d).select(
        col("event_id"), col("event_type"), col("ts"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(wv).cast("long").as("value_rank"),
        dense_rank().over(wv).cast("long").as("value_dense_rank"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(wv).as("value_pct_rank"),
        cume_dist().over(wv).as("value_cume_dist"),
        first(col("value")).over(w).as("first_val"),
        nth_value(col("value"), 3).over(w).as("third_val"))
    },

    // ---- IVF ANN on a REAL codebook: deterministic seeded k-means
    //      (k ~ sqrt(n), 2 Lloyd iterations, fixed-point exact centroid
    //      means — see graft.ops.IvfIndex for the cross-engine contract
    //      and the 100 TB cost model), cells assigned by max cosine,
    //      queries probe their nprobe=2 nearest cells. The oracle unrolls
    //      the identical k-means below, so the gate checks codebook,
    //      assignment, and search end-to-end. IvfRecallSpec pins the
    //      quality side (recall@5 vs q_knn_brute). ----
    QueryDef.sql(
      "q_knn_ivf", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        // the k-means unroll (kq/cb0/a1/cb1/a2/cb2) is shared with
        // q_semdedup via OracleKmeans — single source for the Lloyd SQL
        s"""WITH ${OracleKmeans.codebookCtes},
           |scored AS (
           |  SELECT e.vec_id, e.embedding, c.cent_id,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosDuck("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS rk
           |  FROM embeddings e, cb2 c
           |), assign AS (
           |  SELECT vec_id, embedding, cent_id FROM scored WHERE rk = 1
           |), probes AS (
           |  SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS probe_cent
           |  FROM scored WHERE vec_id < 10 AND rk <= 2
           |), p AS (
           |  SELECT pr.q_id, a.vec_id AS c_id,
           |    ${cosDuck("pr.q_emb", "a.embedding")} AS cosine
           |  FROM probes pr JOIN assign a ON a.cent_id = pr.probe_cent
           |  WHERE a.vec_id <> pr.q_id
           |)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cosine DESC, c_id) AS rank FROM p) WHERE rank <= 5""".stripMargin
      }
    ) { (s, d) =>
      import graft.ops.IvfIndex
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val k = IvfIndex.chooseK(emb.count())
      // the codebook comes back a local relation (k ~ sqrt(n) rows of
      // index metadata): search uses it twice (assignment + probes)
      // without re-executing the k-means lineage
      val cb = IvfIndex.codebook(emb, k, iters = 2)
      IvfIndex.search(emb, cb, col("vec_id") < 10, nprobe = 2, topK = 5)
        .select("q_id", "c_id", "cosine", "rank")
    }.intendsNestedLoop(
      "broadcast side is the k ~ sqrt(n) centroid codebook"),

    // ---- embedding-cosine near-dup dedup: banded LSH -> in-bucket pairs
    //      above threshold -> min-id representative per vector. Candidates
    //      come from the (band_id, band_val) equality join (no all-pairs
    //      cross join); the adaptive band width keeps per-bucket occupancy
    //      ~constant, so the self-join shuffle + verify cost stays LINEAR
    //      in corpus size (derivation at lshBanded). Multi-band collisions
    //      produce duplicate pairs — harmless under the min() aggregate,
    //      so no dedup shuffle is spent on them. ----
    QueryDef.sql(
      "q_dedup_embedding", {
        def cosDuck(a: String, b: String) = OracleVec.cos(a, b)
        s"""WITH ${OracleVec.bandsCte(EmbBands, EmbMaxBits)}, sig AS (
           |  SELECT b.vec_id, e.embedding, b.band_id, b.band_val
           |  FROM ebands b JOIN embeddings e USING (vec_id)
           |), pairs AS (
           |  SELECT a.vec_id AS v_a, b.vec_id AS v_b
           |  FROM sig a JOIN sig b USING (band_id, band_val)
           |  WHERE a.vec_id <> b.vec_id
           |    AND ${cosDuck("a.embedding", "b.embedding")} >= 9e-1
           |)
           |SELECT e.vec_id,
           |  least(e.vec_id, coalesce(min(p.v_b), e.vec_id)) AS keep_vec_id,
           |  least(e.vec_id, coalesce(min(p.v_b), e.vec_id)) < e.vec_id AS is_dup
           |FROM embeddings e LEFT JOIN pairs p ON p.v_a = e.vec_id
           |GROUP BY e.vec_id""".stripMargin
      }
    ) { (s, d) =>
      import graft.functions.VecOps
      val banded = lshBanded(s, d)
      val a = banded.select(
        col("vec_id").as("v_a"), col("embedding").as("e_a"),
        col("band_id"), col("band_val"))
      val b = banded.select(
        col("vec_id").as("v_b"), col("embedding").as("e_b"),
        col("band_id"), col("band_val"))
      val pairs = a.join(b, Seq("band_id", "band_val"))
        .filter(col("v_a") =!= col("v_b"))
        .filter(VecOps.cosine(col("e_a"), col("e_b")) >= 0.9)
        .select("v_a", "v_b")
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(pairs, col("v_a") === col("vec_id"), "left")
        .groupBy(col("vec_id"))
        .agg(least(col("vec_id"), coalesce(min(col("v_b")), col("vec_id")))
          .as("keep_vec_id"))
        .withColumn("is_dup", col("keep_vec_id") < col("vec_id"))
    },

    // ---- Edit-distance similarity join (entity resolution / typo pairs):
    //      SymSpell deletion-neighborhood blocking, provably complete for
    //      lev <= 2 — candidates from ONE equi-join on deletion variants,
    //      never an all-pairs product. The oracle states the naive
    //      quadratic form; [[graft.ops.FuzzyJoin]] must reproduce it
    //      exactly ----
    QueryDef.sql(
      "q_fuzzy_join",
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS a_name, b.p_name AS b_name,
        |       levenshtein(a.p_name, b.p_name) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin
    ) { (s, d) =>
      graft.ops.FuzzyJoin.selfJoin(Tables.part(s, d), "p_name")
    },

    // ---- Entity resolution end-to-end: deletion-neighborhood blocking
    //      (FuzzyJoin, complete for lev<=2) -> pairwise match edges ->
    //      ConnectedComponents transitive closure -> canonical entity =
    //      min member name. The classic ER pipeline (blocking ->
    //      matching -> clustering) with every stage the scalable shape:
    //      candidates from equi-joins on deletion variants (never
    //      all-pairs), closure via large-star/small-star rounds ----
    QueryDef.sql(
      "q_entity_resolution",
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
        |pairs AS (
        |  SELECT a.p_name AS a_name, b.p_name AS b_name
        |  FROM n a JOIN n b ON a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2
        |), ed AS (
        |  SELECT a_name AS u, b_name AS v FROM pairs
        |  UNION SELECT b_name, a_name FROM pairs
        |), reach(id, r) AS (
        |  SELECT u, u FROM ed
        |  UNION
        |  SELECT e.u, reach.r FROM ed e JOIN reach ON reach.id = e.v
        |), comp AS (
        |  SELECT id, min(r) AS entity_id FROM reach GROUP BY id
        |)
        |SELECT n.p_name,
        |  COALESCE(c.entity_id, n.p_name) AS entity_id,
        |  COALESCE(c.entity_id, n.p_name) = n.p_name AS is_canonical
        |FROM n LEFT JOIN comp c ON c.id = n.p_name""".stripMargin
    ) { (s, d) =>
      val names = Tables.part(s, d).select(col("p_name")).distinct()
      val pairs = graft.ops.FuzzyJoin.selfJoin(Tables.part(s, d), "p_name")
      val comp = graft.ops.ConnectedComponents.run(
        pairs.select(col("a_name").as("src"), col("b_name").as("dst")))
      names.join(comp, names("p_name") === comp("id"), "left")
        .select(col("p_name"),
          coalesce(col("rep"), col("p_name")).as("entity_id"),
          (coalesce(col("rep"), col("p_name")) === col("p_name"))
            .as("is_canonical"))
    },

    // ---- Exact weighted median (lower) of line price per supplier,
    //      weight = quantity: the volume-weighted "typical deal size"
    //      that plain median misstates when big orders dominate.
    //      Semantics: wmedian = min v with 2·cumw(v) >= totw, where
    //      cumw uses a RANGE frame (ties share their full tie-group
    //      weight, so the pick is order-independent under duplicates).
    //      Weights quantized floor(q·1e2) — integer-exact cumulative
    //      sums cross-engine. ONE l_suppkey exchange carries both
    //      window sums and the final groupBy; group count = #suppliers,
    //      in-group sort is the per-key window sort that scales with
    //      rows/supplier, not corpus size. ----
    QueryDef.sql(
      "q_weighted_median",
      """WITH w AS (
        |  SELECT l_suppkey, l_extendedprice AS v,
        |    CAST(floor(l_quantity * 1e2) AS BIGINT) AS wt
        |  FROM lineitem
        |), c AS (
        |  SELECT l_suppkey, v, wt,
        |    CAST(sum(wt) OVER (PARTITION BY l_suppkey ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cw,
        |    CAST(sum(wt) OVER (PARTITION BY l_suppkey) AS BIGINT) AS tot
        |  FROM w
        |)
        |SELECT l_suppkey, min(v) AS wmedian, CAST(max(tot) AS BIGINT) AS total_wt
        |FROM c WHERE 2 * cw >= tot
        |GROUP BY l_suppkey""".stripMargin
    ) { (s, d) =>
      val byKey = Window.partitionBy(col("l_suppkey"))
      val cum = byKey.orderBy(col("v"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_extendedprice").as("v"),
          expr("CAST(floor(l_quantity * 1e2) AS BIGINT)").as("wt"))
        .withColumn("cw", sum(col("wt")).over(cum))
        .withColumn("tot", sum(col("wt")).over(byKey))
        .filter(lit(2) * col("cw") >= col("tot"))
        .groupBy(col("l_suppkey"))
        .agg(min(col("v")).as("wmedian"),
          max(col("tot")).cast("long").as("total_wt"))
    },

    // ---- Fellegi-Sunter EM linkage scoring (see ops.LinkageEm): the
    //      probabilistic-scoring leg of the ER tier — q_fuzzy_join
    //      blocks, q_entity_resolution clusters; this CALIBRATES: EM
    //      fits (m_j, u_j, p) over the ≤ 2^3 field-agreement patterns
    //      of blocked customer pairs and publishes each pattern's match
    //      weight w. The corpus is touched once (pair gen + ONE pattern
    //      -count agg); EM is O(2^k·iters) on an 8-row frame no matter
    //      the pair count. Blocking = (nation, $2000-acctbal band) —
    //      equi-join, never all-pairs; the band uses a shifted
    //      nonneg // so trunc = floor on both engines ----
    QueryDef.sql(
      "q_linkage_em",
      s"""WITH fs_cust AS MATERIALIZED (
         |  SELECT c_custkey AS k, c_nationkey AS nk, c_mktsegment AS mkt,
         |    CAST(floor(c_acctbal * 1e2) AS BIGINT) AS bal,
         |    right(c_name, 4) AS ph4
         |  FROM customer
         |), fs_pairs AS (
         |  SELECT
         |    CASE WHEN a.mkt = b.mkt THEN 1 ELSE 0 END AS a1,
         |    CASE WHEN abs(a.bal - b.bal) <= 50000 THEN 1 ELSE 0 END AS a2,
         |    CASE WHEN levenshtein(a.ph4, b.ph4) <= 2 THEN 1 ELSE 0 END
         |      AS a3
         |  FROM fs_cust a JOIN fs_cust b
         |    ON a.nk = b.nk
         |   AND (a.bal + 100000) // 200000 = (b.bal + 100000) // 200000
         |   AND a.k < b.k
         |), graft_fs_pat AS MATERIALIZED (
         |  SELECT CAST(a1 AS BIGINT) AS a1, CAST(a2 AS BIGINT) AS a2,
         |    CAST(a3 AS BIGINT) AS a3, CAST(count(*) AS BIGINT) AS cnt
         |  FROM fs_pairs GROUP BY 1, 2, 3
         |),
         |${graft.ops.LinkageEm.oracleSql()}""".stripMargin
    ) { (s, d) =>
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("k"), col("c_nationkey").as("nk"),
        col("c_mktsegment").as("mkt"),
        expr("CAST(floor(c_acctbal * 1e2) AS BIGINT)").as("bal"),
        expr("right(c_name, 4)").as("ph4"))
        .withColumn("blk", expr("(bal + 100000) div 200000"))
      val a = cust.select(col("nk"), col("blk"), col("k").as("ka"),
        col("mkt").as("mkta"), col("bal").as("bala"), col("ph4").as("ph4a"))
      val b = cust.select(col("nk"), col("blk"), col("k").as("kb"),
        col("mkt").as("mktb"), col("bal").as("balb"), col("ph4").as("ph4b"))
      val pat = a.join(b, Seq("nk", "blk"))
        .filter(col("ka") < col("kb"))
        .select(
          when(col("mkta") === col("mktb"), 1L).otherwise(0L).as("a1"),
          when(abs(col("bala") - col("balb")) <= 50000, 1L).otherwise(0L)
            .as("a2"),
          when(levenshtein(col("ph4a"), col("ph4b")) <= 2, 1L).otherwise(0L)
            .as("a3"))
        .groupBy("a1", "a2", "a3").agg(count(lit(1)).as("cnt"))
      graft.ops.LinkageEm.run(pat)
    }.intendsNestedLoop(
      "EM cross joins are against broadcast 1-row parameter frames; the " +
        "pattern frame is <= 2^3 rows")
  )
}
