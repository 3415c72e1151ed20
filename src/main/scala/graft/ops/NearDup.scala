package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection as a reusable library surface: MinHash-LSH
  * over word shingles and SimHash banding, parameterized by id/text
  * column names so they run on ANY corpus frame (the oracle queries in
  * `DataPrepQueries`/`ExtQueries` delegate here against the test tables).
  *
  * Requires the `md5p60` function (from `spark.sql.extensions =
  * graft.GraftExtensions`, or `GraftExtensions.register`).
  *
  * Scale shape (unchanged from the audited queries): candidates come from
  * equality joins on band keys only — never an all-pairs product — and
  * every hash is engine-portable md5-derived arithmetic.
  */
object NearDup {

  private val P = 2147483647L // 2^31 - 1

  /** 16 minhash permutations h_j(x) = (a_j*x + b_j) mod P, 4 bands. */
  val MinhashPerms: Seq[(Long, Long)] =
    (1 to 16).map(j => (1000003L * j + 12345L, 7919L * j + 271L))

  /** Word 3-gram shingles: (id, shingle). Docs with <3 tokens have none.
    * The token array is bound once per row (no re-split inside the
    * lambda — see the CSE note on the minhash pipeline).
    */
  def shingles(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    df.select(col(id), split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(
        col(id),
        explode(expr(
          "transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', slice(toks, i, 3)))")).as("shingle"))

  /** Per-doc minhash signature banded for LSH: (id, band_id, band_hash). */
  def minhashBands(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val hashed = shingles(df, id, text)
      .select(col(id), expr(s"md5p60(shingle) % $P").as("h"))
    val mins = hashed.groupBy(col(id)).agg(
      min(expr(s"(h * ${MinhashPerms.head._1} + ${MinhashPerms.head._2}) % $P")).as("m0"),
      MinhashPerms.zipWithIndex.tail.map { case ((a, b), j) =>
        min(expr(s"(h * $a + $b) % $P")).as(s"m$j")
      }: _*)
    val bands = (0 until 4).map { k =>
      val cs = (0 until 4).map(i => s"m${k * 4 + i}").mkString(", ")
      s"$k, concat_ws('-', $cs)"
    }
    mins.selectExpr(id, s"stack(4, ${bands.mkString(", ")}) as (band_id, band_hash)")
  }

  /** Candidate near-dup pairs from band collisions. `ordered = true`
    * keeps one row per pair (a < b); `false` keeps both directions (for
    * representative selection grouped on `id_a`). Output: (id_a, id_b).
    */
  def minhashCandidatePairs(
      df: DataFrame, id: String = "doc_id", text: String = "text",
      ordered: Boolean = true): DataFrame = {
    val bands = minhashBands(df, id, text)
    val a = bands.select(col(id).as("id_a"), col("band_id"), col("band_hash"))
    val b = bands.select(
      col(id).as("id_b"), col("band_id").as("band_id_b"),
      col("band_hash").as("band_hash_b"))
    val docCond =
      if (ordered) col("id_a") < col("id_b") else col("id_a") =!= col("id_b")
    a.join(b,
        col("band_id") === col("band_id_b") &&
          col("band_hash") === col("band_hash_b") && docCond)
      .select("id_a", "id_b")
      .distinct()
  }

  /** Min-id representative per document: (id, keep_id, is_dup). Connected
    * near-dup groups collapse to their smallest member via one grouped
    * min over the candidate pairs.
    */
  def dedupByMinhash(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val pairs = minhashCandidatePairs(df, id, text, ordered = false)
    df.select(col(id))
      .join(pairs, col("id_a") === col(id), "left")
      .groupBy(col(id))
      .agg(least(col(id), coalesce(min(col("id_b")), col(id))).as("keep_id"))
      .withColumn("is_dup", col("keep_id") < col(id))
  }

  /** Append the banded minhash signature as per-ROW columns
    * (`band_0`..`band_3`), computed with pure array expressions — no
    * aggregation — so it works on a STREAMING frame (the signature of a
    * document is row-local; only the collision check needs state).
    * Identical band values to [[minhashBands]] for docs with >= 3 tokens
    * (same shingles, same permutation mins — spec-pinned); shorter docs,
    * which [[minhashBands]] simply omits, get a per-doc unique sentinel
    * band so they never collide with anything.
    */
  def withRowMinhashBands(
      df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    // shingle hashes bound ONCE as a column (md5 per shingle, not per
    // permutation — CSE does not reach inside lambda bodies)
    val withHs = df
      .withColumn("__toks", split(col(text), " "))
      .withColumn("__hs", expr(
        s"CASE WHEN size(__toks) >= 3 THEN " +
          s"transform(sequence(1, size(__toks) - 2), " +
          s"i -> md5p60(concat_ws(' ', slice(__toks, i, 3))) % $P) END"))
    val mins = MinhashPerms.zipWithIndex.map { case ((a, b), j) =>
      expr(s"array_min(transform(__hs, h -> (h * $a + $b) % $P))").as(s"__m$j")
    }
    val withMins = withHs.select(col("*") +: mins: _*)
    val bandCols = (0 until 4).map { k =>
      val cs = (k * 4 until k * 4 + 4).map(i => s"__m$i").mkString(", ")
      expr(s"CASE WHEN __hs IS NOT NULL THEN concat_ws('-', $cs) " +
        s"ELSE concat('uniq-', $id, '-', $k) END").as(s"band_$k")
    }
    withMins.select(df.columns.toSeq.map(col) ++ bandCols: _*)
  }

  // -------------------------------------------------------------- simhash
  /** SimHash width: 60 bits (15 hex chars of md5 per token) in 4 bands of
    * 15 bits — the MINIMUM band count that keeps the hamming<=3 candidate
    * guarantee exact by pigeonhole; the 10^9+ path is a wider signature,
    * not more bands (see the scale note at ExtQueries).
    */
  val SimBits = 60
  val SimBandBits = 15
  val SimBands: Int = SimBits / SimBandBits

  /** 60-bit SimHash signature per doc: (id, simhash). Per-token hash =
    * the full 60-bit md5 prefix (every bit an independent coin flip).
    */
  def simhashSig(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = df
      .select(col(id), explode(split(col(text), " ")).as("tok"))
      .select(col(id), expr("md5p60(tok)").as("h"))
    val bitAggs = (0 until SimBits).map(j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"s$j"))
    val combine = (0 until SimBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    toks
      .groupBy(col(id))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .selectExpr(id, s"CAST($combine AS BIGINT) AS simhash")
  }

  /** Near-dup pairs at hamming distance <= `maxHamming` (must be <
    * SimBands for the pigeonhole banding to stay exact): candidates from
    * an equality join on (band_id, band_val), then the hamming verify.
    * Output: (id_a, id_b, hamming).
    */
  def simhashPairs(
      df: DataFrame, id: String = "doc_id", text: String = "text",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimBands,
      s"hamming <= $maxHamming needs > $maxHamming bands for exactness")
    val sig = simhashSig(df, id, text)
    val banded = sig.select(
      col(id), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${SimBands - 1}), " +
          s"j -> shiftright(simhash, j * $SimBandBits) & ${(1 << SimBandBits) - 1})"))
        .as(Seq("band_id", "band_val")))
    val a = banded.select(
      col(id).as("id_a"), col("simhash").as("sig_a"),
      col("band_id"), col("band_val"))
    val b = banded.select(
      col(id).as("id_b"), col("simhash").as("sig_b"),
      col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // -------------------------------------------------- wide simhash (120)
  /** The 10^9+-scale signature the 60-bit scale note promises: 120 bits
    * as two independent 60-bit halves (md5 prefix / suffix hash per
    * token), banded 4 x 30 bits -> ~10^9 band buckets, so expected
    * bucket occupancy stays ~1 up to corpus sizes where the 15-bit
    * banding (32k buckets) has long gone quadratic. hamming <= 3 stays
    * exact by the same pigeonhole; recall-matching the 60-bit
    * hamming<=3 bar (~<=6 of 120) would need 7 bands of 17 bits —
    * bands trade bucket count against the exactness bound, the
    * signature width itself is what buys bucket space.
    */
  val SimWideBandBits = 30

  /** 120-bit SimHash per doc as two longs: (id, sim_lo, sim_hi).
    * `sim_lo` is bit-identical to [[simhashSig]]'s 60-bit signature
    * (same per-token prefix hash); `sim_hi` folds the independent
    * suffix-60 bits of the same md5 digest — one digest per token, two
    * signature halves.
    */
  def simhashWideSig(
      df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = df
      .select(col(id), explode(split(col(text), " ")).as("tok"))
      .select(col(id), expr("md5p60(tok)").as("h1"), expr("md5s60(tok)").as("h2"))
    val bitAggs =
      (0 until SimBits).map(j =>
        sum(when(expr(s"(shiftright(h1, $j) & 1) = 1"), 1).otherwise(-1)).as(s"s$j")) ++
      (0 until SimBits).map(j =>
        sum(when(expr(s"(shiftright(h2, $j) & 1) = 1"), 1).otherwise(-1)).as(s"t$j"))
    def combine(p: String) = (0 until SimBits)
      .map(j => s"(CASE WHEN $p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    toks
      .groupBy(col(id))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .selectExpr(id,
        s"CAST(${combine("s")} AS BIGINT) AS sim_lo",
        s"CAST(${combine("t")} AS BIGINT) AS sim_hi")
  }

  /** Near-dup pairs at 120-bit hamming <= `maxHamming` (< 4 for the
    * 4-band pigeonhole to stay exact): candidates from an equality join
    * on one of four 30-bit bands, then the two-word hamming verify.
    * Output: (id_a, id_b, hamming).
    */
  def simhashWidePairs(
      df: DataFrame, id: String = "doc_id", text: String = "text",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      s"hamming <= $maxHamming needs > $maxHamming bands for exactness")
    val m = (1L << SimWideBandBits) - 1
    val sig = simhashWideSig(df, id, text)
    val banded = sig.select(
      col(id), col("sim_lo"), col("sim_hi"),
      posexplode(expr(
        s"array(sim_lo & $m, shiftright(sim_lo, $SimWideBandBits)," +
          s" sim_hi & $m, shiftright(sim_hi, $SimWideBandBits))"))
        .as(Seq("band_id", "band_val")))
    val a = banded.select(
      col(id).as("id_a"), col("sim_lo").as("lo_a"), col("sim_hi").as("hi_a"),
      col("band_id"), col("band_val"))
    val b = banded.select(
      col(id).as("id_b"), col("sim_lo").as("lo_b"), col("sim_hi").as("hi_b"),
      col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
      .distinct()
      .withColumn("hamming",
        expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
