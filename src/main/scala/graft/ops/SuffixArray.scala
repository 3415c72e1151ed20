package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generalized suffix array over a document corpus by parallel prefix
  * doubling (Manber/Myers 1990) — the index behind exact
  * substring-level training-data dedup (Lee et al. 2021, "Deduplicating
  * Training Data Makes Language Models Better": repeated spans are
  * adjacent in suffix order, so corpus-scale repeated-substring
  * detection is a suffix sort plus a neighbor scan).
  *
  * Rank semantics: `sfx_rank(id, pos)` = DENSE rank of the suffix
  * `text[pos..]` in the corpus-wide lexicographic order — equal
  * suffixes (duplicate documents, shared tails) share a rank. Suffixes
  * never cross document boundaries, and a proper prefix sorts BEFORE
  * any extension ("ab" < "abc"), matching plain string comparison.
  *
  * Algorithm: O(log maxlen) rounds. Round state is (id, pos, r) with r
  * the dense rank of the length-h prefix of each suffix; one self
  * equi-join on (id, pos+h) pairs each rank with the rank h positions
  * ahead (0 beyond the end — the before-everything sentinel that makes
  * prefixes sort first), and the pairs re-rank densely. Convergence:
  * when a round's distinct-pair count equals the previous rank-class
  * count the refinement is a fixed point (r_2h is a function of r_h
  * pairs), so later rounds cannot split further — duplicate suffixes
  * keep equal ranks forever, which is exactly the dense contract.
  *
  * Scale shape: every step is an equi-join / distinct / range-sort —
  * no window with an empty partitionSpec anywhere (a global
  * single-partition window is precisely what this op exists to avoid).
  * Dense rank assignment over the distinct pair set is the one
  * RDD-assisted step: repartitionByRange + in-partition sort, then
  * ordinals from per-partition counts (a #partitions-row collect —
  * metadata, not data). Equal keys land in one range partition, so the
  * assignment is deterministic at any width. The per-round driver
  * values (pair counts) size the convergence check only — structural,
  * not data-plane (the Scc/BPE precedent).
  */
object SuffixArray {

  /** Dense-rank assignment in place: range-sort `paired` (id, pos, r1,
    * r2) by (r1, r2), then assign each row the dense rank of its pair —
    * one pass collects per-partition (first pair, last pair, distinct
    * count) (a #partitions-row metadata collect), the driver chains the
    * rank offsets (merging groups that straddle a partition boundary,
    * so correctness does not even rely on the range partitioner keeping
    * equal keys together), a second pass assigns. Returns ((id, pos,
    * r = dense rank), total distinct pairs). Avoids the
    * distinct + rank + join-back round-trip: one shuffle per round
    * instead of three.
    */
  private def rankAssign(
      paired: DataFrame, width: Int): (DataFrame, Long) = {
    val spark = paired.sparkSession
    import spark.implicits._
    val sorted = paired
      .repartitionByRange(width, col("r1"), col("r2"))
      .sortWithinPartitions(col("r1"), col("r2"))
      .select(col("id"), col("pos"), col("r1"), col("r2"))
    val rdd = sorted.rdd
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rdd.persist()
    val infos = rdd.mapPartitionsWithIndex { (i, it) =>
      var d = 0L
      var first: (Long, Long) = null
      var last: (Long, Long) = null
      it.foreach { case (_, _, a, b) =>
        if (first == null) first = (a, b)
        if (last == null || last != ((a, b))) d += 1
        last = (a, b)
      }
      if (first == null) Iterator.empty else Iterator((i, d, first, last))
    }.collect().sortBy(_._1)
    var off = 0L
    var prevLast: (Long, Long) = null
    val offsets = Map.newBuilder[Int, Long]
    infos.foreach { case (i, d, first, last) =>
      val o = off - (if (prevLast != null && prevLast == first) 1L else 0L)
      offsets += i -> o
      off = o + d
      prevLast = last
    }
    val total = off
    val bc = spark.sparkContext.broadcast(offsets.result())
    val ranked = rdd.mapPartitionsWithIndex { (i, it) =>
      var rank = bc.value.getOrElse(i, 0L)
      var last: (Long, Long) = null
      it.map { case (id, pos, a, b) =>
        if (last == null || last != ((a, b))) { rank += 1; last = (a, b) }
        (id, pos, rank)
      }
    }
    val out = Iterate.materialize(ranked.toDF("id", "pos", "r"))
    rdd.unpersist()
    (out, total)
  }

  /** Build the suffix array of `docs` (columns: id, text; empty texts
    * contribute nothing). Output: (id, pos, sfx_rank) — pos 1-based,
    * one row per suffix, sfx_rank the corpus-wide dense rank.
    */
  def build(docs: DataFrame): DataFrame = buildWithCount(docs)._1

  /** [[build]] plus the suffix count (one driver scalar the builder
    * already knows — callers like [[RepeatedSpans]] need it to size
    * their own stages and should not re-scan 3.7M rows to recount).
    * The returned frame is the loop's own checkpoint (projected), so
    * `unpersist()` on it releases the storage when a caller derives
    * and materializes something else from it.
    */
  def buildWithCount(docs: DataFrame): (DataFrame, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col("id"), col("text"))
      .filter(length(col("text")) >= 1)
    // ONE stats pass: max doc length (sizes the doubling loop) and the
    // total char count = suffix count (sizes the shuffle width)
    val (maxLen, nSfx) = base
      .agg(coalesce(max(length(col("text"))), lit(0)),
        coalesce(sum(length(col("text")).cast("long")), lit(0L)))
      .as[(Int, Long)].head()
    // the doc table often arrives as ONE scan task (a single small
    // parquet file); the 300x explode fan-out, the packed-seed
    // projection and the alphabet pass would all run single-task on it
    // — spread the docs first (a docs-sized shuffle, cheap)
    val baseP = base.repartition(Iterate.width(spark, nSfx))
    val sfxCh = baseP
      .select(col("id"), col("text"),
        explode(sequence(lit(1), length(col("text")))).as("pos"))
      .select(col("id"), col("text"), col("pos").cast("long").as("pos"))
    if (maxLen == 0) {
      return (sfxCh.select(col("id"), col("pos"), lit(0L).as("sfx_rank")),
        0L)
    }
    // local tail (SaLocal, guide §1.2): when the corpus arrays plus one
    // output row per suffix fit the LocalTail budget the whole doubling
    // runs on driver int arrays — the rank is a pure function of the
    // corpus (dense rank in lexicographic suffix order), so any correct
    // algorithm is exact; SaLocalSpec pins local == distributed, the
    // string-sorting DuckDB oracle re-verifies end to end.
    val idType = base.schema.fields(0).dataType
    if (LocalTail.fits(spark, "suffix_array", SaLocal.charge(nSfx,
        LocalTail.rowBytes(SaLocal.buildSchema(idType)))))
      return SaLocal.build(base.collect(), idType, spark)
    // the alphabet is bounded (distinct single chars), so the
    // char -> dense-rank map is a literal expression, not a join; it is
    // collected from PER-DOC distinct chars (docs-sized pass), not from
    // an O(pos) substring per suffix row
    val alphabet = baseP
      .select(explode(array_distinct(split(col("text"), ""))).as("ch"))
      .filter(length(col("ch")) === 1)
      .distinct()
      .orderBy(col("ch")).as[String].collect()
    val a1 = alphabet.length + 1L
    val rankMap = typedLit(
      alphabet.zipWithIndex.map { case (c, i) => c -> (i + 1L) }.toMap)
    // r9: pack as many leading characters per rank half as int64 holds
    // (a1^m < 2^62; was fixed at 2) — a small alphabet seeds the loop at
    // prefix length 2m (e.g. m = 9 for ~100 symbols), cutting ~2 full
    // doubling rounds; the horner packing preserves lexicographic order
    // because every char rank < a1 and "" ranks 0 (the before-everything
    // sentinel, so shorter prefixes sort first like string comparison).
    // The 2m chars come off ONE short `pfx` slice per suffix row —
    // substring(text, pos, .) is an O(pos) UTF8 scan, so it must run
    // once per row, not once per packed character.
    val m = {
      var mm = 2
      var pw = BigInt(a1) * a1
      while (mm < 12 && pw * a1 < (BigInt(1) << 62)) { mm += 1; pw *= a1 }
      mm
    }
    def chRank(i: Int) = coalesce(
      element_at(rankMap, substring(col("pfx"), i + 1, 1)), lit(0L))
    def packRank(start: Int): org.apache.spark.sql.Column =
      (start until start + m).map(chRank)
        .reduceLeft((acc, c) => acc * a1 + c)

    Iterate.withWidth(spark, nSfx) { p =>
      val (sfx0, classes0) = rankAssign(
        sfxCh
          .select(col("id"), col("pos"),
            expr(s"substring(text, pos, ${2 * m})").as("pfx"))
          .select(col("id"), col("pos"),
            packRank(0).as("r1"), packRank(m).as("r2")), p)
      var sfx = sfx0
      var classes = classes0
      var h = 2L * m
      var done = classes0 == nSfx // seed may already separate everything
      // pairing each rank with the rank h positions ahead is a per-doc
      // window lead (suffix rows cover every pos 1..len exactly once),
      // NOT a self-join: one exchange per round instead of two, and the
      // per-doc partition is bounded by maxLen at any corpus size
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("pos"))
      while (h < maxLen && !done) {
        val paired = sfx.select(col("id"), col("pos"), col("r").as("r1"),
          coalesce(lead(col("r"), h.toInt).over(wDoc), lit(0L)).as("r2"))
        val (next, total) = rankAssign(paired, p)
        if (total == classes) {
          // fixed point: this round refined nothing (and the relabel is
          // the identity — the old ranks were already dense), so later
          // rounds cannot split further
          next.unpersist()
          done = true
        } else {
          sfx.unpersist()
          sfx = next
          classes = total
          h = h * 2
          // all ranks distinct -> the order is final; the old rule would
          // burn one more full round just to observe zero refinement
          if (classes == nSfx) done = true
        }
      }
      // materialize under the output names and release the loop's last
      // checkpoint: the returned frame is then itself the persisted one,
      // so a caller's unpersist() actually frees the storage (unpersist
      // on a select-VIEW of a checkpoint is a no-op)
      val out = Iterate.materialize(
        sfx.select(col("id"), col("pos"), col("r").as("sfx_rank")))
      sfx.unpersist()
      (out, nSfx)
    }
  }
}
