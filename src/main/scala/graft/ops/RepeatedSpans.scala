package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repeated-substring detection over a corpus — the neighbor scan on
  * the [[SuffixArray]] (Lee et al. 2021): any substring that occurs
  * twice anywhere in the corpus makes its two occurrences ADJACENT
  * somewhere in suffix order, so scanning consecutive suffix pairs and
  * keeping those with a long common prefix finds every repeated span of
  * length >= minLen (within one doc or across docs) without comparing
  * all pairs.
  *
  * Output: one row per adjacent suffix pair with common prefix >=
  * `minLen` — (doc_a, pos_a, doc_b, pos_b, span_len, span), span_len
  * capped at `cap` (a truncated REPORT of an arbitrarily long repeat,
  * the way dedup pipelines consume it).
  *
  * Scale shape: the suffix sort is [[SuffixArray.build]]; adjacency in
  * the total (rank, id, pos) order is a distributed lead() — range-sort
  * + in-partition sliding pairs, with partition-boundary pairs stitched
  * through a #partitions-row collect of per-partition FIRST rows
  * (metadata, not data). The LCP is row-local: pairs pre-filter on
  * equality of the first `minLen` chars (only those can qualify), then
  * an exact bounded fold over `cap` positions — never a scan of the
  * full suffix.
  */
object RepeatedSpans {

  /** Find repeated spans in `docs` (columns: id, text). (r8 kept a
    * module-level memo of this frame — `findShared` — so q_dup_coverage
    * and q_sa_dedup shared one suffix sort per session; removed in r9:
    * a cross-query result memo keyed on the input identity is the
    * precomputation the bench contract forbids. Every invocation
    * computes from its inputs.)
    */
  def find(docs: DataFrame, minLen: Int = 16, cap: Int = 64): DataFrame = {
    require(minLen >= 1 && cap >= minLen)
    val spark = docs.sparkSession
    import spark.implicits._
    // local tail (SaLocal): when the corpus arrays fit the LocalTail
    // budget, the sort AND the neighbor scan run driver-local
    // off one docs collect — no distributed rounds, no pairs x texts
    // joins. Exact contract replay; SaLocalSpec pins it.
    val base = docs.select(col("id"), col("text"))
      .filter(length(col("text")) >= 1)
    val nChars = base
      .agg(coalesce(sum(length(col("text")).cast("long")), lit(0L)))
      .head().getLong(0)
    if (nChars > 0 &&
        LocalTail.fits(spark, "repeated_spans", SaLocal.charge(nChars, 0L)))
      return SaLocal.spans(
        base.collect(), base.schema.fields(0).dataType, minLen, cap, spark)
    val (sa, n) = SuffixArray.buildWithCount(docs) // (id, pos, sfx_rank)
    val p = Iterate.width(spark, n)
    val sorted = sa
      .repartitionByRange(p, col("sfx_rank"), col("id"), col("pos"))
      .sortWithinPartitions(col("sfx_rank"), col("id"), col("pos"))
      .select(col("id"), col("pos"))
    val rdd = sorted.rdd.map(r => (r.getLong(0), r.getLong(1)))
    rdd.persist()
    // first row of every nonempty partition, for boundary stitching
    val firsts = rdd
      .mapPartitionsWithIndex((i, it) =>
        if (it.hasNext) Iterator((i, it.next())) else Iterator.empty)
      .collect().sortBy(_._1)
    val nextFirst: Map[Int, (Long, Long)] = firsts.map(_._1).map { i =>
      i -> firsts.find(_._1 > i).map(_._2).orNull
    }.toMap
    val bc = spark.sparkContext.broadcast(nextFirst)
    val pairs = rdd.mapPartitionsWithIndex { (i, it) =>
      val boundary = bc.value.getOrElse(i, null)
      var prev: (Long, Long) = null
      val within = it.flatMap { cur =>
        val out = if (prev == null) Iterator.empty
          else Iterator((prev._1, prev._2, cur._1, cur._2))
        prev = cur
        out
      }
      within ++ (if (boundary == null) Iterator.empty
        else Iterator.single(null).flatMap { _ =>
          // runs after `within` is exhausted, so prev = this partition's
          // last row; pair it with the next partition's first row
          if (prev == null) Iterator.empty
          else Iterator((prev._1, prev._2, boundary._1, boundary._2))
        })
    }.toDF("id_a", "pos_a", "id_b", "pos_b")

    val ta = docs.select(col("id").as("id_a"), col("text").as("text_a"))
    val tb = docs.select(col("id").as("id_b"), col("text").as("text_b"))
    val out = pairs
      .join(ta, "id_a").join(tb, "id_b")
      .withColumn("a64",
        expr(s"substring(text_a, CAST(pos_a AS INT), $cap)"))
      .withColumn("b64",
        expr(s"substring(text_b, CAST(pos_b AS INT), $cap)"))
      .filter(expr(s"substring(a64, 1, $minLen) = substring(b64, 1, $minLen)" +
        s" AND length(a64) >= $minLen"))
      .withColumn("span_len",
        expr(s"""aggregate(sequence(1, $cap),
                |  named_struct('n', 0L, 'alive', true),
                |  (acc, i) -> IF(acc.alive
                |      AND substring(a64, i, 1) = substring(b64, i, 1)
                |      AND substring(a64, i, 1) <> '',
                |    named_struct('n', acc.n + 1L, 'alive', true),
                |    named_struct('n', acc.n, 'alive', false)),
                |  acc -> acc.n)""".stripMargin))
      .filter(col("span_len") >= minLen)
      .select(col("id_a").as("doc_a"), col("pos_a"),
        col("id_b").as("doc_b"), col("pos_b"), col("span_len"),
        expr("substring(a64, 1, CAST(span_len AS INT))").as("span"))
    val mat = Iterate.materialize(out)
    rdd.unpersist()
    // the suffix-array checkpoint is fully consumed once `mat` exists —
    // without this it would pin |suffixes| rows for the session
    sa.unpersist()
    mat
  }
}
