package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) over a keyed count
  * frame: `d` hash rows x `w` buckets, point estimate = min over rows of
  * the bucket total. Companion to [[HeavyHitters]] (Misra-Gries keeps the
  * top-k identities; Count-Min answers arbitrary point queries).
  *
  * Unlike most sketches this one is DETERMINISTIC here: the row hashes are
  * md5-derived (the shared `md5p60` construction), so estimates are
  * cross-engine reproducible and the operator carries a full DuckDB oracle
  * (`q_countmin`) on top of the guarantee spec (`CountMinSpec`).
  *
  * Scale shape (100 TB audit): callers aggregate exact per-key counts
  * first (one map-side-combined groupBy whose output is vocab-bounded,
  * not corpus-bounded); the sketch is then an O(d*w)-row agg over that
  * frame, mergeable by bucket-wise sum (the merge algebra is pinned by
  * `CountMinSpec`), and estimates broadcast-join the tiny sketch — the
  * corpus is never re-scanned or shuffled.
  */
object CountMin {

  /** Per-row-occurrence form: explode a raw key column into exact counts
    * first, then sketch. Provided for callers that haven't counted yet.
    */
  def sketch(rows: DataFrame, keyCol: String, d: Int, w: Int): DataFrame =
    sketchFromCounts(
      rows.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt")),
      keyCol, "cnt", d, w)

  /** Build the (i, bucket, cnt) sketch from exact per-key counts. The
    * hash of key `k` in row `i` is `md5p60(i ':' k) % w`.
    */
  def sketchFromCounts(
      counts: DataFrame, keyCol: String, cntCol: String,
      d: Int, w: Int): DataFrame =
    counts
      .select(col(keyCol).cast("string").as("k"), col(cntCol).as("c"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .groupBy(col("i"),
        expr(s"md5p60(concat(cast(i as string), ':', k)) % $w").as("bucket"))
      .agg(sum(col("c")).as("cnt"))

  /** Point-estimate every row of `keys` (which must not already carry
    * `i` / `bucket` / `cnt` columns): returns `keys` plus `est_cnt`.
    * The sketch is broadcast (d*w rows); grouping keys are the caller's
    * columns, so passthrough attributes ride along without a re-join.
    */
  def estimates(
      sketch: DataFrame, keys: DataFrame, keyCol: String,
      d: Int, w: Int): DataFrame = {
    val gcols = keys.columns.toSeq.map(col)
    keys
      .withColumn("i", explode(sequence(lit(0), lit(d - 1))))
      .withColumn("bucket",
        expr(s"md5p60(concat(cast(i as string), ':', cast($keyCol as string))) % $w"))
      .join(broadcast(sketch), Seq("i", "bucket"))
      .groupBy(gcols: _*)
      .agg(min(col("cnt")).as("est_cnt"))
  }
}
