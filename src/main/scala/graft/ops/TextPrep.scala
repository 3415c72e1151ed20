package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text-preparation column expressions — ONE definition used by
  * both the batch oracle queries (`DataPrepQueries.q_quality_filter`,
  * `q_chunk_docs`) and the streaming document pipeline
  * ([[graft.streaming.DocStream]]), so the two paths cannot drift: the
  * same Catalyst expressions compile into both plans, and the
  * batch≡stream spec pins the agreement end-to-end.
  *
  * CONTRACT: every member operates on a StringType column named `text`
  * in the input frame (the documents-table convention).
  *
  * Everything here is a pure per-row expression — embarrassingly
  * parallel, no shuffle, whole-stage-codegen friendly.
  */
object TextPrep {

  /** Reference stopword list — the single source for every stopword-ratio
    * computation (quality gate here, `q_text_stats` in DataPrepQueries and
    * its DuckDB oracle twin embed the same 7 words).
    */
  val StopWordsSql = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"

  /** Canonical text normalization (the usual pre-dedup cleanup):
    * lowercase, control characters stripped, whitespace runs collapsed
    * to single spaces, ends trimmed. ASCII-exact in both engines (the
    * regex subset and lower() agree; unicode case folding is out of
    * scope for the reference corpus).
    */
  def normalized: Column =
    trim(regexp_replace(
      regexp_replace(lower(col("text")), "[\\x00-\\x1f]", " "),
      "  +", " "))

  def nTokens: Column = size(split(col("text"), " ")).cast("long")

  def stopRatio: Column =
    when(nTokens === 0, 0.0).otherwise(
      expr("size(filter(split(text, ' '), " +
        s"t -> t IN ($StopWordsSql)))").cast("double") / nTokens)

  def punctRatio: Column =
    when(length(col("text")) === 0, 0.0).otherwise(
      length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") /
        length(col("text")))

  def uniqRatio: Column =
    when(nTokens === 0, 0.0).otherwise(
      size(array_distinct(split(col("text"), " "))).cast("double") / nTokens)

  /** Gopher-style keep/drop verdict (reasons as values). */
  def verdict: Column =
    when(nTokens < 5, "too_short")
      .when(nTokens > 10000, "too_long")
      .when(punctRatio > 0.3, "too_much_punct")
      .when(uniqRatio < 0.2, "too_repetitive")
      .otherwise("keep")

  /** Explode the `text` column into overlapping token-window chunks,
    * appending (chunk_id: long, chunk_text: string, n_chunk_tokens: long)
    * to the input columns. n_chunks = ceil((n - size)/stride) + 1 in
    * exact integer math; per-row explode, no shuffle.
    */
  def chunkDocs(df: DataFrame, size: Int, stride: Int): DataFrame = {
    val keep = df.columns.toSeq.map(col)
    df
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__toks")))
      .select(keep ++ Seq(col("__toks"),
        // sequence(0, X) is inclusive: X+1 chunks = ceil((n-size)/stride)+1
        posexplode(expr(
          s"sequence(0, CASE WHEN __n <= $size THEN 0 " +
            s"ELSE (__n - $size + ${stride - 1}) div $stride END)"))
          .as(Seq("__pos", "chunk_id"))): _*)
      .select(keep ++ Seq(
        col("chunk_id").cast("long").as("chunk_id"),
        expr(s"concat_ws(' ', slice(__toks, chunk_id * $stride + 1, $size))")
          .as("chunk_text"),
        expr(s"size(slice(__toks, chunk_id * $stride + 1, $size))").cast("long")
          .as("n_chunk_tokens")): _*)
  }
}
