package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed batch perceptron over hashed bag-of-words features — the
  * quality-classifier training loop of a corpus-curation pipeline
  * (fastText-style: hash tokens into a fixed feature space, learn a
  * linear separator, score every document), expressed so the whole
  * training run is exact integer arithmetic and therefore bit-identical
  * across engines and at any parallelism.
  *
  * Reference scope: extension surface (the reference's only "model" is
  * the out-of-scope LSTM — AI-LSTM/LSTM_Stock_Market_Prediction.py); this
  * is the classifier-training counterpart to the inference-side
  * [[NaiveBayes]] and [[Classify]].
  *
  * Algorithm (batch = "perceptron with synchronous updates"): features
  * x_d = token counts hashed into `dims` buckets (md5p60 % dims),
  * labels y in {+1, -1}. Round r:
  * {{{
  *   margin(doc) = sum_dim cnt * w_(r-1)(dim)        // integer dot
  *   misclassified = { doc : y * margin <= 0 }
  *   w_r(dim) = w_(r-1)(dim) + sum_{misclassified} y * cnt
  * }}}
  * Every quantity is an exact int64; there is no learning rate (the
  * classic perceptron update) and no float anywhere, so the DuckDB
  * oracle unrolls the identical recurrence.
  *
  * Scale shape: featurization is one explode + one groupBy (the same
  * token pass the TF-IDF operator makes); each round is (a) a broadcast
  * join of the d-row weight vector onto the feature table — the model is
  * index metadata, bounded by `dims`, NEVER by the corpus — (b) one
  * partial-aggregable groupBy(doc) sum for margins, (c) one
  * partial-aggregable groupBy(dim) sum for the update. Rounds are a
  * fixed small constant. No driver-side data motion at all: the weight
  * frame stays a (tiny) distributed relation across rounds, checkpointed
  * per round to keep the plan flat.
  */
object Perceptron {

  /** Train `rounds` batch-perceptron rounds over `docs` (columns: id,
    * text, y in {+1,-1}) and score every document with the final
    * weights. Output: (id, y, margin_fp, pred) where `margin_fp` is the
    * exact integer final-round margin and pred in {+1, -1}
    * (sign(margin), zero mapped to -1 exactly like the training rule).
    */
  /** Hashed token-count features (id, y, dim, cnt), checkpointed. */
  private def featurize(docs: DataFrame, dims: Int): DataFrame =
    Iterate.materialize(
      docs.select(col("id"), col("y"),
        explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("id"), col("y"),
          pmod(expr("md5p60(tok)"), lit(dims)).as("dim"))
        .groupBy(col("id"), col("y"), col("dim"))
        .agg(count(lit(1)).as("cnt")))

  private def weights(feat: DataFrame, dims: Int, rounds: Int): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    // dim is LongType (pmod of the 60-bit hash) — build w with the same
    // key type so the per-round join needs no implicit cast
    var w = (0L until dims.toLong).toDF("dim").withColumn("w", lit(0L))
    for (_ <- 1 to rounds) {
      val margins = feat.join(broadcast(w), "dim")
        .groupBy(col("id"), col("y"))
        .agg(sum(col("cnt") * col("w")).as("m"))
      val upd = margins.filter(col("y") * col("m") <= 0)
        .select(col("id").as("mid"), col("y").as("my"))
        .join(feat, col("mid") === feat("id"))
        .groupBy(col("dim"))
        .agg(sum(col("my") * col("cnt")).as("u"))
      w = IvfIndex.materialize(
        w.join(upd, Seq("dim"), "left")
          .select(col("dim"),
            (col("w") + coalesce(col("u"), lit(0L))).as("w")))
    }
    w
  }

  def trainPredict(
      docs: DataFrame, dims: Int = 64, rounds: Int = 3): DataFrame = {
    require(dims >= 2 && rounds >= 1)
    // the feature table is read 2x/round plus once for scoring — built
    // ONCE here and shared by training and the final pass
    val feat = featurize(docs, dims)
    val w = weights(feat, dims, rounds)
    feat.join(broadcast(w), "dim")
      .groupBy(col("id"), col("y"))
      .agg(sum(col("cnt") * col("w")).as("margin_fp"))
      .select(col("id"), col("y"), col("margin_fp"),
        when(col("margin_fp") > 0, lit(1)).otherwise(lit(-1)).as("pred"))
  }

  /** The identical training run as unrolled DuckDB CTEs over a
    * `graft_perc_docs` (id, text, y) relation — the oracle twin of
    * [[trainPredict]], kept adjacent so the recurrence cannot drift.
    */
  def oracleSql(dims: Int = 64, rounds: Int = 3): String = {
    val head =
      s"""feat AS MATERIALIZED (
         |  SELECT id, y,
         |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $dims AS dim,
         |    count(*) AS cnt
         |  FROM (SELECT id, y, unnest(string_split(text, ' ')) AS tok
         |        FROM graft_perc_docs)
         |  WHERE tok <> ''
         |  GROUP BY 1, 2, 3
         |), w0 AS (
         |  SELECT CAST(t.d AS BIGINT) AS dim, CAST(0 AS BIGINT) AS w
         |  FROM range(0, $dims) t(d)
         |)""".stripMargin
    val stepCtes = (1 to rounds).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT id, y, CAST(sum(cnt * w) AS BIGINT) AS m
         |  FROM feat JOIN w${r - 1} USING (dim) GROUP BY id, y
         |), u$r AS MATERIALIZED (
         |  SELECT dim, CAST(sum(m$r.y * cnt) AS BIGINT) AS u
         |  FROM m$r JOIN feat ON feat.id = m$r.id
         |  WHERE m$r.y * m$r.m <= 0 GROUP BY dim
         |), w$r AS MATERIALIZED (
         |  SELECT w${r - 1}.dim, w${r - 1}.w + COALESCE(u$r.u, 0) AS w
         |  FROM w${r - 1} LEFT JOIN u$r ON u$r.dim = w${r - 1}.dim
         |)""".stripMargin
    }
    (head +: stepCtes).mkString(",\n") +
      s"""
         |SELECT id, y, CAST(sum(cnt * w) AS BIGINT) AS margin_fp,
         |  CASE WHEN CAST(sum(cnt * w) AS BIGINT) > 0 THEN 1 ELSE -1 END AS pred
         |FROM feat JOIN w$rounds USING (dim)
         |GROUP BY id, y""".stripMargin
  }
}
