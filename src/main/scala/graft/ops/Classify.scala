package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Num

/** Embedding-space classification over a labelled corpus — the eval side
  * of the similarity-search story (the `embeddings` table carries a
  * `label` column for exactly this): nearest-centroid prediction (the
  * classic "linear probe" sanity check of an embedding space) and
  * majority-vote kNN classification over any neighbour frame the ANN
  * operators produce.
  *
  * Scale shape: centroids are ONE posexplode aggregation (labels x dim
  * groups — index-metadata-sized) and assignment is [[IvfIndex.assign]]'s
  * row-local argmax over the collected centroids, so the corpus is never
  * shuffled; the kNN vote joins the (queries x k) neighbour frame
  * BROADCAST against the corpus-sized label scan, then aggregates
  * queries-sized frames only.
  *
  * Determinism: centroid means are [[Num]] fixed-point exact
  * (summation-order independent), assignment ties break (cosine DESC,
  * label ASC), vote ties break on the smaller label — all replayed
  * exactly by the DuckDB oracles of q_centroid_classify / q_knn_classify.
  */
object Classify {

  /** Per-label centroids as an [[IvfIndex.assign]]-compatible codebook:
    * (cent_id = label, cent_emb = fixed-point exact per-component mean).
    */
  def centroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label").cast("long").as("cent_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("cent_id"), col("pos"))
      .agg((Num.dsum(col("x")) / count(lit(1))).as("val"))
      .groupBy(col("cent_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, val))), s -> s.val)")
        .as("cent_emb"))

  /** Nearest-centroid prediction for every corpus row:
    * (vec_id, true_label, pred_label). Ties -> lowest label.
    */
  def nearestCentroid(emb: DataFrame): DataFrame = {
    IvfIndex.assign(emb, centroids(emb))
      .select(col("vec_id"), col("label").as("true_label"),
        col("cent_id").cast("int").as("pred_label"))
  }

  /** Majority-vote label per query from a (q_id, c_id) neighbour frame
    * (any of the ANN search outputs) and a (vec_id, label) corpus:
    * (q_id, pred_label, votes). Vote ties -> lowest label.
    *
    * The argmax travels as a partial-aggregable max(struct(votes,
    * -label)) — never a per-query window, and the only corpus-sized
    * input (the label scan) joins against the broadcast neighbour frame.
    */
  def knnVote(neighbors: DataFrame, labels: DataFrame): DataFrame =
    labels.select(col("vec_id").as("c_id"), col("label"))
      .join(broadcast(neighbors.select(col("q_id"), col("c_id"))), "c_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("m"))
      .select(col("q_id"), (col("m.nl") * -1).cast("int").as("pred_label"),
        col("m.votes").as("votes"))
}
