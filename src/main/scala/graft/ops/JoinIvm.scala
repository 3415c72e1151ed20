package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental maintenance of an aggregated JOIN view — the delta-join
  * classic ([[Rollup]]'s harder sibling: rollups need only mergeable
  * per-key state, a join view must also retain the base relations,
  * because a new left row can match arbitrarily old right rows).
  *
  * Per ingest step with deltas (ΔA, ΔB), the view delta is
  *
  *   ΔV = ΔA ⋈ (B_acc ∪ ΔB)  ∪  A_acc ⋈ ΔB
  *
  * (the standard counting-algorithm decomposition: every new joined
  * row contains a new A row or a new B row, and ΔA⋈ΔB is counted
  * exactly once by the first term), summarized alone and folded into
  * the stored per-key summary — history is never re-joined. The
  * `q_join_ivm` oracle states the full recompute (one join + GROUP BY
  * over everything); the engine runs the incremental path, so the
  * hash-match PROVES the decomposition.
  *
  * Scale shape: each step's joins are DELTA-driven — a batch-sized
  * side against the accumulated co-partitioned other side (at scale
  * the accumulators live bucketed by the join key, so only the delta
  * shuffles); the stored view is key-cardinality-sized; summaries keep
  * only mergeable state (count + exact integer sum).
  */
object JoinIvm {

  /** Maintain `V = SELECT viewKeys, count(*), sum(value) FROM A JOIN B
    * USING (key)` through `steps` of (ΔA, ΔB) delta batches (either
    * side may be an empty frame). `value` must be an integer-exact
    * Column over the joined row. Returns the final view
    * (viewKeys..., n, total).
    */
  def maintain(
      steps: Seq[(DataFrame, DataFrame)],
      key: String, viewKeys: Seq[String], value: Column): DataFrame = {
    require(steps.nonEmpty)
    def summarize(joined: DataFrame): DataFrame =
      joined.groupBy(viewKeys.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(value).as("total"))
    def mergeViews(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b)
        .groupBy(viewKeys.map(col): _*)
        .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))

    var aAcc = Iterate.materialize(steps.head._1.limit(0))
    var bAcc = Iterate.materialize(steps.head._2.limit(0))
    var view: Option[DataFrame] = None
    steps.foreach { case (dA0, dB0) =>
      val dA = Iterate.materialize(dA0)
      val dB = Iterate.materialize(dB0)
      val bNew = Iterate.materialize(bAcc.unionByName(dB))
      // ΔA ⋈ (B_acc ∪ ΔB) ∪ A_acc ⋈ ΔB — each new joined row exactly once
      val deltaJoined = dA.join(bNew, key)
        .unionByName(aAcc.join(dB, key))
      val deltaView = summarize(deltaJoined)
      view = Some(Iterate.materialize(view.fold(deltaView)(v => mergeViews(v, deltaView))))
      aAcc = Iterate.materialize(aAcc.unionByName(dA))
      bAcc = bNew
    }
    view.get
  }
}
