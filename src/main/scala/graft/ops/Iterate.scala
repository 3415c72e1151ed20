package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared iteration plumbing for the loop-structured operators
  * (PageRank, HITS, k-core, label propagation, connected components,
  * perceptron, random walks, PCA): one checkpoint policy, one
  * checkpoint-cadence implementation — a change to either lands in
  * every operator at once instead of eight hand-copied variants.
  */
private[graft] object Iterate {

  /** Materialize a distributed frame in place: reliable checkpoint when
    * a checkpoint dir is configured (the cluster deployment path), local
    * checkpoint otherwise. NEVER collects — for sqrt(n)-row index
    * metadata that should become a local relation, use
    * [[IvfIndex.materialize]] instead.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Partition width for the frames that cycle inside an iteration:
    * enough partitions to keep ~`rowsPerTask` rows of the LARGEST
    * looping relation per task, never more than the session's shuffle
    * width. At cluster scale the clamp returns the session width
    * unchanged (raise `spark.sql.shuffle.partitions` there, as usual);
    * at toy scale it stops a 10-round loop from paying 32-task
    * scheduling overhead per stage on sub-64k-row frames — the
    * fixed per-round cost is what dominates iterative ops locally.
    */
  def width(spark: org.apache.spark.sql.SparkSession, rows: Long,
      rowsPerTask: Long = 65536L): Int = {
    val nShuffle = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(nShuffle.toLong, (rows + rowsPerTask - 1) / rowsPerTask)).toInt
  }

  /** Run `body` with the session shuffle width scoped to
    * [[width]]`(rows)` (restored on exit, exception-safe). Scoping the
    * AMBIENT width — rather than pinning only the named frames — keeps
    * every in-loop shuffle (groupBy partials, join exchanges) on the
    * same count, so the co-partitioning the loop relies on survives
    * without per-shuffle repartition calls. The results of the loop ops
    * are exact-integer and partition-count-invariant, so the output is
    * bit-identical at any width. Eager materialization must stay inside
    * `body`; frames returned out are expected to be checkpointed (all
    * loop ops do this), so later planning under the restored width
    * cannot re-shuffle them.
    */
  def withWidth[T](spark: org.apache.spark.sql.SparkSession, rows: Long)(
      body: Int => T): T = {
    val p = width(spark, rows)
    val prev = spark.sessionState.conf.numShufflePartitions
    spark.conf.set("spark.sql.shuffle.partitions", p)
    try body(p)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Checkpoint-every-k-rounds bookkeeping: `step` returns the frame the
    * next round should build on (checkpointed on every `every`-th round
    * and on the last, the raw plan otherwise), unpersisting only the
    * previously CHECKPOINTED frame — plans between checkpoints hold no
    * storage.
    */
  final class Cadence(initial: DataFrame, every: Int = 2) {
    require(every >= 1)
    private var lastMat = initial
    def step(i: Int, isLast: Boolean, next: DataFrame): DataFrame =
      if (i % every == 0 || isLast) {
        val m = materialize(next)
        lastMat.unpersist()
        lastMat = m
        m
      } else next
  }

  /** Retention for raw checkpoints that live BEHIND lazily-derived
    * views (the AlsRank1/Hits pattern: each half-step checkpoints its
    * grouped sum and hands out a lazy max-normalized view over it):
    * `track` each new checkpoint; everything but the newest `keep` is
    * unpersisted — the live views only ever reference the most recent
    * checkpoint of each side, so keep = 2 covers an alternating pair.
    */
  final class RawQueue(keep: Int = 2) {
    require(keep >= 1)
    private val live = scala.collection.mutable.Queue.empty[DataFrame]

    /** CALLER CONTRACT (ordering, not just counting): `track(raw)` may
      * evict the oldest tracked checkpoint, and evicting a
      * localCheckpoint'd frame that a still-live LAZY view references
      * fails at runtime (blocks dropped under a truncated lineage). So
      * call `track` only once every consumer of the view over the
      * `keep`-th-previous same-side checkpoint has been MATERIALIZED —
      * i.e. for the alternating-pair pattern (keep = 2): checkpoint
      * side A, materialize the next side-B checkpoint FROM A's view,
      * then track A's replacement. Hits/AlsRank1 follow this order;
      * new callers must too, the class cannot detect misuse.
      */
    def track(raw: DataFrame): Unit = {
      live.enqueue(raw)
      while (live.size > keep) live.dequeue().unpersist()
    }
  }
}
