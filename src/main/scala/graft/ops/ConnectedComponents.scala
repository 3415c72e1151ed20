package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Connected components over an edge list, via the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014). This is the missing
  * piece that turns pairwise near-dup candidates (`NearDup.*Pairs`) into
  * TRANSITIVE duplicate clusters: `dedupByMinhash`'s one-hop min-id rep
  * splits a chain A~B~C into two groups; components collapse it to one.
  *
  * Scale shape: each round is two (groupBy + equi-join) passes over the
  * edge frame — hash-partitioned on node id, no all-pairs products, no
  * driver-side graph. Convergence is O(log n) rounds on real graphs
  * (near-dup clusters, with tiny diameters, converge in 2-3); every
  * round materializes through a checkpoint so the plan stays flat
  * instead of growing with the iteration count (the same pattern as
  * `IvfIndex`'s Lloyd loop).
  *
  * Fault tolerance: if `spark.sparkContext.setCheckpointDir` is set the
  * loop uses reliable checkpoints (the cluster deployment path);
  * otherwise `localCheckpoint` (executor-local blocks — fine for
  * local-mode tests, lost on executor failure).
  *
  * Small graphs: [[LocalTail]] decides, at entry and after every round,
  * when the contraction finishes as a driver-local union-find instead.
  */
object ConnectedComponents {

  /** Large-star: every node connects its strictly-larger neighbors to
    * the minimum of its closed neighborhood.
    */
  private[ops] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v"))
    val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star: edges oriented large→small; every node connects its
    * smaller neighbors (and itself) to its minimum neighbor.
    */
  private[ops] def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** (count, order-independent content hash) — equality across one
    * iteration is the fixpoint test. `bit_xor` over per-edge xxhash64 is
    * order-independent and overflow-free under ANSI mode (the edge frame
    * is distinct, so xor cancellation needs a 2^-64-scale collision);
    * the alternative (set `except`) costs an extra join per round for no
    * practical gain.
    */
  private def signature(df: DataFrame): (Long, Long) = {
    val r = df.agg(
      count(lit(1)),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Driver-local union-find over the collected edge rows — the
    * contraction tail. Output rows are EXACTLY [[run]]'s fixpoint
    * contract: (id, rep = minimum node of the component) for every node
    * present in an edge, so the switch is invisible to every caller.
    */
  private def runLocal(cur: DataFrame): DataFrame = {
    val spark = cur.sparkSession
    val ids = new LocalTail.Interner
    val uf = new LocalTail.UnionFind
    cur.collect().foreach(r => uf.union(ids(r.get(0)), ids(r.get(1))))
    // component representative = minimum member (cmpAny == Spark min),
    // kept at the component's root id
    val root = Array.tabulate(ids.size)(uf.find)
    val rep = new Array[Any](ids.size)
    for (i <- root.indices; r = root(i))
      if (rep(r) == null || LocalTail.cmpAny(ids.node(i), rep(r)) < 0)
        rep(r) = ids.node(i)
    val out = root.indices
      .map(i => org.apache.spark.sql.Row(ids.node(i), rep(root(i))))
    val t = cur.schema.fields(0).dataType
    spark.createDataFrame(out.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", t, nullable = false),
      org.apache.spark.sql.types.StructField("rep", t, nullable = false))))
  }

  /** Component membership for every node present in `edges`:
    * (id, rep) with rep = minimum node id of the component. Nodes that
    * appear in no edge are absent (singletons are the caller's
    * left-join default, see `q_dedup_cc`). Deterministic at any
    * parallelism; throws if `maxIter` rounds don't reach the fixpoint
    * (provably impossible below O(log^2 n) rounds).
    *
    * Hybrid tail: once the live edge frame fits the [[LocalTail]]
    * budget — at entry, or after any contraction round — the
    * remaining rounds collapse into one driver-local union-find
    * ([[runLocal]]), the standard multi-level-contraction endgame. The
    * distributed star rounds still carry anything larger; results are
    * bit-identical either way.
    */
  def run(
      edges: DataFrame, src: String = "src", dst: String = "dst",
      maxIter: Int = 25): DataFrame = {
    var cur = Iterate.materialize(
      edges.select(col(src).as("src"), col(dst).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
    // unsupported id types (decimal/date/short...) disable the tail
    // rather than throw mid-contraction — the star rounds carry them;
    // the signature's edge count is the size measure (no extra pass):
    // the tail holds the edges plus up to two (id, rep) rows per edge
    val rowBytes = LocalTail.rowBytes(cur.schema)
    def fits(n: Long): Boolean =
      LocalTail.orderable(cur.schema.fields(0).dataType) &&
        LocalTail.fits(cur.sparkSession, "connected_components", 3 * n * rowBytes)
    var sig = signature(cur)
    if (fits(sig._1)) {
      val out = runLocal(cur)
      cur.unpersist()
      return out
    }
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = Iterate.materialize(smallStar(largeStar(cur)))
      val nsig = signature(next)
      converged = nsig == sig
      sig = nsig
      cur.unpersist()
      cur = next
      it += 1
      if (!converged && fits(nsig._1)) {
        val out = runLocal(cur)
        cur.unpersist()
        return out
      }
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // at the fixpoint the edges form stars: every non-min node points at
    // its component min, and each min appears only as a dst
    cur.select(col("src").as("id"), col("dst").as("rep"))
      .union(cur.select(col("dst").as("id"), col("dst").as("rep")))
      .groupBy("id").agg(min(col("rep")).as("rep"))
  }
}
