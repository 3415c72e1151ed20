package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter grouping keys.
  *
  * A plain `groupBy(k)` hash-partitions every row of a hot key into ONE
  * reducer — at 100 TB a single skewed symbol/user can stall the stage.
  * AQE's skew handling only splits *join* partitions; for aggregations the
  * standard fix is salting: phase 1 aggregates on (key, salt) spreading the
  * hot key over `salts` reducers, phase 2 merges the per-salt partials.
  * Only decomposable aggregates (sum/count/min/max, and avg as sum+count)
  * can be salted this way; the helper exposes exactly those.
  *
  * The salt must be deterministic for retry-safety (a task retry must
  * re-salt a row identically), so it hashes the whole input row PLUS the
  * input partition id rather than using rand() or a row index
  * (monotonically_increasing_id is only stable when partition-local row
  * ORDER is stable; spark_partition_id is stable whenever the
  * partitioning itself is deterministic, which every upstream shape here
  * — file scan or hash shuffle — guarantees).
  *
  * Identical-duplicate-row skew: mixing in the partition id spreads
  * identical rows of a hot key across as many salt buckets as they span
  * input partitions. Copies WITHIN one input partition still share a
  * bucket — and that residue is free, because phase 1's map-side partial
  * aggregation collapses them into a single (key, salt) state inside
  * that task before anything shuffles; no reducer ever sees the
  * duplicate fan-in.
  */
object Skew {

  final case class SaltedAgg(alias: String, partial: Column => Column,
      merge: Column => Column)

  val sumAgg: String => SaltedAgg =
    c => SaltedAgg(c, sum, sum)
  val minAgg: String => SaltedAgg =
    c => SaltedAgg(c, min, min)
  val maxAgg: String => SaltedAgg =
    c => SaltedAgg(c, max, max)

  /** Two-phase salted aggregation.
    *
    * @param df     input
    * @param keys   grouping key columns
    * @param salts  salt fan-out (≈ number of reducers a hot key spreads to)
    * @param aggs   (inputCol -> SaltedAgg) pairs; output column = alias
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      salts: Int,
      aggs: Seq[(String, SaltedAgg)]): DataFrame = {
    require(salts > 0)
    val salted = df.withColumn(
      "__salt",
      pmod(hash((df.columns.toSeq.map(col) :+ spark_partition_id()): _*), lit(salts)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(
        aggs.head._2.partial(col(aggs.head._1)).as(s"__p_${aggs.head._2.alias}"),
        aggs.tail.map { case (c, a) => a.partial(col(c)).as(s"__p_${a.alias}") }: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(
        aggs.head._2.merge(col(s"__p_${aggs.head._2.alias}"))
          .as(aggs.head._2.alias),
        aggs.tail.map { case (_, a) =>
          a.merge(col(s"__p_${a.alias}")).as(a.alias)
        }: _*)
  }

  /** Hot-key replicated equi join — the salting fix for JOIN skew when
    * the dim's hot rows are too many to broadcast outright (AQE's
    * skew-join split only fires on sort-merge partitions it can see at
    * runtime; this shapes the plan so no hot partition ever exists).
    *
    * Hot keys (fact-side frequency ≥ `hotThreshold`) are detected with
    * one map-side-combining count — itself skew-safe, since partial
    * aggregation collapses a hot key inside each task before the
    * shuffle — and the resulting key list is tiny by construction
    * (≤ |fact| / hotThreshold keys), so it broadcasts into both split
    * predicates. Fact rows of a hot key get a deterministic salt in
    * [0, salts); dim rows of a hot key are replicated once per salt
    * (explode over a `salts`-element sequence — multiplicity preserved,
    * so a dim key with d rows still matches each fact row d times).
    * Cold rows on both sides carry salt 0 and join exactly as before.
    * ONE uniform equi join on (key, salt) — a hot key's fan-in spreads
    * over `salts` reducers instead of stalling one.
    *
    * The salt hashes the whole fact row PLUS the input partition id
    * (the [[saltedAgg]] retry-safety rule: no rand(), stable under task
    * retries; identical copies spread across as many salts as they span
    * input partitions).
    *
    * Result: inner join, fact columns then dim columns (the join key
    * once, from the fact side). Column names must be disjoint apart
    * from the key.
    */
  def skewJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      hotThreshold: Long,
      salts: Int = 16): DataFrame = {
    require(salts > 0 && hotThreshold > 0)
    val hot = fact.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= hotThreshold)
      .select(col(key).as("__hot_key"))
    val fSalted = fact
      .join(broadcast(hot), fact(key) === col("__hot_key"), "left")
      .withColumn("__salt",
        when(col("__hot_key").isNull, lit(0)).otherwise(
          pmod(hash((fact.columns.toSeq.map(fact(_)) :+ spark_partition_id()): _*),
            lit(salts))))
      .drop("__hot_key")
    val dSalted = dim
      .join(broadcast(hot), dim(key) === col("__hot_key"), "left")
      .withColumn("__salt",
        explode(when(col("__hot_key").isNull, array(lit(0)))
          .otherwise(expr(s"sequence(0, ${salts - 1})"))))
      .drop("__hot_key")
      .withColumnRenamed(key, "__dim_key")
    fSalted
      .join(dSalted,
        fSalted(key) === dSalted("__dim_key") &&
          fSalted("__salt") === dSalted("__salt"))
      .drop("__salt").drop("__dim_key")
  }
}
