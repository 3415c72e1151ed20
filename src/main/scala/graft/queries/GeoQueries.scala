package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Spatial proximity operators via grid-cell blocking — the planar
  * analogue of the LSH band joins used for near-dup text: bucket points
  * into radius-sized grid cells, expand ONE side to its 3×3 cell
  * neighborhood, equi-join on the cell key, then apply the exact
  * distance predicate. Candidate volume is 9·n·(points per cell), never
  * n² — the standard scalable spatial-join shape (fixed-grid variant of
  * Sedona/Magellan partition joins).
  *
  * Determinism: the synthetic planar coordinates are derived per-row
  * from the shared 60-bit md5 construction (identical in both engines),
  * all distances are exact int64 squared distances, and every pair is
  * produced exactly once (the un-expanded side's cell is unique, so a
  * pair within radius matches on exactly one (cell, neighbor-offset)
  * combination).
  *
  * Scale shape: one 9× row expansion + one shuffle equi-join on the
  * cell key + a hash aggregation for the nearest-neighbor variant. The
  * cell size equals the query radius, so per-cell occupancy — and with
  * it the candidate fan-out — is density-bound, not corpus-bound.
  */
object GeoQueries {

  private val W = 1000000L // world edge: coordinates in [0, W)
  private val R = 10000L   // query radius = grid cell edge

  private def coordSql(axis: String): String =
    s"CAST(concat('0x', substr(md5(concat('$axis:', CAST(c_custkey AS STRING))), 1, 15)) AS BIGINT) % $W"

  private val oracleCells =
    s"""pts AS (
       |  SELECT c_custkey AS id,
       |    ${coordSql("gx")} AS x,
       |    ${coordSql("gy")} AS y
       |  FROM customer
       |),
       |cells AS (SELECT id, x, y, x // $R AS cx, y // $R AS cy FROM pts),
       |offs AS (
       |  SELECT o.dx, p.dy
       |  FROM (VALUES (-1), (0), (1)) o(dx)
       |  CROSS JOIN (VALUES (-1), (0), (1)) p(dy)
       |),
       |cand AS (
       |  SELECT a.id AS cust_a, b.id AS cust_b,
       |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
       |  FROM cells a
       |  JOIN offs ON TRUE
       |  JOIN cells b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
       |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${R * R}
       |)""".stripMargin

  /** Points with derived coords and cell ids (Spark side). */
  private def cells(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    Tables.customer(s, d)
      .select(
        col("c_custkey").as("id"),
        expr(s"md5p60(concat('gx:', CAST(c_custkey AS STRING))) % $W").as("x"),
        expr(s"md5p60(concat('gy:', CAST(c_custkey AS STRING))) % $W").as("y"))
      .withColumn("cx", expr(s"x DIV $R"))
      .withColumn("cy", expr(s"y DIV $R"))
  }

  /** All candidate neighbor pairs (both directions) within radius R:
    * side `a` expanded to its 3×3 cell neighborhood, side `b` joined on
    * its actual (unique) cell — each in-radius pair appears exactly once.
    */
  private def withinR(s: SparkSession, d: String): DataFrame = {
    val pts = cells(s, d)
    val offs = s.range(-1, 2).select(col("id").as("dx"))
      .crossJoin(s.range(-1, 2).select(col("id").as("dy")))
    val a = pts.crossJoin(broadcast(offs))
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("kx"), (col("cy") + col("dy")).as("ky"))
    val b = pts.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    a.join(b, col("kx") === col("cx") && col("ky") === col("cy"))
      .where(d2 <= lit(R * R) && col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), d2.as("dist2"))
  }

  val all: Seq[QueryDef] = Seq(

    // ---- radius self-join: unordered in-radius pairs ----
    QueryDef.sql(
      "q_geo_join",
      s"""WITH $oracleCells
         |SELECT cust_a, cust_b, dist2 FROM cand WHERE cust_a < cust_b""".stripMargin
    ) { (s, d) =>
      withinR(s, d).where(col("id_a") < col("id_b"))
        .select(col("id_a").as("cust_a"), col("id_b").as("cust_b"),
          col("dist2"))
    }.intendsNestedLoop(
      "3x3 neighbor-offset expansion: cross join against a broadcast " +
        "9-row constant offs frame; the candidate join itself is a " +
        "shuffled equi-join on the cell key"),

    // ---- grid nearest-neighbor: argmin over in-radius candidates.
    //      The (dist2, id) argmin travels as ONE int64 `dist2*2^32 + id`
    //      (dist2 <= R^2 = 1e8, ids < 2^32 through any plausible sf, so
    //      the encoding is exact and its min is the lexicographic min;
    //      decode is exact integer div/mod — min_by can't take a
    //      composite key in DuckDB, and min(struct) has no oracle twin) ----
    QueryDef.sql(
      "q_geo_nearest",
      s"""WITH $oracleCells
         |SELECT cust_a AS id,
         |  min(dist2 * 4294967296 + cust_b) // 4294967296 AS nn_dist2,
         |  min(dist2 * 4294967296 + cust_b) % 4294967296 AS nn_id
         |FROM cand WHERE cust_a <> cust_b GROUP BY cust_a""".stripMargin
    ) { (s, d) =>
      withinR(s, d)
        .groupBy(col("id_a").as("id"))
        .agg(min(col("dist2") * lit(4294967296L) + col("id_b")).as("enc"))
        .select(col("id"), expr("enc DIV 4294967296").as("nn_dist2"),
          expr("enc % 4294967296").as("nn_id"))
    }.intendsNestedLoop(
      "same broadcast 9-row offset expansion as q_geo_join")
  )
}
