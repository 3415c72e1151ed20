package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Driver-local tails for the BFS-tier graph operators ([[Bfs]],
  * [[Closeness]], [[Sssp]], [[TemporalReach]]), run on the raw edge rows
  * that the [[LocalTail]] probe collected. Each local recurrence is the
  * op's EXACT set/min algebra (level-synchronous BFS, synchronous
  * Bellman-Ford relaxation, integer harmonic sums), so results are
  * bit-identical to the distributed rounds — `GraphLocalSpec` pins it.
  * Node ids are interned to dense ints (edge endpoints first, then
  * graph-absent seeds, which keep an empty adjacency range) and the
  * adjacency stored CSR-style, so the loops run on primitive arrays.
  */
private[ops] object GraphLocal {

  /** Interned CSR adjacency over collected (src, dst[, payload]) rows
    * plus the seed values (interned after the edge endpoints, so
    * graph-absent seeds are valid node ids with empty ranges).
    */
  private final class Csr(
      rows: Array[Row], seedVals: Array[Any], withPayload: Boolean) {
    private val ids = new LocalTail.Interner
    private val m = rows.length
    private val srcs = new Array[Int](m)
    private val dsts = new Array[Int](m)
    private val pays = if (withPayload) new Array[Long](m) else null
    locally {
      var e = 0
      while (e < m) {
        val r = rows(e)
        srcs(e) = ids(r.get(0))
        dsts(e) = ids(r.get(1))
        if (withPayload) pays(e) = r.get(2).asInstanceOf[Number].longValue
        e += 1
      }
    }
    val seeds: Array[Int] = seedVals.map(ids(_))
    val n: Int = ids.size
    // CSR: off(u)..off(u+1) index into eDst/ePay
    val off: Array[Int] = new Array[Int](n + 1)
    val eDst: Array[Int] = new Array[Int](m)
    val ePay: Array[Long] = if (withPayload) new Array[Long](m) else null
    locally {
      var e = 0
      while (e < m) { off(srcs(e) + 1) += 1; e += 1 }
      var u = 0
      while (u < n) { off(u + 1) += off(u); u += 1 }
      val cur = java.util.Arrays.copyOf(off, n)
      e = 0
      while (e < m) {
        val u = srcs(e)
        eDst(cur(u)) = dsts(e)
        if (withPayload) ePay(cur(u)) = pays(e)
        cur(u) += 1
        e += 1
      }
    }
    def node(i: Int): Any = ids.node(i)
  }

  /** Level-synchronous BFS over a CSR graph from interned seed ids;
    * returns hop per node (-1 = unreached).
    */
  private def bfsHops(g: Csr, seeds: Array[Int], maxHops: Int): Array[Int] = {
    val hop = new Array[Int](g.n)
    java.util.Arrays.fill(hop, -1)
    var frontier = new Array[Int](g.n)
    var fLen = 0
    seeds.foreach { s =>
      if (hop(s) < 0) { hop(s) = 0; frontier(fLen) = s; fLen += 1 }
    }
    var t = 1
    while (t <= maxHops && fLen > 0) {
      val next = new Array[Int](g.n)
      var nLen = 0
      var i = 0
      while (i < fLen) {
        val u = frontier(i)
        var e = g.off(u)
        val end = g.off(u + 1)
        while (e < end) {
          val v = g.eDst(e)
          if (hop(v) < 0) { hop(v) = t; next(nLen) = v; nLen += 1 }
          e += 1
        }
        i += 1
      }
      frontier = next
      fLen = nLen
      t += 1
    }
    hop
  }

  /** [[Bfs]] local tail over the collected (src, dst) rows: expand,
    * LocalTableScan. `seeds` is a one-column frame; node output type
    * follows the seed column.
    */
  def bfs(edges: Array[Row], seeds: DataFrame, maxHops: Int): DataFrame = {
    val spark = seeds.sparkSession
    val g = new Csr(edges,
      seeds.distinct().collect().map(_.get(0)), withPayload = false)
    val hop = bfsHops(g, g.seeds, maxHops)
    val out = new java.util.ArrayList[Row]()
    var i = 0
    while (i < hop.length) {
      if (hop(i) >= 0) out.add(Row(g.node(i), hop(i)))
      i += 1
    }
    spark.createDataFrame(out,
      StructType(Seq(
        StructField("node", seeds.schema.fields(0).dataType),
        StructField("hop", IntegerType, nullable = false))))
  }

  /** [[Closeness]] local tail: per-seed BFS + integer harmonic sums —
    * (node = seed, n_reached, harmonic_fp), exactly [[Closeness.run]]'s
    * aggregate.
    */
  def closeness(
      edges: Array[Row], seeds: DataFrame, maxHops: Int): DataFrame = {
    val spark = seeds.sparkSession
    val seedVals = seeds.distinct().collect().map(_.get(0))
    val g = new Csr(edges, seedVals, withPayload = false)
    val out = new java.util.ArrayList[Row]()
    var k = 0
    while (k < seedVals.length) {
      val hop = bfsHops(g, Array(g.seeds(k)), maxHops)
      var nReached = 0L
      var harmonic = 0L
      var i = 0
      while (i < hop.length) {
        if (hop(i) > 0) { nReached += 1; harmonic += 1000000L / hop(i) }
        i += 1
      }
      out.add(Row(seedVals(k), nReached, harmonic))
      k += 1
    }
    spark.createDataFrame(out,
      StructType(Seq(
        StructField("node", seeds.schema.fields(0).dataType),
        StructField("n_reached", LongType, nullable = false),
        StructField("harmonic_fp", LongType, nullable = false))))
  }

  /** Synchronous relaxation shared by [[Sssp]] (cost = dist + w) and
    * [[TemporalReach]] (cost = edge day, usable only when day >=
    * arr(u)) — `rounds` rounds of
    * next(v) = min(cur(v), min over in-edges of the candidate label),
    * exactly the distributed union + groupBy-min recurrence.
    */
  private def relaxFrame(
      edges: Array[Row], seeds: DataFrame, rounds: Int, init: Long,
      temporal: Boolean, outCol: String): DataFrame = {
    val spark = seeds.sparkSession
    val g = new Csr(edges,
      seeds.distinct().collect().map(_.get(0)), withPayload = true)
    val n = g.n
    var cur = new Array[Long](n)
    var has = new Array[Boolean](n)
    g.seeds.foreach { s => cur(s) = init; has(s) = true }
    for (_ <- 1 to rounds) {
      val next = cur.clone()
      val nextHas = has.clone()
      var u = 0
      while (u < n) {
        if (has(u)) {
          val du = cur(u)
          var e2 = g.off(u)
          val end = g.off(u + 1)
          while (e2 < end) {
            val x = g.ePay(e2)
            if (!temporal || x >= du) {
              val cand = if (temporal) x else du + x
              val v = g.eDst(e2)
              if (!nextHas(v) || cand < next(v)) {
                next(v) = cand; nextHas(v) = true
              }
            }
            e2 += 1
          }
        }
        u += 1
      }
      cur = next
      has = nextHas
    }
    val out = new java.util.ArrayList[Row]()
    var i = 0
    while (i < n) {
      if (has(i)) out.add(Row(g.node(i), cur(i)))
      i += 1
    }
    spark.createDataFrame(out,
      StructType(Seq(
        StructField("node", seeds.schema.fields(0).dataType),
        StructField(outCol, LongType, nullable = false))))
  }

  /** [[Sssp]] local tail (edges (src, dst, w)). */
  def sssp(edges: Array[Row], seeds: DataFrame, rounds: Int): DataFrame =
    relaxFrame(edges, seeds, rounds, init = 0L, temporal = false, outCol = "dist")

  /** [[TemporalReach]] local tail (edges (src, dst, day)). */
  def temporalReach(
      edges: Array[Row], seeds: DataFrame, rounds: Int,
      seedDay: Long): DataFrame =
    relaxFrame(edges, seeds, rounds, init = seedDay, temporal = true,
      outCol = "arr_day")

  /** [[Bfs.doubleSweep]] local tail — STRING node ids only (the seed is
    * the (md5(node), node)-min node; md5 here must equal Spark's md5()
    * hex of the UTF8 bytes, which only strings guarantee).
    * Returns (start_node, end_node, diameter_lb).
    */
  def doubleSweep(edges: Array[Row], maxHops: Int,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val g = new Csr(edges, Array.empty, withPayload = false)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var s1 = -1
    var s1Key: (String, String) = null
    var i = 0
    while (i < g.n) {
      val nd = g.node(i).asInstanceOf[String]
      val key = (md5hex(nd), nd)
      // hex + ASCII node ids: Java string order == UTF8 binary order
      if (s1 < 0 || Ordering[(String, String)].lt(key, s1Key)) {
        s1 = i; s1Key = key
      }
      i += 1
    }
    // argmax by (hop DESC, node ASC) over one sweep — UTF8 order via
    // cmpAny to stay exact for any string
    def far(hop: Array[Int]): Int = {
      var best = -1
      var j = 0
      while (j < hop.length) {
        if (hop(j) >= 0 && (best < 0 || hop(j) > hop(best) ||
          (hop(j) == hop(best) && LocalTail.cmpAny(
            g.node(j), g.node(best)) < 0))) best = j
        j += 1
      }
      best
    }
    val f1 = far(bfsHops(g, Array(s1), maxHops))
    val hops2 = bfsHops(g, Array(f1), maxHops)
    val f2 = far(hops2)
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(g.node(s1), g.node(f2), hops2(f2).toLong)),
      StructType(Seq(
        StructField("start_node", StringType),
        StructField("end_node", StringType),
        StructField("diameter_lb", LongType, nullable = false))))
  }
}
