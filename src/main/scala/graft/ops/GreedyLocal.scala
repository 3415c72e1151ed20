package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Driver-local tails for the greedy-selection loops ([[Mmr.rerank]],
  * `q_max_coverage`'s facility-location greedy) — the r10 extension of
  * the local-tail family (guide §1.2): each distributed greedy round is
  * an anti join + aggregate + argmax + checkpoint over a BOUNDED
  * candidate frame (top-N retriever output; the per-doc bigram table),
  * so k rounds cost k× the per-round stage latency while the driver
  * can replay the identical selection in microseconds.
  *
  * Gate: [[LocalTail]] — the frames here are bounded by construction
  * (batch × top-N candidates; per-doc distinct bigrams), and its
  * bounded probe keeps any mis-sized caller on the distributed rounds;
  * the collected rows arrive here. Selections are exact integer
  * argmaxes with (score DESC, id ASC) tie-breaks replayed verbatim
  * ([[LocalTail.cmpAny]] = Spark's ordering), so results are
  * bit-identical either way — `GreedyLocalSpec` pins local ≡
  * distributed, the DuckDB oracles re-verify end to end.
  */
private[graft] object GreedyLocal {

  private def lt(a: Any, b: Any): Boolean = LocalTail.cmpAny(a, b) < 0

  /** [[Mmr.rerank]]'s greedy loop, driver-local. `candRows` are the
    * collected rows of `cand` (q_id, c_id, rel_fp), `simRows` of sims
    * (q_id, a, b, s_fp). Per query: pick 1 = (rel_fp DESC, c_id) argmax; round
    * r picks the (rel_fp - max_sim_to_picked DESC, c_id) argmax among
    * unpicked candidates having AT LEAST ONE sim row to a picked item
    * (the distributed inner join's exclusion, replayed exactly).
    * Output rows: (q_id, c_id, mmr_rank 1..k).
    */
  def mmr(cand: DataFrame, candRows: Array[Row], simRows: Array[Row],
      k: Int): DataFrame = {
    val spark = cand.sparkSession
    val byQ = candRows.groupBy(_.get(0))
    // (q, a) -> list of (b, s_fp)
    val simBy = new java.util.HashMap[(Any, Any), scala.collection.mutable.ArrayBuffer[(Any, Long)]]()
    simRows.foreach { r =>
      val key = (r.get(0), r.get(1))
      var lst = simBy.get(key)
      if (lst == null) {
        lst = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
        simBy.put(key, lst)
      }
      lst += ((r.get(2), r.get(3).asInstanceOf[Number].longValue))
    }
    val out = new java.util.ArrayList[Row]()
    byQ.toSeq.foreach { case (q, rows) =>
      val cands = rows.map(r =>
        (r.get(1), r.get(2).asInstanceOf[Number].longValue))
      val picked = scala.collection.mutable.ArrayBuffer.empty[Any]
      val pickedSet = scala.collection.mutable.HashSet.empty[Any]
      // round 1: plain relevance argmax
      var best: (Any, Long) = null
      cands.foreach { case (c, rel) =>
        if (best == null || rel > best._2 ||
          (rel == best._2 && lt(c, best._1))) best = (c, rel)
      }
      if (best != null) {
        picked += best._1; pickedSet += best._1
        out.add(Row(q, best._1, 1))
      }
      for (r <- 2 to k) {
        var bc: Any = null
        var bScore = 0L
        cands.foreach { case (c, rel) =>
          if (!pickedSet.contains(c)) {
            // max sim to picked items over EXISTING sim rows only —
            // candidates with no edge to any picked item are excluded
            // this round (the inner-join contract)
            var msim = Long.MinValue
            val lst = simBy.get((q, c))
            if (lst != null) lst.foreach { case (b, s) =>
              if (pickedSet.contains(b) && s > msim) msim = s
            }
            if (msim != Long.MinValue) {
              val score = rel - msim
              if (bc == null || score > bScore ||
                (score == bScore && lt(c, bc))) { bc = c; bScore = score }
            }
          }
        }
        if (bc != null) {
          picked += bc; pickedSet += bc
          out.add(Row(q, bc, r))
        }
      }
    }
    spark.createDataFrame(out,
      StructType(Seq(
        StructField("q_id", cand.schema.fields(0).dataType),
        StructField("c_id", cand.schema.fields(1).dataType),
        StructField("mmr_rank", IntegerType, nullable = false))))
  }

  /** The k-round greedy max-coverage selection, driver-local. `rows`
    * are the collected DISTINCT (doc_id, bigram) rows of `toks`; per round the winner is the
    * (uncovered-bigram count DESC, doc_id ASC) argmax among docs with
    * at least one uncovered bigram (absent-group semantics of the
    * distributed count), and its whole bigram set joins the covered
    * set. Output rows: (pick 1..k, doc_id, gain).
    */
  def maxCoverage(toks: DataFrame, rows: Array[Row], k: Int): DataFrame = {
    val spark = toks.sparkSession
    val byDoc = rows.groupBy(_.get(0))
      .map { case (d, rs) => (d, rs.map(_.getString(1))) }.toArray
    val covered = scala.collection.mutable.HashSet.empty[String]
    val out = new java.util.ArrayList[Row]()
    for (i <- 1 to k) {
      var bd: Any = null
      var bGain = 0L
      byDoc.foreach { case (d, bgs) =>
        var gain = 0L
        bgs.foreach(b => if (!covered.contains(b)) gain += 1)
        if (gain >= 1 && (bd == null || gain > bGain ||
          (gain == bGain && lt(d, bd)))) { bd = d; bGain = gain }
      }
      if (bd != null) {
        out.add(Row(i, bd, bGain))
        byDoc.find(_._1 == bd).foreach(_._2.foreach(covered += _))
      }
    }
    spark.createDataFrame(out,
      StructType(Seq(
        StructField("pick", IntegerType, nullable = false),
        StructField("doc_id", toks.schema.fields(0).dataType),
        StructField("gain", LongType, nullable = false))))
  }
}
