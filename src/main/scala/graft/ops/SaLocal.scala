package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Driver-local tail for the suffix-array family ([[SuffixArray]],
  * [[RepeatedSpans]]) — the local-tail pattern on the dedup-index tier
  * (guide §1.2). The distributed prefix-doubling rounds each pay a
  * range-sort shuffle + two RDD passes + a checkpoint; when the corpus
  * arrays (plus any output rows), charged per character off the count
  * both callers already compute, fit the [[LocalTail]] budget, the same
  * doubling runs on primitive int arrays in milliseconds.
  *
  * Exactness: `sfx_rank` is the DENSE rank of each suffix in the
  * corpus-wide lexicographic order — a pure function of the corpus,
  * independent of algorithm or schedule. The local doubling computes
  * precisely that object (char ranks in code-point order = Spark's
  * UTF8 binary order for BMP text, pos+h beyond the doc end ranks 0 =
  * the before-everything sentinel, dense re-rank per round), and the
  * adjacent-pair neighbor scan replays [[RepeatedSpans.find]]'s exact
  * (rank, id, pos) adjacency, 16-char pre-filter and capped LCP fold.
  * `SaLocalSpec` pins local ≡ distributed on random corpora; the
  * DuckDB oracles (which sort the suffix STRINGS outright) re-verify
  * end to end.
  */
private[ops] object SaLocal {

  /** [[LocalTail]] bytes for a corpus of `nChars` characters: the seven
    * Int arrays of length n that [[Corpus.rank]] keeps live at its peak,
    * plus `outBytes` per character; unbounded past Int indexing.
    */
  def charge(nChars: Long, outBytes: Long): Long =
    if (nChars < Int.MaxValue) nChars * (7 * 4 + outBytes) else Long.MaxValue

  /** One collected corpus, sorted by doc id (Spark's order via
    * [[LocalTail.cmpAny]]), suffixes laid out doc-major so
    * the suffix at (doc, pos+h) is global index i+h of (doc, pos).
    */
  final class Corpus(docRows: Array[Row]) {
    val docs: Array[(Any, String)] = docRows
      .map(r => (r.get(0), r.getString(1)))
      .filter(_._2.length >= 1)
      .sortWith((a, b) => LocalTail.cmpAny(a._1, b._1) < 0)
    val start: Array[Int] = {
      val s = new Array[Int](docs.length + 1)
      var d = 0
      while (d < docs.length) { s(d + 1) = s(d) + docs(d)._2.length; d += 1 }
      s
    }
    val n: Int = start(docs.length)
    val docOf: Array[Int] = {
      val a = new Array[Int](n)
      var d = 0
      while (d < docs.length) {
        java.util.Arrays.fill(a, start(d), start(d + 1), d)
        d += 1
      }
      a
    }
    def posOf(i: Int): Int = i - start(docOf(i)) // 0-based
    def maxLen: Int = {
      var m = 0
      docs.foreach(d => if (d._2.length > m) m = d._2.length)
      m
    }

    /** Dense suffix ranks (1-based) by prefix doubling with stable
      * counting sorts — O(n log maxLen), all primitive arrays.
      */
    lazy val rank: Array[Int] = if (n == 0) new Array[Int](0) else {
      // char ranks in code-point order (= UTF8 binary order for BMP)
      val chars = {
        val set = new java.util.TreeSet[Character]()
        docs.foreach(_._2.foreach(c => set.add(c)))
        val m = new java.util.HashMap[Character, Integer]()
        var r = 1
        set.forEach { c => m.put(c, r); r += 1 }
        m
      }
      var rk = new Array[Int](n)
      var i = 0
      while (i < n) {
        val d = docOf(i)
        rk(i) = chars.get(docs(d)._2.charAt(i - start(d)))
        i += 1
      }
      // dense re-rank of the initial char classes
      var classes = {
        // counting-sort indices by rk, then walk
        val order = countingSort((0 until n).toArray, rk, chars.size + 1)
        rerank(order, rk, null)
      }
      var h = 1
      val ml = maxLen
      while (h < ml && classes < n) {
        // key2 = rank of the suffix h ahead IN THE SAME DOC, else 0
        val k2 = new Array[Int](n)
        var j = 0
        while (j < n) {
          val d = docOf(j)
          k2(j) = if (j - start(d) + h < docs(d)._2.length) rk(j + h) else 0
          j += 1
        }
        // stable LSD: sort by k2 then by rk — order = (rk, k2)
        val byK2 = countingSort((0 until n).toArray, k2, classes + 1)
        val order = countingSort(byK2, rk, classes + 1)
        classes = rerank(order, rk, k2)
        h *= 2
      }
      rk
    }

    private def countingSort(
        idx: Array[Int], key: Array[Int], buckets: Int): Array[Int] = {
      val cnt = new Array[Int](buckets + 1)
      idx.foreach(i => cnt(key(i) + 1) += 1)
      var b = 0
      while (b < buckets) { cnt(b + 1) += cnt(b); b += 1 }
      val out = new Array[Int](idx.length)
      idx.foreach { i => out(cnt(key(i))) = i; cnt(key(i)) += 1 }
      out
    }

    /** Assign dense ranks along `order` comparing (rk, k2) pairs
      * (k2 == null compares rk only); writes back into rk, returns the
      * class count.
      */
    private def rerank(
        order: Array[Int], rk: Array[Int], k2: Array[Int]): Int = {
      val nr = new Array[Int](n)
      var r = 0
      var p = -1
      order.foreach { i =>
        if (p < 0 || rk(i) != rk(p) || (k2 != null && k2(i) != k2(p))) r += 1
        nr(i) = r
        p = i
      }
      System.arraycopy(nr, 0, rk, 0, n)
      r
    }

    /** Suffix indices in the final (sfx_rank, id, pos) total order —
      * the adjacency [[RepeatedSpans]] scans. Global index order is
      * already (id, pos) ascending, so one stable counting sort by the
      * final rank yields it.
      */
    lazy val sorted: Array[Int] = {
      val r = rank
      var mx = 0
      r.foreach(v => if (v > mx) mx = v)
      countingSort((0 until n).toArray, r, mx + 1)
    }
  }

  /** [[SuffixArray.buildWithCount]]'s local tail: (id, pos, sfx_rank)
    * rows, pos 1-based, one row per suffix.
    */
  def build(docRows: Array[Row], idType: DataType,
      spark: org.apache.spark.sql.SparkSession): (DataFrame, Long) = {
    val c = new Corpus(docRows)
    val r = c.rank
    val out = new java.util.ArrayList[Row](c.n)
    var i = 0
    while (i < c.n) {
      out.add(Row(c.docs(c.docOf(i))._1, (c.posOf(i) + 1).toLong, r(i).toLong))
      i += 1
    }
    (spark.createDataFrame(out, buildSchema(idType)), c.n.toLong)
  }

  /** [[build]]'s output: one (id, pos, sfx_rank) row per suffix. */
  def buildSchema(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType),
    StructField("pos", LongType, nullable = false),
    StructField("sfx_rank", LongType, nullable = false)))

  /** [[RepeatedSpans.find]]'s local tail: the adjacent-suffix neighbor
    * scan with the 16-char pre-filter and the capped LCP — one output
    * row per qualifying pair (doc_a, pos_a, doc_b, pos_b, span_len,
    * span), positions 1-based.
    */
  def spans(docRows: Array[Row], idType: DataType, minLen: Int, cap: Int,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val c = new Corpus(docRows)
    val ord = c.sorted
    val out = new java.util.ArrayList[Row]()
    var k = 1
    while (k < ord.length) {
      val a = ord(k - 1)
      val b = ord(k)
      val da = c.docOf(a); val db = c.docOf(b)
      val ta = c.docs(da)._2; val tb = c.docs(db)._2
      val pa = c.posOf(a); val pb = c.posOf(b) // 0-based
      val la = ta.length - pa // suffix length (a64 length pre-cap)
      val lb = tb.length - pb
      if (la >= minLen) {
        // LCP fold capped at `cap`, guarded by both suffix ends — the
        // span_len computation subsumes the minLen-prefix pre-filter
        var l = 0
        val lim = math.min(cap, math.min(la, lb))
        while (l < lim && ta.charAt(pa + l) == tb.charAt(pb + l)) l += 1
        if (l >= minLen) {
          out.add(Row(c.docs(da)._1, (pa + 1).toLong,
            c.docs(db)._1, (pb + 1).toLong, l.toLong,
            ta.substring(pa, pa + l)))
        }
      }
      k += 1
    }
    spark.createDataFrame(out,
      StructType(Seq(
        StructField("doc_a", idType),
        StructField("pos_a", LongType, nullable = false),
        StructField("doc_b", idType),
        StructField("pos_b", LongType, nullable = false),
        StructField("span_len", LongType, nullable = false),
        StructField("span", StringType))))
  }
}
