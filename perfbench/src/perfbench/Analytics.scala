package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `analytics` (closed loop, serial): registry entries from
  * `SparkEntry.queries` on fixed tables, the only workload that reaches
  * `graft.ops` and `graft.functions`.
  *
  * The tail tier holds entries served by driver-local tails (BFS double
  * sweep, suffix array); the ann tier holds PQ search (codebook assignment
  * plus ADC). Each entry runs [[WarmPasses]] times untimed; then the entries
  * run in turn until the run length is reached, so the last pass may be
  * partial. The seed only rotates the run order. The operation is an entry (construction plus
  * `collect()`). The entries differ too much in length for quantiles pooled
  * over entries to be stable, so the workload's latencies are those of a
  * pass put together entry by entry: `p50_ms` and `pass_s` are the sum of
  * the entries' median times, `tail_ms` the sum of their 80th percentiles.
  * Each result's row count and content hash must equal the values recorded
  * in `expected_analytics.json`; a failed entry is not timed.
  */
final class Analytics(
    spark: SparkSession,
    tables: String,
    seed: Long,
    expectedPath: String,
    record: Boolean) extends Workload {
  import Analytics._

  /** The seed rotates the entry cycle: every seed runs the same repeating
    * sequence, so an entry always follows the same neighbour, from a
    * different starting entry.
    */
  private val order: Seq[String] = {
    val all = TailTier ++ AnnTier
    val k = java.lang.Math.floorMod(seed, all.size.toLong).toInt
    all.drop(k) ++ all.take(k)
  }
  private lazy val expected: Map[String, (Long, String)] = readExpected(expectedPath)
  private val recorded = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
  private val bad = ArrayBuffer[String]()
  private var warmFailed = 0

  def prepare(): Unit = ()

  /** Open every table: file listing and footer schema. */
  def setup(): Unit =
    TableNames.foreach(t => spark.read.parquet(s"$tables/$t.parquet").schema)

  def teardown(): Unit = ()

  /** Untimed passes: entry times keep falling for several passes while the
    * JIT compiles the planner and the generated code. Their results are
    * checked too, so every entry is checked however short the timed window.
    */
  def warmup(): Unit =
    for (_ <- 1 to WarmPasses; e <- order) {
      try {
        val rows = SparkEntry.queries(e)(spark, tables).collect()
        val got = (rows.length.toLong, contentHash(rows))
        if (!record && !expected.get(e).contains(got)) {
          warmFailed += 1
          bad += s"$e returned $got in warm-up, expected ${expected.get(e)}"
        }
      } catch {
        case ex: Exception =>
          warmFailed += 1
          bad += s"$e threw $ex in warm-up"
      }
    }

  /** Timed run of one entry: (seconds, construction seconds, rows). */
  private def runEntry(e: String): (Double, Double, Array[Row]) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(e)(spark, tables)
    val construct = Stats.seconds(t0)
    val rows = df.collect()
    (Stats.seconds(t0), construct, rows)
  }

  def window(seconds: Int, tracer: Option[Tracer]): Window = {
    val t0 = System.nanoTime()
    val per = scala.collection.mutable.Map[String, ArrayBuffer[(Double, Double, Int)]]()
    var attempted = 0
    var failed = 0
    var p0 = t0
    while (Stats.seconds(t0) < seconds) {
      val e = order(attempted % order.size)
      attempted += 1
      try {
        val jobsBefore = tracer.map(_.jobs).getOrElse(0)
        val (s, c, rows) = tracer match {
          case Some(tr) => tr.op("entry", e)(runEntry(e))
          case None => runEntry(e)
        }
        val got = (rows.length.toLong, contentHash(rows))
        if (record) recorded(e) = got
        if (record || expected.get(e).contains(got)) {
          per.getOrElseUpdate(e, ArrayBuffer()) +=
            ((s, c, tracer.map(_.jobs).getOrElse(0) - jobsBefore))
        } else {
          failed += 1
          bad += s"$e returned $got, expected ${expected.get(e)}"
        }
      } catch {
        case ex: Exception =>
          failed += 1
          bad += s"$e threw $ex"
      }
      if (attempted % order.size == 0) {
        Main.log(f"pass ${attempted / order.size}: ${Stats.seconds(p0)}%.3f s")
        p0 = System.nanoTime()
      }
    }
    if (record) writeExpected(expectedPath, recorded.toSeq)
    def times(e: String) = per.get(e).map(_.map(_._1).toSeq).getOrElse(Nil)
    def sumOf(es: Seq[String], q: Double) = es.map(e => times(e)).filter(_.nonEmpty).map(Stats.quantile(_, q)).sum
    val all = TailTier ++ AnnTier
    val layers = tracer.map { _ =>
      per.flatMap { case (e, xs) =>
        Seq(s"ops.$e.s" -> Stats.median(times(e)),
          s"ops.$e.construct_s" -> Stats.median(xs.map(_._2).toSeq),
          s"ops.$e.jobs" -> Stats.median(xs.map(_._3.toDouble).toSeq))
      }.toMap ++ Map(
        "ops.tail_s" -> sumOf(TailTier, 0.5),
        "ops.ann_s" -> sumOf(AnnTier, 0.5))
    }.getOrElse(Map.empty)
    Window(
      p50Ms = 1000.0 * sumOf(all, 0.5),
      tailMs = 1000.0 * sumOf(all, Stats.TailQ),
      passS = sumOf(all, 0.5),
      ops = per.values.map(_.size).sum,
      passes = attempted / order.size,
      attempted = attempted,
      failed = failed,
      layers = layers)
  }

  def check(): (Int, Seq[String]) = (warmFailed, bad.toSeq)
}

object Analytics {
  val TailTier: Seq[String] = Seq("q_diameter", "q_suffix_array")
  val AnnTier: Seq[String] = Seq("q_knn_pq")
  /** Untimed passes before the first timed one. */
  val WarmPasses = 3
  val TableNames: Seq[String] = Seq("supplier", "orders", "lineitem", "documents", "embeddings")

  // ---- content hash ----

  private val mc = new MathContext(9)

  /** Canonical text of a value: doubles and floats to 9 significant digits,
    * so the hash does not depend on summation order.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d).round(mc).toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  /** MD5 over the sorted canonical rows: independent of row order. */
  def contentHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---- expected results (a flat JSON object written by --record) ----

  private val Entry = """"(q_\w+)":\s*\{"rows":\s*(\d+),\s*"hash":\s*"([0-9a-f]+)"\}""".r

  def readExpected(path: String): Map[String, (Long, String)] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    Entry.findAllMatchIn(text).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def writeExpected(path: String, xs: Seq[(String, (Long, String))]): Unit = {
    val body = xs.sortBy(_._1).map { case (e, (n, h)) => s"""  "$e": {"rows": $n, "hash": "$h"}""" }
    Files.write(Paths.get(path), ("{\n" + body.mkString(",\n") + "\n}\n").getBytes(StandardCharsets.UTF_8))
  }

  // ---- fixed tables ----

  private def h(salt: Int, id: Column): Column = xxhash64(lit(salt), id)
  private def hmod(salt: Int, id: Column, n: Long): Column = pmod(h(salt, id), lit(n))
  private def pick(xs: Seq[String], salt: Int, id: Column): Column =
    element_at(typedLit(xs), (hmod(salt, id, xs.size.toLong) + 1).cast("int"))

  /** A TPC-H-like star (supplier, orders, lineitem) plus the documents and
    * embeddings tables, at 1/10 of the row counts the repository's sf0.1
    * fixtures have. Every value is a hash of its row id, so the tables are
    * the same on every machine and every run.
    */
  def generateTables(spark: SparkSession, dir: String): Unit = {
    val id = col("id")
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val nSupp = 100L; val nCust = 1500L; val nPart = 2000L
    val nOrd = 15000L; val nLi = 60000L; val nDoc = 500L; val nEmb = 500L

    save(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hmod(21, id, 25).cast("int").as("s_nationkey"),
      round(hmod(22, id, 1100000) / 100.0 - 1000, 2).as("s_acctbal")), "supplier")

    save(spark.range(nOrd).select(id.as("o_orderkey"),
      hmod(41, id, nCust).as("o_custkey"),
      pick(Seq("O", "P", "F"), 42, id).as("o_orderstatus"),
      round(hmod(43, id, 49900000) / 100.0 + 1000, 2).as("o_totalprice"),
      expr("timestamp'1995-01-01 00:00:00'").plus(
        make_dt_interval(hmod(44, id, 2404).cast("int"))).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 45, id)
        .as("o_orderpriority")), "orders")

    save(spark.range(nLi).select(hmod(51, id, nOrd).as("l_orderkey"),
      hmod(52, id, nPart).as("l_partkey"),
      hmod(53, id, nSupp).as("l_suppkey"),
      (hmod(54, id, 7) + 1).cast("int").as("l_linenumber"),
      (hmod(55, id, 50) + 1).cast("double").as("l_quantity"),
      round((hmod(55, id, 50) + 1) * (hmod(56, id, 11000) / 10.0 + 900), 2).as("l_extendedprice"),
      (hmod(57, id, 11) / 100.0).as("l_discount"),
      (hmod(58, id, 9) / 100.0).as("l_tax"),
      pick(Seq("N", "A", "R"), 59, id).as("l_returnflag"),
      pick(Seq("O", "F"), 60, id).as("l_linestatus"),
      expr("timestamp'1995-01-02 00:00:00'").plus(
        make_dt_interval(hmod(61, id, 2498).cast("int"))).as("l_shipdate")), "lineitem")

    // token soup over a fixed vocabulary, 10..100 tokens; ~0.2% of the
    // documents repeat an earlier one verbatim
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fi", "go", "hu", "je", "pa")
    val vocab = (for (a <- syll; b <- syll; c <- Seq("", "n", "r", "s", "t", "x", "l", "m")) yield a + b + c).distinct
    val src = when(col("id") >= 100 && hmod(82, id, 500) === 0,
      id - 1 - hmod(83, id, 99)).otherwise(id)
    val docs = spark.range(nDoc).withColumn("src", src)
      .withColumn("toks", expr(s"transform(sequence(0, 9 + CAST(pmod(xxhash64(81, src), 91) AS INT)), " +
        s"j -> element_at(array(${vocab.map(w => s"'$w'").mkString(",")}), " +
        s"CAST(pmod(xxhash64(src * 1000003 + j), ${vocab.size}) AS INT) + 1))"))
      .select(id.as("doc_id"), array_join(col("toks"), " ").as("text"),
        pick(Seq("en", "de", "fr", "es", "zh"), 84, id).as("lang"),
        concat(lit("src"), hmod(85, id, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    save(docs, "documents")

    save(spark.range(nEmb).select(id.as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id * 127 + j), 400001) / 1e6 - 0.2 AS FLOAT))")
        .as("embedding"),
      hmod(91, id, 10).cast("int").as("label")), "embeddings")
    Main.log(s"generated ${TableNames.mkString(", ")} under $dir")
  }
}
