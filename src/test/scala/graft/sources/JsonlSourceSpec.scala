package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The batch DSv2 JSONL source: correct values, REAL filter pushdown
  * (source-side skips, filters removed from the residual, visible in
  * explain), column pruning, per-file partition planning, and
  * null/residual-filter behavior.
  */
class JsonlSourceSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val rows = (0 until 100).map { i =>
      s"""{"id": $i, "grp": "g${i % 4}", "v": ${i * 10}}"""
    }
    rows.grouped(25).zipWithIndex.foreach { case (chunk, p) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"part-$p.json"),
        chunk.mkString("\n").getBytes)
    }
    dir
  }

  private def read(dir: String) =
    spark.read.format("graft-jsonl")
      .option("path", dir)
      .option("schema", "id:long,grp:string,v:long")
      .load()

  test("values round-trip and partitions map to files") {
    val dir = writeFixture()
    val df = read(dir)
    df.count() shouldBe 100L
    df.rdd.getNumPartitions shouldBe 4 // one per file
    df.agg(sum("v")).head.getLong(0) shouldBe (0 until 100).map(_ * 10L).sum
  }

  test("filters are pushed: source-side skips, no residual re-check") {
    val dir = writeFixture()
    JsonlSource.linesParsed.set(0)
    JsonlSource.rowsEmitted.set(0)
    val df = read(dir).filter(col("v") >= 500L && col("grp") === "g1")
    val got = df.select("id").collect().map(_.getLong(0)).toSet
    got shouldBe (0 until 100)
      .filter(i => i * 10 >= 500 && i % 4 == 1).map(_.toLong).toSet
    // every line is parsed once, but only matching rows materialize
    JsonlSource.linesParsed.get() shouldBe 100L
    JsonlSource.rowsEmitted.get() shouldBe got.size.toLong
    // both predicates accepted: nothing left in Spark's post-scan Filter
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters: [")
    plan should include("v >= 500")
    plan should include("grp = g1")
  }

  test("column pruning reaches the reader schema") {
    val dir = writeFixture()
    val df = read(dir).select("grp")
    val plan = df.queryExecution.executedPlan.toString
    plan should include("ReadSchema: struct<grp:string>")
    df.distinct().count() shouldBe 4L
  }

  test("unsupported filters stay residual and still apply") {
    val dir = writeFixture()
    // string contains() is not a pushable comparison — Spark must keep it
    val df = read(dir).filter(col("grp").contains("1") && col("v") < 200L)
    df.count() shouldBe (0 until 100)
      .count(i => s"g${i % 4}".contains("1") && i * 10 < 200).toLong
    val plan = df.queryExecution.executedPlan.toString
    plan should include("v < 200")
  }

  test("write path: files Spark's json writer wrote load through the reader") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_w").toString
    val df = (0L until 50L)
      .map(i => (i, if (i == 0L) None else Some(s"s$i"), i * 7))
      .toDF("id", "grp", "v")
    df.repartition(3).write.mode("overwrite").json(dir)
    val back = read(dir)
    back.count() shouldBe 50L
    // one partition per part-*.json file; _SUCCESS and .crc are skipped
    back.rdd.getNumPartitions shouldBe 3
    back.agg(sum("v")).head.getLong(0) shouldBe (0L until 50L).map(_ * 7).sum
    // Spark's writer drops null fields; the reader maps them back to null
    back.filter(col("grp").isNull).select("id").head.getLong(0) shouldBe 0L
    // overwrite replaces: a second smaller write leaves no stale rows
    df.limit(10).write.mode("overwrite").json(dir)
    read(dir).count() shouldBe 10L
    // escaping: quote, backslash and newline survive the round trip
    val tricky = Seq((1L, "a\"b\\c\nd", 0L)).toDF("id", "grp", "v")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_jsonl_e").toString
    tricky.write.mode("overwrite").json(dir2)
    read(dir2).select("grp").head.getString(0) shouldBe "a\"b\\c\nd"
  }

  test("aggregate pushdown: per-file partial aggs, correct merge, " +
      "plan-visible") {
    val dir = writeFixture()
    JsonlSource.aggScans.set(0)
    val df = read(dir).filter(col("v") >= 100L)
      .groupBy("grp")
      .agg(count("id").as("n"), sum("v").as("sv"),
        min("v").as("mn"), max("v").as("mx"))
    val got = df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val want = (0 until 100).filter(_ * 10 >= 100).groupBy(i => s"g${i % 4}")
      .map { case (g, is) =>
        g -> (is.size.toLong, is.map(_ * 10L).sum,
          is.map(_ * 10L).min, is.map(_ * 10L).max)
      }
    got shouldBe want
    // the aggregating reader ran once per file
    JsonlSource.aggScans.get() shouldBe 4L
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedAggregates: [count(id), sum(v), min(v), max(v)]")
    plan should include("GroupBy: [grp]")
    plan should include("v >= 100") // composed WITH the pushed filter
  }

  test("avg pushes via Spark's sum+count decomposition; expression " +
      "arguments fall back cleanly") {
    val dir = writeFixture()
    val df = read(dir).groupBy("grp").agg(avg("v").as("a"))
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = (0 until 100).groupBy(i => s"g${i % 4}")
      .map { case (g, is) => g -> is.map(_ * 10.0).sum / is.size }
    got shouldBe want
    df.queryExecution.executedPlan.toString should include(
      "PushedAggregates: [sum(v), count(v)]")
    // sum over an EXPRESSION is not a plain column ref: builder declines
    val df2 = read(dir).groupBy("grp")
      .agg(sum(col("v") * col("v")).as("s2"))
    val got2 = df2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want2 = (0 until 100).groupBy(i => s"g${i % 4}")
      .map { case (g, is) => g -> is.map(i => i * 10L * (i * 10L)).sum }
    got2 shouldBe want2
    df2.queryExecution.executedPlan.toString should not include
      "PushedAggregates"
  }

  test("global aggregate over empty / fully-filtered input: count is " +
      "0, sum/min/max are NULL (partial-buffer semantics)") {
    val dir = writeFixture()
    // filter removes everything at the source; Spark merges partials
    // with SUM, so a missing partial row would make count(*) NULL
    val df = read(dir).filter(col("v") >= 100000L)
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("v").as("mn"), max("v").as("mx"))
    df.queryExecution.executedPlan.toString should include(
      "PushedAggregates")
    val r = df.head
    r.getLong(0) shouldBe 0L
    r.isNullAt(1) shouldBe true
    r.isNullAt(2) shouldBe true
    r.isNullAt(3) shouldBe true
    // a group whose summed column is all-NULL emits NULL, not 0
    val dir2 = java.nio.file.Files.createTempDirectory("graft_jsonl_n").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2, "part-0.json"),
      """{"id": 1, "grp": "a"}
        |{"id": 2, "grp": "a"}
        |{"id": 3, "grp": "b", "v": 7}""".stripMargin.getBytes)
    val df2 = read(dir2).groupBy("grp").agg(sum("v").as("sv"))
    df2.queryExecution.executedPlan.toString should include(
      "PushedAggregates")
    val got2 = df2.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    got2 shouldBe Map("a" -> None, "b" -> Some(7L))
  }

  test("source reports file-size statistics: a small JSONL dim is " +
      "broadcast-joined") {
    val dir = writeFixture()
    val rel = read(dir)
    // the optimized relation carries the real byte size, not the
    // defaultSizeInBytes sentinel
    val stats = rel.queryExecution.optimizedPlan.stats
    val onDisk = JsonlSource.listJsonFiles(dir)
      .map(java.nio.file.Files.size).sum
    stats.sizeInBytes.toLong should be <= (4L * onDisk)
    stats.sizeInBytes.toLong should be > 0L
    // consequence at scale: joining a big frame against this small
    // source picks a broadcast join without an explicit hint
    import spark.implicits._
    val big = spark.range(0, 10000).map(i => (i % 100, i))
      .toDF("id", "x")
    val j = big.join(rel, "id")
    j.queryExecution.executedPlan.toString should include(
      "BroadcastHashJoin")
    j.count() shouldBe 10000L
  }

  test("missing fields surface as nulls") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl2").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.json"),
      """{"id": 1, "v": 5}
        |{"id": 2, "grp": "x", "v": 6}""".stripMargin.getBytes)
    val got = read(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    got.toSeq shouldBe Seq((1L, None, 5L), (2L, Some("x"), 6L))
  }
}
