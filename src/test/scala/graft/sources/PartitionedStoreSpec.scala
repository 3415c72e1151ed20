package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class PartitionedStoreSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_store").toString + "/stock_data"
    val s = spark
    import s.implicits._
    val rows = for {
      day <- 1 to 5
      sym <- Seq("BTC", "ETH")
      minute <- 0 until 10
    } yield (sym, ts(f"2024-01-0$day 10:$minute%02d:00"),
      100.0 + day + minute * 0.1)
    PartitionedStore.write(
      rows.toDF("stock_symbol", "local_time", "close"), d)
    d
  }

  test("round-trip preserves rows and derives day partitions") {
    val back = PartitionedStore.read(spark, dir)
    back.count() shouldBe 100
    back.select("trade_date").distinct().count() shouldBe 5
    // physical layout is one directory per day
    new java.io.File(dir).listFiles().count(
      _.getName.startsWith("trade_date=")) shouldBe 5
  }

  test("time-range read prunes partitions (not just filters rows)") {
    val q = PartitionedStore.readRange(
      spark, dir, ts("2024-01-02 00:00:00"), ts("2024-01-03 23:59:59"))
    q.count() shouldBe 40

    val physical = q.queryExecution.executedPlan.toString
    // partition pruning happened at plan time: only 2 of 5 partitions scanned
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    scan should include("PartitionFilters")
    val pruned = q.queryExecution.optimizedPlan
    withClue(physical) {
      // the scan reports the partition count it actually selected
      val fs = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      fs should not be empty
      fs.head.selectedPartitions.partitionCount shouldBe 2
    }
  }

  test("symbol predicate pushes down to the parquet scan") {
    val q = PartitionedStore.read(spark, dir)
      .filter(org.apache.spark.sql.functions.col("stock_symbol") === "BTC")
      .select("stock_symbol", "close")
    val fs = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    fs.head.metadata("PushedFilters") should include("IsNotNull(stock_symbol)")
    fs.head.metadata("PushedFilters") should include("EqualTo(stock_symbol,BTC)")
    // column pruning: only the 2 projected columns are read
    fs.head.metadata("ReadSchema") should not include "local_time"
  }

  test("append mode adds new days without rewriting old ones") {
    val s = spark
    import s.implicits._
    val extraDir = Files.createTempDirectory("graft_store2").toString + "/t"
    val day1 = Seq(("BTC", ts("2024-02-01 09:00:00"), 1.0))
      .toDF("stock_symbol", "local_time", "close")
    val day2 = Seq(("BTC", ts("2024-02-02 09:00:00"), 2.0))
      .toDF("stock_symbol", "local_time", "close")
    PartitionedStore.write(day1, extraDir)
    PartitionedStore.write(day2, extraDir)
    PartitionedStore.read(spark, extraDir).count() shouldBe 2
    PartitionedStore.read(spark, extraDir)
      .select("trade_date").distinct().count() shouldBe 2
  }

  test("compaction rewrites a sliver-ridden store into few right-sized files") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("graft_slivers").toString + "/t"
    val dst = Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate 12 micro-batch appends: one sliver file per append per day
    for (b <- 0 until 12) {
      val rows = for (m <- 0 until 10)
        yield ("BTC", ts(f"2024-03-01 10:${b * 5 + m % 5}%02d:0${m % 10}"),
          b * 10.0 + m)
      PartitionedStore.write(rows.toDF("stock_symbol", "local_time", "close"), src)
    }
    def parquetFiles(root: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).count(_.getName.endsWith(".parquet"))
    }
    parquetFiles(src) should be >= 12
    PartitionedStore.compactInto(spark, src, dst, targetFileBytes = 1L << 30)
    parquetFiles(dst) shouldBe 1
    PartitionedStore.read(spark, dst).count() shouldBe 120
    // data round-trips exactly
    val a = PartitionedStore.read(spark, src)
      .select("stock_symbol", "local_time", "close")
      .as[(String, Timestamp, Double)].collect().toSet
    val b = PartitionedStore.read(spark, dst)
      .select("stock_symbol", "local_time", "close")
      .as[(String, Timestamp, Double)].collect().toSet
    b shouldBe a
  }
}
