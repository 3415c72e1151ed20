package graft

import org.apache.spark.ListenerBusDrain
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Bench`'s replay helper leaves the session as it found it when a
  * micro-batch fails, and its [[Bench.Meter]] attributes each Spark job
  * to the one entry run that started it, construction-time sub-jobs
  * included.
  */
class BenchSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val Shuffle = "spark.sql.shuffle.partitions"

  /** Run `body` with a fresh meter attached; read it after the bus drained. */
  private def metered(body: => Unit): Bench.Meter = {
    val sc = spark.sparkContext
    val meter = new Bench.Meter
    sc.addSparkListener(meter)
    try body finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(meter)
    }
    meter
  }

  test("replay: a failing micro-batch rethrows, restores the confs and drops the sink") {
    import spark.implicits._
    val name = "bench_spec_replay"
    val before = Seq(Shuffle, NoData).map(k => k -> spark.conf.get(k))
    val rows = (1 to 12).toSeq
    val err = intercept[Exception] {
      Bench.replay(spark, name, rows, minChunk = 1,
        conf = Map(NoData -> "false"))(
        _.map(x => if (x == 7) throw new IllegalStateException("boom at 7") else x))(
        _.count())
    }
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).exists(_.contains("boom at 7")) shouldBe true
    before.foreach { case (k, v) => spark.conf.get(k) shouldBe v }
    spark.catalog.tableExists(name) shouldBe false
    spark.streams.active.map(_.name) should not contain name

    // a second run under the same query name starts and sees every row
    val meter = metered {
      val (n, t) = Bench.replay(spark, name, rows, minChunk = 1)(
        _.map(_ * 2))(_.count())
      n shouldBe rows.size
      t.construct should (be >= 0.0 and be <= t.secs)
    }
    spark.catalog.tableExists(name) shouldBe false
    // the micro-batches run on the query's own thread and still carry the
    // entry's tag
    meter(name).jobIds should not be empty
    before.foreach { case (k, v) => spark.conf.get(k) shouldBe v }
  }

  test("q_diameter: construct-time jobs are recorded; back-to-back entries share no job") {
    val sc = spark.sparkContext
    val meter = metered {
      for (entry <- Seq("q_diameter", "q_agg_avg"))
        Bench.timed(spark, entry)(SparkEntry.queries(entry)(spark, sfDir))(_.count())
      sc.getLocalProperty(Bench.EntryKey) shouldBe null
      spark.range(10).count() // untagged: attributed to no entry
    }
    def work(entry: String) = meter(entry + Bench.ConstructTag) + meter(entry)
    // the LocalTail double sweep collects while the DataFrame is built
    meter("q_diameter" + Bench.ConstructTag).jobIds should not be empty
    val diameter = work("q_diameter")
    val avg = work("q_agg_avg")
    avg.jobIds should not be empty
    diameter.jobIds.intersect(avg.jobIds) shouldBe empty
    Seq(diameter, avg).foreach { w =>
      w.stages should be > 0
      w.taskMs should be >= 0L
    }
  }
}
