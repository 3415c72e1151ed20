package graft.ops

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class SkewSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val countAgg = Skew.SaltedAgg("count", _ => count(lit(1)), sum)

  private lazy val skewed = {
    val s = spark
    import s.implicits._
    // one hot key with 10k rows, 50 cold keys with 10 each
    val hot = (1 to 10000).map(i => ("HOT", i.toLong, i.toDouble))
    val cold = for (k <- 1 to 50; i <- 1 to 10)
      yield (s"cold_$k", i.toLong, i.toDouble)
    (hot ++ cold).toDF("key", "n", "v")
  }

  test("salted aggregation equals the plain groupBy result") {
    val expected = skewed.groupBy("key")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("count"),
        min("v").as("min_v"), max("v").as("max_v"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    val got = Skew.saltedAgg(
      skewed, Seq("key"), salts = 8,
      Seq(
        "v" -> Skew.sumAgg("sum_v"),
        "v" -> countAgg,
        "v" -> Skew.minAgg("min_v"),
        "v" -> Skew.maxAgg("max_v")))
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Double]("sum_v"), r.getAs[Long]("count"),
          r.getAs[Double]("min_v"), r.getAs[Double]("max_v"))).toMap

    got.keySet shouldBe expected.keySet
    got.foreach { case (k, (s1, c, mn, mx)) =>
      val (es, ec, emn, emx) = expected(k)
      withClue(k) {
        s1 shouldBe es +- 1e-6 // sum order differs across salts
        c shouldBe ec
        mn shouldBe emn
        mx shouldBe emx
      }
    }
  }

  test("phase 1 shuffles on (key, salt): the hot key spreads across reducers") {
    val df = Skew.saltedAgg(skewed, Seq("key"), salts = 8,
      Seq("v" -> Skew.sumAgg("sum_v")))
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    // two exchanges: (key, __salt) then (key)
    plan should include("__salt")
  }

  test("salt is deterministic: same input row always lands in the same salt") {
    def salted = skewed.withColumn("s",
      pmod(hash((skewed.columns.map(col) :+ spark_partition_id()): _*), lit(8)))
    salted.collect().map(_.toSeq) shouldBe salted.collect().map(_.toSeq)
  }

  test("IDENTICAL duplicate rows of a hot key fan out across salt buckets") {
    val s = spark
    import s.implicits._
    // 10k bit-identical copies of one row, spread over 16 input partitions
    // (the pre-r3 content-only salt put all of them in ONE bucket)
    val dupes = s.sparkContext
      .parallelize(Seq.fill(10000)(("HOT", 1L, 1.0)), 16).toDF("key", "n", "v")
    val buckets = dupes
      .withColumn("__salt",
        pmod(hash((dupes.columns.map(col) :+ spark_partition_id()): _*), lit(8)))
      .select("__salt").distinct().count()
    buckets should be > 1L

    // and parity is preserved through the two-phase aggregate
    val got = Skew.saltedAgg(dupes, Seq("key"), salts = 8,
      Seq("v" -> Skew.sumAgg("sum_v"), "v" -> countAgg)).collect()
    got.length shouldBe 1
    got.head.getAs[Double]("sum_v") shouldBe 10000.0
    got.head.getAs[Long]("count") shouldBe 10000L
  }

  private lazy val dim = {
    val s = spark
    import s.implicits._
    // HOT and half the cold keys have dim rows; cold_1 has TWO dim rows
    // (the join must preserve that multiplicity through replication);
    // dim-only keys must not appear (inner join)
    (Seq(("HOT", "seg_hot"), ("cold_1", "seg_a"), ("cold_1", "seg_b")) ++
      (2 to 25).map(k => (s"cold_$k", s"seg_$k")) ++
      Seq(("dim_only", "seg_x"))).toDF("key", "seg")
  }

  private def asBag(rows: Array[org.apache.spark.sql.Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.length }

  test("skew join equals the plain join, multiplicities included") {
    val expected = skewed.join(dim, "key")
      .select("key", "n", "v", "seg").collect()
    val got = Skew.skewJoin(skewed, dim, "key", hotThreshold = 1000, salts = 8)
      .select("key", "n", "v", "seg").collect()
    asBag(got) shouldBe asBag(expected)
    // sanity: the fixture exercises BOTH branches
    got.count(_.getString(0) == "HOT") shouldBe 10000
    got.count(_.getString(0) == "cold_1") shouldBe 20 // 10 rows x 2 dim rows
  }

  test("skew join is exact when every key is hot, and when none is") {
    val plain = asBag(skewed.join(dim, "key")
      .select("key", "n", "v", "seg").collect())
    for (thr <- Seq(1L, Long.MaxValue)) {
      asBag(Skew.skewJoin(skewed, dim, "key", hotThreshold = thr, salts = 4)
        .select("key", "n", "v", "seg").collect()) shouldBe plain
    }
  }
}
