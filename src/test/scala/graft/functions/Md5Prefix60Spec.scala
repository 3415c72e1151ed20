package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class Md5Prefix60Spec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("md5p60 equals the conv(substring(md5)) SQL construction exactly") {
    graft.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    val df = (Seq("", "a", "hello world", "Z" * 1000, "unicode é中")
      ++ (1 to 50).map(i => s"token_$i")).toDF("t")
    val rows = df.select(
      expr("md5p60(t)").as("native"),
      expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)").as("sql"))
      .collect()
    rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
    // positive 60-bit range
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60)))
  }

  test("usable inside lambda expressions (the fingerprint shape)") {
    graft.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    val got = Seq("a b c").toDF("text")
      .select(expr(
        "aggregate(transform(split(text, ' '), t -> md5p60(t) % 2147483647), " +
          "cast(0 as bigint), (acc, x) -> (acc * 131 + x) % 1000000007)"))
      .collect().head.getLong(0)
    val exp = Seq("a", "b", "c")
      .map(t => Md5Prefix60.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % 2147483647L)
      .foldLeft(0L)((acc, x) => (acc * 131 + x) % 1000000007L)
    got shouldBe exp
  }

  test("md5s60 equals the conv(substring(md5, 16, 15)) SQL construction exactly") {
    graft.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    val rows = (Seq("", "a", "hello world", "Z" * 1000, "unicode é中")
      ++ (1 to 50).map(i => s"token_$i")).toDF("t")
      .select(
        expr("md5s60(t)").as("native"),
        expr("cast(conv(substring(md5(t), 16, 15), 16, 10) as bigint)").as("sql"))
      .collect()
    rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60)))
  }

  test("null propagates") {
    graft.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    Seq(Option.empty[String]).toDF("t")
      .selectExpr("md5p60(t)").collect().head.isNullAt(0) shouldBe true
  }
}
