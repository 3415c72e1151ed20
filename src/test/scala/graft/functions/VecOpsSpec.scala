package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class VecOpsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def hofDot(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0 as double), (acc, v) -> acc + v)")

  test("vec_dot equals the higher-order-function fold bit-for-bit") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f), Array(0.3f, 0.7f)),
      (Array.empty[Float], Array.empty[Float])
    ).toDF("a", "b")
    val rows = df.select(
      VecOps.vecDot(col("a"), col("b")).as("native"),
      hofDot("a", "b").as("hof")).collect()
    rows.foreach { r =>
      // bit-identical, not approximately equal
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    rows.head.getDouble(0) shouldBe 32.0
    rows(2).getDouble(0) shouldBe 0.0
  }

  test("null semantics: null array, length mismatch, null element -> null") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(Seq(Some(1.0f))), Some(Seq(Some(1.0f), Some(2.0f)))), // mismatch
      (None, Some(Seq(Some(1.0f)))), // null array
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(1.0f), Some(2.0f)))) // null elem
    ).toDF("a", "b")
    val got = df.select(VecOps.vecDot(col("a"), col("b"))).collect()
    got.foreach(r => assert(r.isNullAt(0)))
  }

  test("vec_plane_dot equals the SQL hyperplane formula bit-for-bit") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Array(0.5f, -1.5f, 2.25f, 0.0f))).toDF("v")
    val j = 3
    val (a, b) = (1000003 + j * 7919, j * 271 + 17)
    val sqlForm = expr(
      s"aggregate(zip_with(v, sequence(1, size(v)), " +
        s"(x, i) -> cast(x as double) * ((((i * $a) + $b) % 1000) * 1e-3 - 5e-1)), " +
        "cast(0 as double), (acc, x) -> acc + x)")
    val r = df.select(
      VecOps.planeDot(col("v"), a, b).as("native"), sqlForm.as("hof"))
      .collect().head
    assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1)))
  }

  test("expressions compile inside whole-stage codegen (no interpreter fallback)") {
    // a parquet-backed frame so ConvertToLocalRelation can't fold the
    // projection away before it reaches codegen
    val df = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(VecOps.cosine(col("embedding"), col("embedding")).as("c"))
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("codegen id")
  }

  test("SQL registration: vec_dot usable from spark.sql") {
    val s = spark
    import s.implicits._
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("vec_probe")
    spark.sql("SELECT vec_dot(a, b) AS d FROM vec_probe")
      .collect().head.getDouble(0) shouldBe 11.0
  }

  test("works on double arrays too") {
    val s = spark
    import s.implicits._
    Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(VecOps.vecDot(col("a"), col("b")))
      .collect().head.getDouble(0) shouldBe 11.0
  }
}
