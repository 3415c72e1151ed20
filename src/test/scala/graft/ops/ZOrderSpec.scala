package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class ZOrderSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zvalue interleaves bits (known values) and Spark parses the shared SQL") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .withColumn("z", expr(ZOrder.zvalueSql("x", "y")))
    df.select("z").as[Long].collect() shouldBe
      Array(0L, 1L, 2L, 39L, 4294967295L)
  }

  test("3-D zvalue matches a naive bit-interleave over random coordinates") {
    def naive(x: Long, y: Long, z: Long): Long =
      (0 until 21).foldLeft(0L) { (acc, i) =>
        acc |
          (((x >> i) & 1L) << (3 * i)) |
          (((y >> i) & 1L) << (3 * i + 1)) |
          (((z >> i) & 1L) << (3 * i + 2))
      }
    val rnd = new scala.util.Random(7)
    val max = (1L << 21) - 1
    val rows = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (max, max, max)) ++
      Seq.fill(200)((rnd.nextLong(max + 1), rnd.nextLong(max + 1),
        rnd.nextLong(max + 1)))
    val got = rows.toDF("x", "y", "z")
      .withColumn("zv", expr(ZOrder.zvalue3Sql("x", "y", "z")))
      .select("zv").as[Long].collect()
    got shouldBe rows.map { case (x, y, z) => naive(x, y, z) }.toArray
    // the all-ones point is the largest possible z-value: exactly 2^63-1
    naive(max, max, max) shouldBe Long.MaxValue
  }
}
