package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Hilbert index: curve properties that would catch a wrong rotation
  * (bijectivity + UNIT-step adjacency on a subgrid — the property
  * Morton keys fail), plus SQL ≡ serial-reference equality on corner
  * and random cells through the production lateral-alias chain.
  */
class HilbertSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("order-1 quadrant order and corner cells") {
    // n=2 sub-case embedded at the top bit: the four top-level
    // quadrants are visited lower-left, upper-left, upper-right,
    // lower-right (the canonical U)
    val top = Seq((0L, 0L), (0L, 65535L), (65535L, 65535L), (65535L, 0L))
      .map { case (x, y) => Hilbert.xy2d(x, y) }
    top shouldBe top.sorted
    Hilbert.xy2d(0, 0) shouldBe 0L
    // the full curve ends at the lower-right corner
    Hilbert.xy2d(65535L, 0L) shouldBe (1L << 32) - 1
  }

  test("bijective with unit-step adjacency on the first 64 positions") {
    // for x,y < 8 the first 13 steps contribute 0 and only swap, so the
    // restriction is the (reflected) order-3 curve: d covers 0..63
    val cells = for (x <- 0L until 8L; y <- 0L until 8L)
      yield (Hilbert.xy2d(x, y), (x, y))
    val byD = cells.sortBy(_._1)
    byD.map(_._1) shouldBe (0L until 64L)
    byD.sliding(2).foreach { case Seq((_, (x1, y1)), (_, (x2, y2))) =>
      (math.abs(x1 - x2) + math.abs(y1 - y2)) shouldBe 1L
    }
  }

  test("SQL lateral chain ≡ serial reference (production path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L),
      (32768L, 32767L)) ++
      (1 to 40).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = pts.toDF("xc", "yc")
    df.createOrReplaceTempView("hilbert_pts")
    val got = spark.sql(
      s"""SELECT xc, yc, hval FROM (
         |  SELECT xc, yc, ${Hilbert.lateralColsSeq("xc", "yc").mkString(",\n")},
         |    hd0 AS hval
         |  FROM hilbert_pts)""".stripMargin)
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, h) => h shouldBe Hilbert.xy2d(x, y) }
  }
}
