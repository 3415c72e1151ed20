package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EwmAvgSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refEwm(xs: Seq[Option[Double]], alpha: Double,
      minPeriods: Int): Seq[Option[Double]] = {
    var e = Option.empty[Double]
    var cnt = 0
    xs.map {
      case None => if (cnt >= minPeriods) e else None
      case Some(x) =>
        e = e match {
          case None    => Some(x)
          case Some(p) => Some((1 - alpha) * p + alpha * x)
        }
        cnt += 1
        if (cnt >= minPeriods) e else None
    }
  }

  private def runEwm(xs: Seq[Option[Double]], span: Int): Seq[Option[Double]] = {
    val w = Window.partitionBy($"k").orderBy($"i")
    xs.zipWithIndex
      .map { case (x, i) => ("k", i, x) }
      .toDF("k", "i", "v")
      .withColumn("e", EwmAvg.ewmAvg($"v", span).over(w))
      .orderBy($"i")
      .collect()
      .map(r => Option(r.getAs[Any]("e")).map(_.asInstanceOf[Double]))
      .toSeq
  }

  test("matches pandas ewm(adjust=False, min_periods=span) recursion") {
    val xs = Seq(10.0, 12.0, 11.0, 13.0, 12.5, 14.0, 13.0, 15.0, 14.5, 16.0,
      15.0, 17.0).map(Some(_))
    val got = runEwm(xs, span = 10)
    val exp = refEwm(xs, 2.0 / 11.0, 10)
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g.isDefined == e.isDefined, s"row $i null-ness")
      for (a <- g; b <- e) assert(math.abs(a - b) < 1e-12, s"row $i")
    }
  }

  test("null inputs are skipped: state carries, count does not advance") {
    val xs = Seq(Some(10.0), None, Some(20.0), Some(30.0), None, Some(40.0))
    val got = runEwm(xs, span = 3)
    val exp = refEwm(xs, 0.5, 3)
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g.isDefined == e.isDefined, s"row $i null-ness")
      for (a <- g; b <- e) assert(math.abs(a - b) < 1e-12, s"row $i")
    }
  }

  test("property: random series match the reference recursion") {
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val span = 1 + rnd.nextInt(12)
      val xs: Seq[Option[Double]] =
        Seq.fill(n)(Some(rnd.nextDouble() * 2e3 - 1e3))
      val got = runEwm(xs, span)
      val exp = refEwm(xs, 2.0 / (span + 1.0), span)
      got.zip(exp).foreach { case (g, e) =>
        assert(g.isDefined == e.isDefined, s"n=$n span=$span")
        for (a <- g; b <- e) assert(math.abs(a - b) < 1e-9, s"n=$n span=$span")
      }
    }
  }

  test("SQL registration: ewm_avg usable in spark.sql with OVER") {
    graft.GraftExtensions.register(spark)
    Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0))
      .toDF("k", "t", "v").createOrReplaceTempView("ewm_probe")
    val got = spark.sql(
      """SELECT ewm_avg(v, 2) OVER (PARTITION BY k ORDER BY t) AS e
        |FROM ewm_probe ORDER BY t""".stripMargin)
      .collect().map(r => Option(r.getAs[Any]("e")))
    assert(got(0).isEmpty) // min_periods = span = 2
    assert(math.abs(got(1).get.asInstanceOf[Double] - (10.0 / 3 + 40.0 / 3)) < 1e-9)
  }
}
