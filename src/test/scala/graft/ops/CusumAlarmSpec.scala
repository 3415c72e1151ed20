package graft.ops

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The batch CUSUM fold fires on a planted mean shift, in both
  * directions, and stays quiet on a flat series.
  */
class CusumAlarmSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("batch fold: planted shift alarms after it, flat series never does") {
    import spark.implicits._
    // 30 flat rows at 100.00, then 30 rows at 150.00: each post-shift row
    // adds (5000 - kappa) = 3000 to su; alarm once su > 10000 -> 4th
    // post-shift row (su = 12000), then restart and re-fire every 4 rows
    val ticks = (1 to 60).map { i =>
      ("S", new Timestamp(1700000000000L + i * 60000L), i.toLong,
        if (i <= 30) 100.0 else 150.0)
    }.toDF("symbol", "ts", "event_id", "value")
    val out = CusumAlarm.detect(ticks)
      .orderBy("event_id").collect()
    val alarms = out.filter(_.getAs[Boolean]("alarm")).map(_.getAs[Long]("event_id"))
    alarms.headOption shouldBe Some(34L)
    alarms should contain theSameElementsInOrderAs Seq(34L, 38L, 42L, 46L, 50L, 54L, 58L)
    // pre-shift rows: both statistics pinned at 0
    out.filter(_.getAs[Long]("event_id") <= 30).foreach { r =>
      r.getAs[Long]("su_fp") shouldBe 0L
      r.getAs[Long]("sl_fp") shouldBe 0L
    }
    // a downward shift drives the LOWER statistic
    val down = (1 to 10).map { i =>
      ("D", new Timestamp(1700000000000L + i * 60000L), i.toLong,
        if (i <= 5) 100.0 else 20.0)
    }.toDF("symbol", "ts", "event_id", "value")
    val dAlarms = CusumAlarm.detect(down)
      .filter("alarm").orderBy("event_id").collect()
    dAlarms should not be empty
    dAlarms.head.getAs[Long]("sl_fp") should be > 10000L
  }
}
