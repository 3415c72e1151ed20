package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fixture row (top-level: Spark encoders cannot instantiate case
  * classes nested inside a test class).
  */
case class CvjEv(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String)

/** Watermarked stream-stream join vs the batch q_click_view_join on the
  * driver's real events table: event-time replay across micro-batch
  * boundaries (views and clicks arriving as INDEPENDENT streams) must
  * produce exactly the batch pair set; plus the watermark eviction
  * contract on a hand-built stream.
  */
class ClickViewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("streamed pairs equal batch q_click_view_join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val batch = graft.SparkEntry.queries("q_click_view_join")(spark, sfDir)
      .select("user_id", "view_id", "click_id")
      .as[(Long, Long, Long)].collect().toSet

    val events = graft.model.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .as[CvjEv].collect().sortBy(_.ts.getTime)

    val vIn = MemoryStream[CvjEv]
    val cIn = MemoryStream[CvjEv]
    val q = ClickViewJoin.pairs(
        ClickViewJoin.views(vIn.toDF()), ClickViewJoin.clicks(cIn.toDF()))
      .writeStream.outputMode("append").format("memory")
      .queryName("cvj_stream").start()
    try {
      // four micro-batches; each side advances independently, so pairs
      // must form across batch boundaries in both directions
      events.grouped(math.max(1, events.length / 4 + 1)).foreach { chunk =>
        vIn.addData(chunk.toSeq)
        q.processAllAvailable()
        cIn.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("cvj_stream")
        .select("user_id", "view_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermark evicts stale views: a click an epoch later finds none") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00")

    val vIn = MemoryStream[CvjEv]
    val cIn = MemoryStream[CvjEv]
    val q = ClickViewJoin.pairs(
        ClickViewJoin.views(vIn.toDF()), ClickViewJoin.clicks(cIn.toDF()))
      .writeStream.outputMode("append").format("memory")
      .queryName("cvj_evict").start()
    try {
      // view at day 1; matching click in the same batch pairs fine
      vIn.addData(CvjEv(1, ts(1, 10), 7, "view"))
      cIn.addData(CvjEv(2, ts(1, 10), 7, "click"))
      q.processAllAvailable()
      // both watermarks jump ~9 days; the day-1 view leaves state
      vIn.addData(CvjEv(3, ts(10, 10), 7, "view"))
      cIn.addData(CvjEv(4, ts(10, 10), 7, "click"))
      q.processAllAvailable()
      // a click inside the old view's window but far behind the
      // watermark: the view was evicted, so no new pair may appear
      cIn.addData(CvjEv(5, ts(1, 10), 7, "click"))
      q.processAllAvailable()
      val got = spark.table("cvj_evict")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L), (3L, 4L)))
    } finally q.stop()
  }
}
