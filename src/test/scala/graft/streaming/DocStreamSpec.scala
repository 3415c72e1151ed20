package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.TextPrep
import graft.streaming.DocStream.DocEvent

/** Streaming document pipeline: dedup-by-content, quality gate, chunking —
  * and its agreement with the batch operators built from the same
  * TextPrep expressions.
  */
class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(m: Int) = Timestamp.valueOf(f"2024-03-01 10:$m%02d:00")

  private val goodText = ((1 to 40).map(i => s"tok$i") :+ "the").mkString(" ")
  private val shortText = "too short doc"
  private val repetitive = Seq.fill(40)("same").mkString(" ")

  test("pipeline dedups by content, drops junk, chunks the survivors — batch-identical") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val query = DocStream.pipeline(input.toDS(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("doc_stream").start()
    try {
      input.addData(Seq(
        DocEvent(1, ts(0), "en", goodText),
        DocEvent(2, ts(1), "en", goodText),      // exact dup content -> dropped
        DocEvent(3, ts(2), "en", shortText),     // too_short -> dropped
        DocEvent(4, ts(3), "en", repetitive),    // too_repetitive -> dropped
        DocEvent(5, ts(4), "de", goodText + " extra tokens here")))
      query.processAllAvailable()
      // re-delivery of doc 1 within the watermark: a no-op
      input.addData(Seq(DocEvent(1, ts(5), "en", goodText)))
      query.processAllAvailable()

      val got = spark.table("doc_stream")
      val byDoc = got.groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // 41 tokens -> chunks at stride 24: ceil((41-32)/24)+1 = 2
      assert(byDoc == Map(1L -> 2L, 5L -> 2L))

      // batch twin: the same TextPrep expressions over the surviving docs
      val batch = TextPrep.chunkDocs(
        Seq((1L, goodText), (5L, goodText + " extra tokens here"))
          .toDF("doc_id", "text"), 32, 24)
        .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")
        .collect().map(_.toSeq).toSet
      val stream = got
        .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")
        .collect().map(_.toSeq).toSet
      assert(stream == batch)
    } finally query.stop()
  }

  test("quality verdict agrees between the streaming gate and q_quality_filter") {
    import spark.implicits._
    // same expression object compiles into both plans; sanity-check the
    // verdict boundary cases once here
    val df = Seq(shortText, repetitive, goodText, "a b c d e").toDF("text")
      .withColumn("verdict", TextPrep.verdict)
    val verdicts = df.collect().map(_.getAs[String]("verdict")).toSeq
    assert(verdicts == Seq("too_short", "too_repetitive", "keep", "keep"))
  }
}
