package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import Multimodal._

class MultimodalSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("FakeCodec decode is deterministic and shape-correct") {
    val d = FakeCodec.decode(Array[Byte](0, 1, 2, 3, 4, 5, 6, 7, 8))
    d.w shouldBe 3
    d.h shouldBe 3
    d.pixels shouldBe Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)
    // signed bytes read as unsigned intensities
    FakeCodec.decode(Array[Byte](-1)).pixels.head shouldBe 255.0
  }

  test("resize block-averages to the target grid") {
    // 4x4 plane of value v at (x,y) = y*4+x, resized to 2x2: each output
    // cell averages a 2x2 block
    val d = Decoded(4, 4, (0 until 16).map(_.toDouble).toArray)
    val r = resize(d, 2, 2)
    r shouldBe Array((0.0 + 1 + 4 + 5) / 4, (2.0 + 3 + 6 + 7) / 4,
      (8.0 + 9 + 12 + 13) / 4, (10.0 + 11 + 14 + 15) / 4)
    // degenerate 1x1 source upscales by replication
    resize(Decoded(1, 1, Array(7.0)), 2, 2) shouldBe Array(7.0, 7.0, 7.0, 7.0)
  }

  test("extractFeatures: distributed mapPartitions pass, exact stats") {
    import spark.implicits._
    val payload = "abcd".getBytes("UTF-8") // intensities 97,98,99,100
    val media = Seq(
      MediaRecord(1L, "image", 2, 2, payload),
      MediaRecord(2L, "audio", 4, 1, Array[Byte]())
    ).toDS().repartition(2)

    val feats = extractFeatures(media).collect().sortBy(_.doc_id)
    feats should have length 2

    val f1 = feats.head
    f1.n_bytes shouldBe 4
    f1.mean_intensity shouldBe 98.5 +- 1e-12
    f1.std_intensity shouldBe math.sqrt(1.25) +- 1e-12
    f1.thumb_4x4 should have length 16

    // empty payload decodes to a 1x1 zero plane, not a crash
    val f2 = feats(1)
    f2.n_bytes shouldBe 0
    f2.mean_intensity shouldBe 0.0
  }

  test("sampleFrames: stride windows, cap, and empty-payload guard") {
    import spark.implicits._
    // 100 bytes -> frames at offsets 0 and 64 (floor((100-32)/64)+1 = 2)
    val blob = Array.tabulate[Byte](100)(i => (i % 127).toByte)
    val media = Seq(
      (1L, "video", 3, 3, blob),
      (2L, "video", 3, 3, Array[Byte](1, 2)), // shorter than one frame
      (3L, "video", 3, 3, Array[Byte]()) // empty payload
    ).toDF("doc_id", "media_type", "declared_w", "declared_h", "blob")

    val frames = sampleFrames(media).collect()
    val byDoc = frames.groupBy(_.getLong(0))
    byDoc(1L).map(_.getInt(2)).sorted shouldBe Array(0, 1)
    // frame payloads are 32-byte hex slices from the right offsets
    val hex0 = byDoc(1L).find(_.getInt(2) == 0).get.getString(3)
    hex0 shouldBe blob.slice(0, 32).map(b => f"${b & 0xff}%02x").mkString
    val hex1 = byDoc(1L).find(_.getInt(2) == 1).get.getString(3)
    hex1 shouldBe blob.slice(64, 96).map(b => f"${b & 0xff}%02x").mkString
    byDoc.contains(2L) shouldBe false
    byDoc.contains(3L) shouldBe false
  }

  test("media features flow into the ANN path (thumbnail cosine top-k)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val media = mediaTable(spark, "/root/testdata/sf0.001").as[MediaRecord]
    val feats = extractFeatures(media)
      .select(col("doc_id"), col("thumb_4x4").as("emb"))
    val q = feats.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("emb").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cosine").desc, col("doc_id"))
    val topk = feats.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("doc_id"))
      .withColumn("cosine",
        graft.functions.VecOps.cosine(col("q_emb"), col("emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .collect()
    // every probe gets 3 neighbors with sane cosine values
    topk.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      rows should have length 3
      rows.foreach { r =>
        val c = r.getAs[Double]("cosine")
        assert(!c.isNaN && c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9)
      }
    }
    // deterministic across runs (fake codec + deterministic pipeline)
    val again = feats.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("doc_id"))
      .withColumn("cosine",
        graft.functions.VecOps.cosine(col("q_emb"), col("emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .collect()
    assert(topk.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("mediaTable: binary column schema with typed metadata") {
    val m = mediaTable(spark, "/root/testdata/sf0.001")
    m.schema("blob").dataType.typeName shouldBe "binary"
    m.schema("media_type").dataType.typeName shouldBe "string"
    val types = m.select("media_type").distinct().collect().map(_.getString(0))
    types.toSet.subsetOf(Set("image", "audio", "video")) shouldBe true
  }
}
