package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support for the training-data
  * pipeline: media payloads are opaque `binary` columns with a typed
  * metadata struct alongside, and all per-record compute (decode,
  * feature-extract, resize, frame-sample) runs as typed `mapPartitions`
  * over the Dataset — one pass per partition, no driver collect, no
  * shuffle (the pipeline is embarrassingly parallel until the caller
  * aggregates).
  *
  * The library ships no media decoder: [[FakeCodec]] is the
  * clearly-marked deterministic stand-in that derives "pixels" from the
  * payload bytes themselves. Everything around it (the schema, the
  * binary column handling, the batch shape, the partitioning) is the
  * production plumbing.
  *
  * At 100 TB scale the design holds because media rows are processed
  * streaming per-partition (constant memory per row, no
  * `collect_list`-style buffering), the blob column is only read when a
  * downstream operator actually references it (Parquet column pruning),
  * and feature outputs are small fixed-width vectors suitable for the ANN
  * operators in [[graft.queries.DataPrepQueries]].
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      doc_id: Long,
      media_type: String, // image | audio | video
      declared_w: Int, // metadata as ingested (may disagree with payload)
      declared_h: Int,
      blob: Array[Byte])

  /** A decoded payload: a grayscale "pixel" plane in [0, 255]. */
  final case class Decoded(w: Int, h: Int, pixels: Array[Double])

  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      mean_intensity: Double,
      std_intensity: Double,
      thumb_4x4: Array[Float])

  /** The decode stand-in for "decode to grayscale": the payload as
    * unsigned bytes row-major in a W×H plane, W = ceil(sqrt(n)).
    */
  object FakeCodec {
    def decode(blob: Array[Byte]): Decoded = {
      val n = math.max(blob.length, 1)
      val w = math.ceil(math.sqrt(n.toDouble)).toInt
      val h = math.ceil(n.toDouble / w).toInt
      val px = new Array[Double](w * h)
      var i = 0
      while (i < blob.length) { px(i) = (blob(i) & 0xff).toDouble; i += 1 }
      Decoded(w, h, px)
    }
  }

  /** Block-average resize to a fixed `tw`×`th` thumbnail. */
  def resize(d: Decoded, tw: Int, th: Int): Array[Double] = {
    val out = new Array[Double](tw * th)
    var ty = 0
    while (ty < th) {
      var tx = 0
      while (tx < tw) {
        val x0 = tx * d.w / tw; val x1 = math.max((tx + 1) * d.w / tw, x0 + 1)
        val y0 = ty * d.h / th; val y1 = math.max((ty + 1) * d.h / th, y0 + 1)
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1 && y < d.h) {
          var x = x0
          while (x < x1 && x < d.w) { s += d.pixels(y * d.w + x); n += 1; x += 1 }
          y += 1
        }
        out(ty * tw + tx) = if (n == 0) 0.0 else s / n
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** The media table, derived deterministically from `documents`: the text
    * payload bytes stand in for an ingested media blob. In production this
    * is a Parquet table with a real binary column; the schema and the
    * dataflow below are identical either way.
    */
  def mediaTable(s: SparkSession, sfDir: String): DataFrame =
    graft.model.Tables.documents(s, sfDir).select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      (col("doc_id") % 64 + 16).cast("int").as("declared_w"),
      (col("doc_id") % 48 + 16).cast("int").as("declared_h"),
      encode(col("text"), "UTF-8").as("blob"))

  /** Decode → resize → featurize, one streaming pass per partition.
    * Constant memory per row; output is a narrow fixed-width Dataset.
    */
  def extractFeatures(
      media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { rec =>
        val d = FakeCodec.decode(rec.blob)
        val n = d.pixels.length.toDouble
        val mean = d.pixels.sum / n
        val varr = d.pixels.map(p => (p - mean) * (p - mean)).sum / n
        val thumb = resize(d, 4, 4).map(_.toFloat)
        MediaFeatures(
          rec.doc_id, rec.media_type, rec.blob.length.toLong,
          mean, math.sqrt(varr), thumb)
      }
    }
  }

  /** Frame sampling: every `strideBytes`-th window of `frameBytes` bytes,
    * capped at `maxFrames` — the Spark-side plumbing of "sample every k-th
    * video frame" with the frame boundary math done in the engine and only
    * the per-frame payload handed to a decoder. Pure column expressions
    * (codegen-friendly); the blob is sliced lazily per frame.
    */
  def sampleFrames(
      media: DataFrame,
      frameBytes: Int = 32,
      strideBytes: Int = 64,
      maxFrames: Int = 8): DataFrame = {
    val nFrames = least(
      lit(maxFrames),
      greatest(
        lit(0),
        floor((octet_length(col("blob")) - frameBytes) / strideBytes) + 1))
    media
      .withColumn("n_frames", nFrames.cast("int"))
      .select(
        col("doc_id"), col("media_type"),
        // sequence(0, -1) would step DOWNWARD in Spark — guard empty payloads
        posexplode(expr(
          s"CASE WHEN n_frames > 0 THEN transform(sequence(0, n_frames - 1), " +
            s"i -> lower(hex(substring(blob, i * $strideBytes + 1, $frameBytes)))) " +
            "ELSE array() END"))
          .as(Seq("frame_id", "frame_hex")))
  }
}
