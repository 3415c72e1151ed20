package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.model.Tables

/** Contracts of the NearDup signatures that the SQL oracle covers only
  * end-to-end: the row-local MinHash bands (the stream-static
  * `CrossDedupGate` probe) equal the batch aggregation's bands, the lo
  * half of the 120-bit wide SimHash is bit-identical to the 60-bit
  * signature (shared per-token prefix hash), and the 4x30-bit banding
  * loses NO pair versus an all-pairs hamming scan (the pigeonhole
  * exactness claim).
  */
class NearDupWideSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("row-local minhash bands equal the batch aggregation's bands") {
    val docs = Tables.documents(spark, sfDir)
    val batch = NearDup.minhashBands(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val rowLocal = NearDup.withRowMinhashBands(docs)
      .select(col("doc_id"),
        posexplode(expr("array(band_0, band_1, band_2, band_3)"))
          .as(Seq("band_id", "band_hash")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .filterNot(_._3.startsWith("uniq-")) // short docs: batch omits them
      .toSet
    assert(rowLocal == batch)
  }

  test("wide signature lo half is bit-identical to the 60-bit simhash") {
    val docs = Tables.documents(spark, sfDir)
    val narrow = NearDup.simhashSig(docs).withColumnRenamed("simhash", "expected")
    val mismatches = NearDup.simhashWideSig(docs)
      .join(narrow, "doc_id")
      .filter(col("sim_lo") =!= col("expected"))
      .count()
    mismatches shouldBe 0L
  }

  test("banded wide pairs equal the all-pairs hamming scan (no lost candidates)") {
    val docs = Tables.documents(spark, sfDir)
    val sig = NearDup.simhashWideSig(docs)
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.sim_lo ^ b.sim_lo) + bit_count(a.sim_hi ^ b.sim_hi)")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = NearDup.simhashWidePairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    banded shouldBe brute
    brute should not be empty // the fixture actually exercises the path
  }
}
