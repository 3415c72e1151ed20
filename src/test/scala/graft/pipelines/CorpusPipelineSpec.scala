package graft.pipelines

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.model.Tables

/** End-to-end curation over the sf0.001 documents table: stage
  * accounting is monotone and matches the stage operators run
  * standalone; decontamination drops exactly the eval-matching docs;
  * chunk and packing invariants hold on the final frame; and the whole
  * pipeline is deterministic across repartitionings.
  */
class CorpusPipelineSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sfDir)

  test("stage accounting is monotone and exact-dedup matches distinct content") {
    val byStage = CorpusPipeline.docStages(docs, None)
      .map { case (stage, df) => stage -> df.count() }.toMap +
      ("chunks" -> CorpusPipeline.curate(docs).count())
    val order = Seq("input", "exact_dedup", "near_dedup", "quality",
      "decontaminated")
    order.sliding(2).foreach { case Seq(a, b) =>
      byStage(b) should be <= byStage(a)
    }
    byStage("input") shouldBe docs.count()
    byStage("exact_dedup") shouldBe
      docs.select(md5(col("text"))).distinct().count()
    byStage("chunks") should be >= byStage("decontaminated")
  }

  test("eval-set docs are decontaminated away; others survive") {
    import spark.implicits._
    // use two surviving docs' own text as the "benchmark" — they must
    // then be flagged (full shingle overlap) and dropped
    val survivors = CorpusPipeline.docStages(docs, None).last._2
      .select("doc_id").as[Long].collect().sorted.take(2)
    val ev = docs.filter(col("doc_id").isin(survivors: _*))
      .select(col("doc_id"), col("text"))
    val after = CorpusPipeline.docStages(docs, Some(ev)).last._2
      .select("doc_id").as[Long].collect().toSet
    survivors.foreach(s => after should not contain s)
    val before = CorpusPipeline.docStages(docs, None).last._2
      .select("doc_id").as[Long].collect().toSet
    (before -- after -- survivors.toSet).foreach { dropped =>
      fail(s"doc $dropped dropped without matching the eval set")
    }
  }

  test("SA span-dedup variant: stage present, monotone, spans gone") {
    val stages = CorpusPipeline.docStages(docs, None, saSpans = Some((16, 64)))
    val names = stages.map(_._1)
    names should contain inOrder ("near_dedup", "sa_span_dedup", "quality")
    val byName = stages.toMap
    val before = byName("near_dedup").count()
    val after = byName("sa_span_dedup").count()
    after should be <= before
    // no >= 16-char span may appear twice in the cleaned corpus: rerun
    // detection on the cleaned docs — keep-earliest leaves each pair's
    // earlier copy, so survivors exist, but every ADJACENT-pair victim
    // was excised; detection on the output only reports spans whose
    // both sides survived, which for the synthetic corpus must shrink
    val cleanedSpans = graft.ops.RepeatedSpans
      .find(byName("sa_span_dedup").select(col("doc_id").as("id"),
        col("text")), minLen = 16, cap = 64).count()
    val rawSpans = graft.ops.RepeatedSpans
      .find(byName("near_dedup").select(col("doc_id").as("id"),
        col("text")), minLen = 16, cap = 64).count()
    cleanedSpans should be <= rawSpans
    // the variant composes through to packed chunks
    CorpusPipeline.curate(docs, saSpans = Some((16, 64)))
      .count() should be > 0L
  }

  test("chunk and packing invariants hold; pipeline is repartition-deterministic") {
    import spark.implicits._
    val out = CorpusPipeline.curate(docs, chunkSize = 32, chunkStride = 24,
      packShards = 4, packBudget = 256L)
    // every chunk within size; bin sums respect the rollover contract
    // (the boundary-straddling chunk lands in the bin its cumsum ends
    // in, so a bin can exceed the budget by at most chunkSize - 1)
    out.filter(col("n_chunk_tokens") > 32).count() shouldBe 0L
    out.groupBy("shard", "bin_id")
      .agg(sum("n_chunk_tokens").as("s"))
      .filter(col("s") > 256L + 31L).count() shouldBe 0L
    // determinism: identical packed output at a different parallelism
    val out2 = CorpusPipeline.curate(docs.repartition(13), chunkSize = 32,
      chunkStride = 24, packShards = 4, packBudget = 256L)
    val key = Seq("doc_id", "chunk_id", "shard", "cum_tokens", "bin_id")
    out.select(key.head, key.tail: _*).as[(Long, Long, Long, Long, Long)]
      .collect().toSet shouldBe
      out2.select(key.head, key.tail: _*).as[(Long, Long, Long, Long, Long)]
        .collect().toSet
  }
}
