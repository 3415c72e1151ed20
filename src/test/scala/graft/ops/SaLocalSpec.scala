package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The r10 suffix-array local tail (SaLocal) must be INVISIBLE:
  * forcing the distributed doubling (LocalTail forced distributed) and
  * the local path (default budget) on the same corpora yields identical
  * (id, pos, sfx_rank) ranks and identical RepeatedSpans pair rows —
  * including duplicated documents (equal suffixes must share a dense
  * rank) and shared tails (prefix-sorts-first).
  */
class SaLocalSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(seed: Int, n: Int) = {
    val r = new scala.util.Random(seed)
    val words = Array("alpha", "beta", "gamma", "delta", "epsi")
    val base = (0 until n).map { i =>
      val len = 3 + r.nextInt(10)
      (i.toLong, (0 until len).map(_ => words(r.nextInt(words.length)))
        .mkString(" "))
    }
    // duplicates + shared tails + an empty-ish doc
    (base :+ (n.toLong, base.head._2) :+ (n + 1L, base.head._2.drop(7))
      :+ (n + 2L, "x"))
      .toDF("id", "text")
  }

  test("local suffix ranks == distributed doubling ranks") {
    val docs = corpus(7, 30)
    val (local, dist) = Branches.both {
      SuffixArray.build(docs)
        .as[(Long, Long, Long)].collect().toSet
    }
    local shouldBe dist
  }

  test("local neighbor-scan spans == distributed RepeatedSpans") {
    val docs = corpus(11, 40)
    val (local, dist) = Branches.both {
      RepeatedSpans.find(docs, minLen = 8, cap = 24)
        .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    }
    local shouldBe dist
    local should not be empty // duplicated docs guarantee repeats
  }

  test("SaDedup.clean identical through the local tail") {
    val docs = corpus(13, 25)
    val (local, dist) = Branches.both {
      SaDedup.clean(docs, minLen = 8, cap = 24)
        .as[(Long, Long, Long, String)].collect().toSet
    }
    local shouldBe dist
  }

  test("the gate charges Int arrays + output rows per character") {
    // at a 3-8 GiB heap: a corpus of 2^23 + 1 characters (over the old
    // fixed bound) is charged 116 B a character (28 B of arrays + an
    // 88 B output row), well past the budget; one past Int indexing is
    // never local; the largest sf0.1 corpus (376138 characters) stays
    // local
    assume(Runtime.getRuntime.maxMemory <= (8L << 30))
    assume(Runtime.getRuntime.maxMemory >= (3L << 30))
    val out = LocalTail.rowBytes(SaLocal.buildSchema(LongType))
    val (fits, d) = LocalTail.scoped(None) {
      Seq((1L << 23) + 1, Int.MaxValue.toLong, 376138L)
        .map(n => LocalTail.fits(spark, "suffix_array", SaLocal.charge(n, out)))
    }
    fits shouldBe Seq(false, false, true)
    d(1).bytes shouldBe Long.MaxValue
  }
}
