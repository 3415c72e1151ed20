package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Jaro-Winkler fixed point: the textbook reference pairs land on the
  * exact integer values of the common-denominator formula, the function
  * is symmetric, behaves at the edges, and evaluates identically through
  * codegen (DataFrame) and the SQL registration.
  */
class JaroWinklerSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sqlSim(a: String, b: String): Long = {
    val df = Seq((a, b)).toDF("a", "b")
      .select(expr("jaro_winkler_fp(a, b)").as("s"))
    df.as[Long].head()
  }

  test("textbook pairs: exact integer values of the rational formula") {
    // MARTHA/MARHTA: m=6, k=2, jaro=944444, prefix 3 -> 961110
    sqlSim("MARTHA", "MARHTA") shouldBe 961110L
    // DIXON/DICKSONX: m=4, k=0, jaro=766666, prefix 2 -> 813332
    sqlSim("DIXON", "DICKSONX") shouldBe 813332L
    // DWAYNE/DUANE: m=4, k=0, jaro=822222, prefix 1 -> 839999
    sqlSim("DWAYNE", "DUANE") shouldBe 839999L
  }

  test("symmetry, identity, and edge conventions") {
    sqlSim("gonzalez", "gonzales") shouldBe sqlSim("gonzales", "gonzalez")
    sqlSim("identical", "identical") shouldBe 1000000L
    sqlSim("", "") shouldBe 1000000L
    sqlSim("", "abc") shouldBe 0L
    sqlSim("abc", "") shouldBe 0L
    sqlSim("abc", "xyz") shouldBe 0L // no matches
  }

  test("transposition tolerance: beats the Levenshtein view on swaps") {
    // a 2-char swap is 2 Levenshtein edits on an 8-char name (75% sim)
    // but stays above 0.95 for Jaro-Winkler
    sqlSim("jonathan", "jonathna") should be > 950000L
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.unsafe.types.UTF8String
    val pairs = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
      ("aaaa", "aaa"), ("xy", "yx"))
    pairs.foreach { case (a, b) =>
      JaroWinkler.simFp(
        UTF8String.fromString(a), UTF8String.fromString(b)) shouldBe
        sqlSim(a, b)
    }
  }

  test("Winkler boost is monotone in the shared prefix") {
    sqlSim("prefix-match-xx", "prefix-match-yy") should be >
      sqlSim("xxprefix-match-", "yyprefix-match-")
  }
}
