package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** HyperLogLog pins: agreement with an independent serial reference
  * (same spec, re-implemented with java MessageDigest + BigInteger —
  * not the Spark expression chain), the error envelope across three
  * orders of magnitude (the md5 prefix hash is FIXED, so the observed
  * errors are deterministic and the bound is a real assertion, not a
  * flake), linear-counting exactness-grade accuracy at tiny n, and the
  * union-merge algebra that makes the sketch a distributed aggregate.
  */
class HllSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Serial reference: same pinned spec, independent implementation. */
  private def serialHll(keys: Seq[String]): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val regs = new Array[Int](256)
    for (k <- keys) {
      val hex = md.digest(k.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val j = (h % 256).toInt
      val w = h / 256
      val rho = if (w == 0) 53 else 52 - (63 - java.lang.Long.numberOfLeadingZeros(w)) // 52 - floor(log2 w)
      if (rho > regs(j)) regs(j) = rho
      md.reset()
    }
    val z = regs.map(mj => math.pow(2.0, -mj)).sum
    val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    val raw = alpha * 256.0 * 256.0 / z
    val zeros = regs.count(_ == 0)
    if (zeros > 0 && raw <= 2.5 * 256) 256.0 * math.log(256.0 / zeros)
    else raw
  }

  private def sparkEstimate(keys: Seq[String], label: String): Double = {
    val obs = keys.toDF("s")
      .select(lit(label).as("key"), expr("md5p60(s)").as("h"))
    Hll.estimate(obs).select($"hll_fp").as[Long].head() / 1e3
  }

  test("matches the independent serial reference across cardinalities") {
    for (n <- Seq(7, 100, 640, 2000, 20000)) {
      val keys = (0 until n).map(i => s"user-$i")
      val est = sparkEstimate(keys, s"n$n")
      val ref = serialHll(keys)
      // both floor at 1e3 fp; allow the quantization step
      math.abs(est - ref) should be <= 2e-3
    }
  }

  test("error envelope: within 3.3 sigma (sigma = 1.04/sqrt(256)) for large n, near-exact tiny") {
    val sigma = 1.04 / math.sqrt(256.0)
    for (n <- Seq(2000, 5000, 20000, 50000)) {
      val keys = (0 until n).map(i => s"card-check-$i")
      val est = sparkEstimate(keys, s"e$n")
      math.abs(est - n) / n should be <= 3.3 * sigma
    }
    // linear-counting regime: tiny cardinalities are near-exact
    for (n <- Seq(1, 10, 50)) {
      val keys = (0 until n).map(i => s"tiny-$i")
      val est = sparkEstimate(keys, s"t$n")
      // linear counting stddev ~= sqrt(m(e^t - t - 1))/n, t = n/m: ~4.6%
      // at n = 50 — pin 8% (~1.7 sigma; deterministic given the hash)
      math.abs(est - n) / math.max(n, 1) should be <= 0.08
    }
  }

  test("duplicates never move the estimate (set semantics)") {
    val base = (0 until 500).map(i => s"dup-$i")
    val dup = base ++ base ++ base.take(100)
    sparkEstimate(dup, "dup") shouldBe sparkEstimate(base, "dup")
  }

  test("merge algebra: sketch of a union == union of part observations, any split") {
    val all = (0 until 3000).map(i => s"m-$i")
    val (a, b) = all.splitAt(1300)
    // overlapping halves: A has 0..1299, B has 1000..2999
    val bOv = all.drop(1000)
    val merged = (a ++ bOv).toDF("s")
      .select(lit("u").as("key"), expr("md5p60(s)").as("h"))
      .repartition(13)
    val whole = all.toDF("s")
      .select(lit("u").as("key"), expr("md5p60(s)").as("h"))
    Hll.estimate(merged).select($"hll_fp").as[Long].head() shouldBe
      Hll.estimate(whole).select($"hll_fp").as[Long].head()
  }

  test("rho ladder equals the leading-zero count of the 52-bit witness") {
    val ws = Seq(0L, 1L, 2L, 3L, 255L, 256L, (1L << 51) - 1, 1L << 51,
      (1L << 52) - 1) ++ (0 until 60).map(i => (1L << 45) + i * 12345L)
    val batch = ws.toDF("w")
      .selectExpr(s"CAST(${Hll.rhoCase("w")} AS INT) AS r")
      .as[Int].collect().toSeq
    ws.map(w => 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))) shouldBe batch
  }
}
