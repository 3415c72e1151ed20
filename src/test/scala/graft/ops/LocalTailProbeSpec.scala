package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The gate's probe is bounded: with the budget below the input size,
  * [[Bfs.run]] and [[Mmr.rerank]] decide from `limit(bound + 1)` and run
  * no full count() over their input before the distributed rounds; under
  * the default budget the local branch reuses the probe's rows instead of
  * reading the input again. Checked on the SQL executions each call runs.
  */
class LocalTailProbeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Executed plans of every Dataset action `body` runs, in order. */
  private def executions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once this sentinel is seen,
      // every execution `body` ran has been seen too
      spark.range(0, 7919).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.toArray.exists(_.toString.contains("Range (0, 7919")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray.map(_.toString).filterNot(_.contains("Range (0, 7919")).toSeq
  }

  /** A frame read from parquet, so plans over it name its path. */
  private def parquet(df: DataFrame, tag: String): (DataFrame, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_probe_$tag")
      .resolve("t").toString
    df.write.parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  private def reads(plan: String, path: String): Boolean =
    plan.contains(new java.io.File(path).getName) && plan.contains("FileScan")

  private def unboundedCount(plan: String): Boolean =
    plan.contains("count(1)") && !plan.contains("Limit")

  private val edges = {
    val r = new scala.util.Random(5)
    (1 to 400).map(_ => (s"N${r.nextInt(90)}", s"N${r.nextInt(90)}"))
  }

  test("Bfs.run over budget: bounded probe, no full count before the rounds") {
    val (e, path) = parquet(edges.toDF("src", "dst"), "bfs")
    val seeds = Seq("N1", "N2").toDF("node")
    val plans = executions {
      LocalTail.scoped(Some(LocalTail.Distributed)) {
        Bfs.run(e, seeds, maxHops = 3).collect()
      }
    }
    val onInput = plans.filter(reads(_, path))
    onInput.filter(unboundedCount) shouldBe empty
    // forced distributed = budget below any size: bound 0, probe limit 1
    onInput.head should include("CollectLimit 1")
  }

  test("Mmr.rerank over budget: bounded probe, no full count before the rounds") {
    val r = new scala.util.Random(9)
    val (cand, candPath) = parquet((for (q <- 0 until 4; c <- 0 until 10)
      yield (q.toLong, c.toLong, (r.nextInt(5) * 100).toLong))
      .toDF("q_id", "c_id", "rel_fp"), "cand")
    val (sims, simsPath) = parquet((for (q <- 0 until 4; a <- 0 until 10;
        b <- 0 until 10 if a != b)
      yield (q.toLong, a.toLong, b.toLong, (r.nextInt(3) * 50).toLong))
      .toDF("q_id", "a", "b", "s_fp"), "sims")
    val plans = executions {
      LocalTail.scoped(Some(LocalTail.Distributed)) {
        Mmr.rerank(cand, sims, k = 3).collect()
      }
    }
    val onInput = plans.filter(p => reads(p, candPath) || reads(p, simsPath))
    onInput.filter(unboundedCount) shouldBe empty
    onInput.head should include("CollectLimit 1")
  }

  test("Bfs.run under budget: the local tail reuses the probe's rows") {
    val (e, path) = parquet(edges.toDF("src", "dst"), "bfs_local")
    val seeds = Seq("N1", "N2").toDF("node")
    val bound = LocalTail.budget(spark) / LocalTail.rowBytes(e.schema)
    val (plans, decisions) = {
      var d: Seq[LocalTail.Decision] = Nil
      val p = executions {
        d = LocalTail.scoped(None)(Bfs.run(e, seeds, maxHops = 3))._2
      }
      (p, d)
    }
    decisions.map(_.branch) shouldBe Seq(LocalTail.Local)
    val onInput = plans.filter(reads(_, path))
    onInput should have size 1
    onInput.head should include(s"CollectLimit ${bound + 1}")
  }
}
