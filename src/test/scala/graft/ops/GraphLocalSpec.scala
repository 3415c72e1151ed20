package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The r10 BFS-tier hybrid tails (GraphLocal) must be INVISIBLE:
  * forcing the distributed rounds (LocalTail forced distributed) and
  * the local path (default budget) on the same random inputs yields
  * identical rows for Bfs.run, Bfs.doubleSweep, Closeness.run,
  * Sssp.run and TemporalReach.run — including unreachable seeds,
  * dangling nodes and tie-heavy argmaxes.
  */
class GraphLocalSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomEdges(n: Int, nodes: Int, seed: Int): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => (s"N${r.nextInt(nodes)}", s"N${r.nextInt(nodes)}"))
  }

  test("BFS local tail == distributed expansion") {
    val e = randomEdges(600, 150, seed = 3).toDF("src", "dst")
    // seeds include a node absent from the graph (hop-0 contract)
    val seeds = Seq("N1", "N2", "N3", "GHOST").toDF("node")
    val (local, dist) = Branches.both {
      Bfs.run(e, seeds, maxHops = 4)
        .as[(String, Int)].collect().toMap
    }
    local shouldBe dist
  }

  test("doubleSweep local tail == distributed double sweep") {
    val e = randomEdges(500, 120, seed = 9).toDF("src", "dst")
    val (local, dist) = Branches.both {
      Bfs.doubleSweep(e, maxHops = 6)
        .as[(String, String, Long)].collect().toSeq
    }
    local shouldBe dist
  }

  test("closeness local tail == distributed per-seed expansion") {
    val e = randomEdges(700, 160, seed = 17).toDF("src", "dst")
    val seeds = Seq("N0", "N5", "N7", "LONER").toDF("node")
    val (local, dist) = Branches.both {
      Closeness.run(e, seeds, maxHops = 4)
        .as[(String, Long, Long)].collect().toSet
    }
    local shouldBe dist
  }

  test("SSSP local tail == distributed relaxation") {
    val r = new scala.util.Random(23)
    val e = randomEdges(600, 140, seed = 23)
      .map { case (a, b) => (a, b, (r.nextInt(20) + 1).toLong) }
      .toDF("src", "dst", "w")
    val seeds = Seq("N1", "N9").toDF("node")
    val (local, dist) = Branches.both {
      Sssp.run(e, seeds, rounds = 5)
        .as[(String, Long)].collect().toMap
    }
    local shouldBe dist
  }

  test("temporal reach local tail == distributed relaxation") {
    val r = new scala.util.Random(31)
    val e = randomEdges(600, 140, seed = 31)
      .map { case (a, b) => (a, b, r.nextInt(30).toLong) }
      .toDF("src", "dst", "day")
    val seeds = Seq("N2", "N4").toDF("node")
    val (local, dist) = Branches.both {
      TemporalReach.run(e, seeds, rounds = 4)
        .as[(String, Long)].collect().toMap
    }
    local shouldBe dist
  }
}
