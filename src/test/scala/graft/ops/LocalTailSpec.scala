package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** The r9 hybrid tails (driver-local union-find in
  * ConnectedComponents.run, driver-local Kruskal in Mst.forest) must be
  * INVISIBLE: forcing the distributed path (LocalTail forced distributed)
  * and the local path (default budget) on the same inputs yields
  * identical rows — including string node ids, whose min/order must
  * follow UTF8 binary order, not UTF-16.
  */
class LocalTailSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomEdges(n: Int, seed: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => (r.nextInt(200).toLong, r.nextInt(200).toLong))
  }

  test("CC local tail == distributed fixpoint (long ids)") {
    val e = randomEdges(500, 7).toDF("src", "dst")
    val (local, dist) = Branches.both {
      ConnectedComponents.run(e)
        .as[(Long, Long)].collect().toMap
    }
    local shouldBe dist
  }

  test("CC local tail == distributed fixpoint (string ids)") {
    val e = randomEdges(400, 11)
      .map { case (a, b) => (s"N$a", s"N$b") }.toDF("src", "dst")
    val (local, dist) = Branches.both {
      ConnectedComponents.run(e)
        .as[(String, String)].collect().toMap
    }
    local shouldBe dist
  }

  test("MST local Kruskal == Boruvka forest") {
    val r = new scala.util.Random(13)
    val e = (1 to 600)
      .map(_ => (r.nextInt(80).toLong, r.nextInt(80).toLong,
        (r.nextInt(50) + 1).toLong))
      .toDF("a", "b", "w")
    val (local, dist) = Branches.both {
      Mst.forest(e).as[(Long, Long, Long)].collect().toSet
    }
    local shouldBe dist
  }
}
