package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Star-contraction components vs a driver-side union-find oracle:
  * chains (worst-case diameter), multiple components, duplicate and
  * reversed edges, self-loops, and stability across parallelism.
  */
class ConnectedComponentsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)], parts: Int = 4): Unit = {
    val got = ConnectedComponents.run(
        edges.toDF("src", "dst").repartition(parts))
      .as[(Long, Long)].collect().toMap
    val expected = unionFind(edges.filter(e => e._1 != e._2))
    got shouldBe expected
  }

  test("chain collapses to its minimum despite worst-case diameter") {
    check((1L until 30L).map(i => (i, i + 1)))
  }

  test("multiple components, duplicate/reversed edges, self-loops") {
    check(Seq(
      (5L, 2L), (2L, 5L), (5L, 5L), (2L, 9L), // component min 2
      (100L, 40L), (40L, 77L), (77L, 100L),   // cycle, min 40
      (3L, 3L)))                              // self-loop only: dropped
  }

  test("random graphs match union-find at several parallelisms") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    for (parts <- Seq(1, 7, 32)) check(edges, parts)
  }
}
