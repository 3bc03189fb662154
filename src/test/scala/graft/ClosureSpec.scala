package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.link.Closure

/** The reflexive-transitive closure over collected edges: cycles
  * converge, the depth guard still fails loudly, empty input gives an
  * empty closure. */
class ClosureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def closure(edges: Seq[(String, String)], maxDepth: Int = 32) =
    Closure.reflexiveTransitive(edges.toDF("clazz", "parent"), maxDepth = maxDepth)
      .as[(String, String)].collect().toSet

  test("a cyclic edge table converges to the full reachability relation") {
    val nodes = Seq("a", "b", "c")
    assert(closure(Seq("a" -> "b", "b" -> "c", "c" -> "a")) ==
      (for (x <- nodes; y <- nodes) yield (x, y)).toSet)
    // a cycle hanging off a tail: the tail reaches the cycle, not back
    val c = closure(Seq("t" -> "a", "a" -> "b", "b" -> "a"))
    assert(c == Set("t" -> "t", "t" -> "a", "t" -> "b", "a" -> "a", "a" -> "b",
      "b" -> "a", "b" -> "b"))
  }

  test("a ladder deeper than maxDepth fails with the require message") {
    def ladder(n: Int) = (0 until n).map(i => s"n$i" -> s"n${i + 1}")
    // round k adds the pairs k + 1 hops apart: a ladder of maxDepth rungs
    // converges within maxDepth rounds, one rung more still grows in the last
    val ok = closure(ladder(3), maxDepth = 3)
    assert(ok.contains("n0" -> "n3") && ok.size == 4 + 3 + 2 + 1)
    val e = intercept[IllegalArgumentException](closure(ladder(4), maxDepth = 3))
    assert(e.getMessage.contains("transitive closure still growing after 3 iterations"),
      e.getMessage)
  }

  test("empty edges give an empty closure with the (node, ancestor) shape") {
    val out = Closure.reflexiveTransitive(Seq.empty[(String, String)].toDF("clazz", "parent"))
    assert(out.columns.toSeq == Seq("clazz", "ancestor"))
    assert(out.count() == 0)
  }
}
