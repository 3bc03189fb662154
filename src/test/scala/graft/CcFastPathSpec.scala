package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents

/** Pins the round-6 small-graph fast path (single-task union-find) to the
  * iterative min-label loop: both regimes of
  * [[ConnectedComponents.components]] must produce the identical
  * (node, comp) assignment, including the UTF-8-byte min-id tie-break
  * (Spark's StringType min is UTF8String BINARY order, which disagrees
  * with Java String.compareTo above the BMP). */
class CcFastPathSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** symPre exactly as components() builds it, then both regimes on it. */
  private def bothRegimes(edges: Seq[(String, String)]): (Map[String, String], Map[String, String]) = {
    val df = edges.toDF("src", "dst")
    val symPre = df
      .select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src", $"e.dst")
      .filter($"src" =!= $"dst")
      .distinct()
      .localCheckpoint()
    val fast = symPre.as[(String, String)]
      .mapPartitions(ConnectedComponents.unionFindComponents)
      .toDF("node", "comp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // force the loop regime on a multi-partition edge set (what a large
    // materialized edge set looks like)
    val loop = ConnectedComponents
      .loopComponents(symPre.repartition(3).localCheckpoint(), edgeParts = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    (fast, loop)
  }

  test("fast path ≡ loop on chains, cycles, stars, isolated pairs") {
    val edges = Seq(
      ("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), // deep chain -> a
      ("x", "y"),                                     // pair -> x
      ("p", "q"), ("q", "r"), ("r", "s"), ("s", "p"), // cycle -> p
      ("hub", "m1"), ("hub", "m2"), ("hub", "m3"),    // star -> hub
      ("z9", "z8"), ("z8", "z7"), ("z9", "z7"),       // triangle -> z7
    )
    val (fast, loop) = bothRegimes(edges)
    assert(fast == loop)
    assert(fast("e") == "a" && fast("s") == "p" && fast("m3") == "hub"
      && fast("z9") == "z7" && fast("y") == "x")
  }

  test("fast path ≡ loop on pseudo-random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 80).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter { case (a, b) => a != b }
      val (fast, loop) = bothRegimes(edges)
      assert(fast == loop, s"trial $trial diverged")
    }
  }

  test("empty edge set and pure self-loops yield an empty assignment in both regimes") {
    val (fast1, loop1) = bothRegimes(Seq.empty)
    assert(fast1.isEmpty && loop1.isEmpty)
    val (fast2, loop2) = bothRegimes(Seq(("a", "a"), ("b", "b")))
    assert(fast2.isEmpty && loop2.isEmpty)
  }

  test("min-id tie-break is UTF-8 byte order (Spark min), not UTF-16") {
    // U+10000 encodes as the surrogate pair D800 DC00 (UTF-16: sorts BELOW
    // U+FF21) but as F0 90 80 80 in UTF-8 (sorts ABOVE U+FF21's EF BC A1):
    // Spark's StringType min — what the loop computes — picks U+FF21.
    val hi = new String(Character.toChars(0x10000))
    val fw = "Ａ" // fullwidth A
    assert(fw.compareTo(hi) > 0, "precondition: UTF-16 order must disagree")
    val (fast, loop) = bothRegimes(Seq((hi, fw)))
    assert(fast == loop)
    assert(fast(hi) == fw && fast(fw) == fw)
  }

  test("components() takes the loop regime on a multi-partition edge set") {
    // byte-sized AQE partitions this small split the distinct edge set over
    // several partitions, so components() itself must choose the loop
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (s"n${rnd.nextInt(300)}", s"n${rnd.nextInt(300)}"))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    def run() = JobCounter(spark)(ConnectedComponents.components(df)
      .as[(String, String)].collect().toMap)
    val (fast, fastJobs) = run()
    val prev = Seq(advisory, minSize).map(k => k -> spark.conf.getOption(k))
    val (loop, loopJobs) =
      try {
        spark.conf.set(advisory, "1k")
        spark.conf.set(minSize, "1k")
        run()
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val expected = ConnectedComponents.unionFindComponents(edges.iterator).toMap
    assert(fast == expected && loop == expected)
    // on top of the fast path's jobs, the loop checkpoints the re-partitioned
    // edge set and runs one job per round, at least two rounds
    assert(loopJobs >= fastJobs + 3, s"loop regime not taken: $loopJobs vs $fastJobs jobs")
  }

  test("union-find skips null-endpoint edges, as components() drops them") {
    val edges = Seq(("a", "b"), (null, "c"), ("d", null), (null, null), ("b", "e"))
    val direct = ConnectedComponents.unionFindComponents(edges.iterator).toMap
    assert(direct == Map("a" -> "a", "b" -> "a", "e" -> "a"), direct)
    val viaComponents = ConnectedComponents.components(edges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(viaComponents == direct)
  }
}
