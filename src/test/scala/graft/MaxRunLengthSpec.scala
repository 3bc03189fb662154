package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.MaxRunLengthExpression
import graft.ops.TextAnalysis

/** Pins the native longest-equal-run expression against the tree it
  * replaced in the repetition signal: sort the array, then one
  * `aggregate` fold carrying (best, cur) over adjacent elements. Checked on
  * edge-case and seeded random `array<bigint>` inputs, and end to end:
  * `TextAnalysis.repetitionCounts` (hashed bigrams + the expression) equals
  * the old string-bigram fold on the real corpus. */
class MaxRunLengthSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The replaced fold over a SORTED array attribute: empty and
    * 1-element arrays keep the initial `best` of 1. */
  private def foldReference(sorted: Column): Column = {
    val n = size(sorted)
    val idxs = when(n > 1, sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    aggregate(idxs,
      named_struct(lit("best"), lit(1), lit("cur"), lit(1)),
      (acc, i) => {
        val cur2 = when(element_at(sorted, i + 1) === element_at(sorted, i),
          acc.getField("cur") + 1).otherwise(lit(1))
        named_struct(lit("best"), greatest(acc.getField("best"), cur2),
          lit("cur"), cur2)
      },
      acc => acc.getField("best"))
  }

  /** The replaced non-distinct string bigrams over a MATERIALIZED token
    * array: a doc with fewer than two tokens yields one truncated gram. */
  private def bigrams(toks: Column): Column =
    transform(sequence(lit(0), greatest(size(toks) - 2, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(2))))

  private def compare(arrays: Seq[Seq[Long]]): Seq[Int] = {
    val rows = arrays.map(Tuple1(_)).toDF("a")
      .withColumn("sorted", array_sort($"a"))
      .select(MaxRunLengthExpression.maxRunLength($"a").as("fast"),
        foldReference($"sorted").as("ref"))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == r.getInt(1), s"row $i (${arrays(i)}) diverged")
    }
    rows.map(_.getInt(0)).toSeq
  }

  test("matches the fold on empty, 1-element, all-equal and tied-run arrays") {
    val got = compare(Seq(
      Seq.empty[Long],
      Seq(42L),
      Seq(7L, 7L, 7L, 7L),
      Seq(3L, 1L, 3L, 2L, 1L, 9L),  // two tied longest runs (1s and 3s)
      Seq(5L, 4L, 3L, 2L, 1L),      // all distinct
    ))
    assert(got == Seq(1, 1, 4, 2, 1))
  }

  test("matches the fold on seeded random arrays") {
    val rnd = new scala.util.Random(17)
    val arrays = Seq.fill(200) {
      val range = 1 + rnd.nextInt(20)
      Seq.fill(rnd.nextInt(60))(rnd.nextInt(range).toLong - range / 2)
    } ++ Seq(Seq.fill(100)(rnd.nextLong()), Seq(Long.MinValue, Long.MaxValue, Long.MinValue))
    compare(arrays)
  }

  test("null array yields null") {
    val r = Seq(Tuple1(null: Seq[Long])).toDF("a")
      .select(MaxRunLengthExpression.maxRunLength($"a")).head()
    assert(r.isNullAt(0))
  }

  test("repetitionCounts equals the string-bigram fold on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val sorted = col("__sorted")
    val reference = docs
      .withColumn("__toks", TextAnalysis.tokens(lower($"text")))
      .withColumn("__sorted", array_sort(bigrams(col("__toks"))))
      .select($"doc_id", foldReference(sorted).cast("long").as("top_gram_count"),
        size(sorted).cast("long").as("n_grams"))
    val fast = TextAnalysis.repetitionCounts(docs, "doc_id", "text")
    assert(fast.filter($"top_gram_count" > 1).count() > 0, "no repeated bigram to compare")
    assert(fast.exceptAll(reference).isEmpty, "rows only in repetitionCounts")
    assert(reference.exceptAll(fast).isEmpty, "rows only in the reference")
  }
}
