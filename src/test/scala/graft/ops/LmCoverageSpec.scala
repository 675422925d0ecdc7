package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Held-out bigram LM coverage: hand-computed known/OOV counts, the
  * split rule, occurrence (not distinct) counting, and degenerate
  * short documents. */
class LmCoverageSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def run(d: DataFrame, m: Long = 5L): Map[Long, (Long, Long, Long, Long, Double)] =
    Ngram.lmCoverage(d, m).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))))
      .toMap

  test("hand case: known bigrams, OOV tokens, one IEEE division") {
    // train (ids 1,2): bigrams {a b, b c, c d}; vocab {a,b,c,d}
    // held (id 0): "a b c x" -> bigrams (a b)✓ (b c)✓ (c x)✗; x OOV
    val d = docs((0L, "a b c x"), (1L, "a b c"), (2L, "c d"))
    val got = run(d)
    assert(got.keySet === Set(0L))
    assert(got(0L) === ((4L, 3L, 2L, 1L, 2.0 / 3.0)))
  }

  test("occurrences count, not distinct grams") {
    // held doc repeats a known bigram: "a b a b" -> grams (a b)(b a)(a b)
    // with train containing only "a b" -> n_known = 2 of 3
    val d = docs((0L, "a b a b"), (1L, "a b"))
    val got = run(d)
    assert(got(0L) === ((4L, 3L, 2L, 0L, 2.0 / 3.0)))
  }

  test("single-token and case-folded held docs") {
    // id 0: one token, no bigrams -> coverage 0.0 by definition;
    // id 5: case-folds onto train vocab
    val d = docs((0L, "solo"), (5L, "A B"), (1L, "a b solo"))
    val got = run(d)
    assert(got(0L) === ((1L, 0L, 0L, 0L, 0.0)))
    assert(got(5L) === ((2L, 1L, 1L, 0L, 1.0)))
  }

  test("only held-out docs are scored; train docs never appear") {
    val d = docs((0L until 10L).map(i => (i, "a b c")): _*)
    val got = run(d)
    assert(got.keySet === Set(0L, 5L))
    got.values.foreach(v => assert(v === ((3L, 2L, 2L, 0L, 1.0))))
  }

  test("fully OOV held doc") {
    val d = docs((0L, "zz yy"), (1L, "a b"))
    val got = run(d)
    assert(got(0L) === ((2L, 1L, 0L, 2L, 0.0)))
  }
}
