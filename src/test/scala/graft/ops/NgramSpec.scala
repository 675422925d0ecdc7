package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Bigram count-of-counts: hand-computed frequencies, tokenizer
  * parity with TextAnalysis (lowercase, whitespace runs), and the
  * short-document edge cases (0/1 tokens). */
class NgramSpec extends AnyFunSuite with SparkSuite {

  private def docs(texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def run(d: DataFrame): Map[Long, (Long, String)] =
    Ngram.bigramCountOfCounts(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("hand-computed count-of-counts with a cross-document bigram") {
    // doc0: a b a b c  -> "a b"×2, "b a", "b c"
    // doc1: b c        -> "b c" (now ×2 total)
    // bigram counts: {"a b"->2, "b c"->2, "b a"->1}
    // count-of-counts: r=2 -> n_r=2 (min "a b"); r=1 -> n_r=1 ("b a")
    val got = run(docs("a b a b c", "b c"))
    assert(got === Map(2L -> ((2L, "a b")), 1L -> ((1L, "b a"))))
  }

  test("case folding and whitespace runs collapse before pairing") {
    // "A  b\tB a" tokenizes to [a, b, b, a] -> "a b", "b b", "b a"
    val got = run(docs("A  b\tB a"))
    assert(got === Map(1L -> ((3L, "a b"))))
  }

  test("empty and single-token documents contribute no bigrams") {
    assert(run(docs("", "  ", "solo")).isEmpty)
    // ...and don't disturb others
    assert(run(docs("", "solo", "x y")) === Map(1L -> ((1L, "x y"))))
  }
}
