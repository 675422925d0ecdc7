package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Flesch–Kincaid readability: hand-computed counts and grades,
  * silent-e rule, punctuation stripping, and degenerate docs. */
class ReadabilitySpec extends AnyFunSuite with SparkSuite {

  private def run(texts: (Long, String)*): Map[Long, (Long, Long, Long, Double)] = {
    import spark.implicits._
    TextAnalysis.readability(texts.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
  }

  test("hand case: words, sentences, syllables, grade") {
    // 5 one-syllable words, 2 sentences:
    // 0.39*(5/2) + 11.8*(5/5) - 15.59 = -2.815
    val got = run((0L, "The cat sat. It ran!"))
    assert(got(0L) === ((5L, 2L, 5L, -2.815)))
  }

  test("silent trailing e drops one group when >= 2 vowel groups") {
    // snake: groups {a, e}, silent e -> 1 syllable
    // the: one group -> floor at 1 (no subtraction below 1 group count)
    // idea: groups {i, ea} = 2, no trailing e -> 2
    val got = run((0L, "snake the idea"))
    assert(got(0L)._3 === 1L + 1L + 2L)
  }

  test("punctuation-glued tokens count like clean words") {
    val a = run((0L, "there."))(0L)
    val b = run((0L, "there"))(0L)
    assert(a._1 === b._1 && a._3 === b._3)
  }

  test("no terminator floors sentences at 1; empty text grades 0") {
    val got = run((0L, "hello world"), (1L, ""), (2L, "...!!!"))
    assert(got(0L)._2 === 1L)
    assert(got(1L) === ((0L, 1L, 0L, 0.0)))
    assert(got(2L) === ((0L, 1L, 0L, 0.0)))
  }

  test("longer words raise the grade") {
    val simple = run((0L, "the cat sat on the mat. it was fun."))(0L)._4
    val complex = run((0L, "communication infrastructure necessitates " +
      "organizational prioritization. analytical methodology determines " +
      "operational sustainability."))(0L)._4
    assert(complex > simple + 5.0)
  }
}
