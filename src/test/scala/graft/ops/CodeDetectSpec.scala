package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Code-vs-prose routing ([[TextAnalysis.codeDetect]]):
  *  - hand-computed signals for a pure-code doc, a mixed doc, and a
  *    prose doc (the three planted arms);
  *  - every planted pure-code and mixed doc routes to code, every
  *    untouched prose doc routes to prose (the classifier binds both
  *    ways on the synthetic corpus);
  *  - the keyword regex is word-bounded (prefix words don't count);
  *  - deep indents count one run per 5-char window, same as the
  *    length-delta arithmetic the oracle uses.
  */
class CodeDetectSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, "srcT", t) }
      .toDF("doc_id", "source", "text")
  }

  private def run(rows: Seq[(Long, String)]) =
    TextAnalysis.codeDetect(docs(rows)).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toMap

  test("hand-computed signals per arm") {
    val code = "def f0(x):\n    return x + 0;\ndef f1(x):\n    return x + 1;"
    val mixed = "plain words here\nif (x) { y(); }\nlet z = 3;"
    val prose = "table scan merge join window agg"
    val got = run(Seq((0L, code), (1L, mixed), (2L, prose)))
    // code: 4 lines; kw = 2*def + 2*return = 4; ind = 2; sym = 2*(()) + 2*; = 6
    assert(got(0L) == ((4L, 4L, 2L, 6L, 4 * 3 + 2 * 2 + 6L, 1L)))
    // mixed: 3 lines; kw = let = 1; ind = 0; sym = ()(){};=; = 9... count:
    // "if (x) { y(); }" -> ( ) { ( ) ; } = 7; "let z = 3;" -> = ; = 2
    assert(got(1L) == ((3L, 1L, 0L, 9L, 12L, 1L)))
    // prose: 1 line, all zeros
    assert(got(2L) == ((1L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("planted corpus binds both ways") {
    import spark.implicits._
    val base = (0L until 70L).map(i =>
      (i, s"src${i % 5}", "table scan merge join window agg value row"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.codeDetect(TextAnalysis.syntheticCodeMix(base))
      .collect().map(r => r.getLong(0) -> r.getLong(7)).toMap
    (0L until 70L).foreach { id =>
      val expected = if (id % 7 == 0 || id % 7 == 1) 1L else 0L
      assert(out(id) == expected, s"doc $id")
    }
  }

  test("keyword regex is word-bounded; deep indent counts by window") {
    val got = run(Seq(
      (0L, "defer returns classy variance"), // prefix words: no keyword
      (1L, "a\n        b"))) // 8-space indent: one 5-char run
    assert(got(0L)._2 == 0L)
    assert(got(1L)._3 == 1L)
  }
}
