package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Date extraction ([[TextAnalysis.dateExtract]]):
  *  - each format parses to exact int fields; none -> zeros;
  *  - the ladder: an ISO date anywhere beats a textual date, and the
  *    FIRST ISO match wins over a later one;
  *  - the planted corpus parses to exactly the generator arithmetic
  *    (JVM closed-form replication over all five variants).
  */
class DateExtractSpec extends AnyFunSuite with SparkSuite {

  private def run(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    TextAnalysis.dateExtract(
        rows.map { case (i, t) => (i, "s", t) }.toDF("doc_id", "source", "text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
  }

  test("formats, ladder, first-match") {
    val got = run(Seq(
      (0L, "Published 2024-03-15. words"),
      (1L, "Updated on January 7, 2023: words"),
      (2L, "words (12 May 2022)"),
      (3L, "December 9, 2021 but also 2019-05-06 here"), // iso wins
      (4L, "2020-01-02 edited 2021-03-04"),              // first iso
      (5L, "no dates at all")))
    assert(got(0L) == (("iso", 2024L, 3L, 15L)))
    assert(got(1L) == (("mdy", 2023L, 1L, 7L)))
    assert(got(2L) == (("dmy", 2022L, 5L, 12L)))
    assert(got(3L) == (("iso", 2019L, 5L, 6L)))
    assert(got(4L) == (("iso", 2020L, 1L, 2L)))
    assert(got(5L) == (("none", 0L, 0L, 0L)))
  }

  test("planted corpus equals the generator arithmetic") {
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, "srcA", "plain words only"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.dateExtract(TextAnalysis.syntheticDateMix(base))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    (0L until 100L).foreach { i =>
      val kind = (i % 5) match {
        case 0 | 3 => "iso"
        case 1 => "mdy"
        case 2 => "dmy"
        case _ => "none"
      }
      val exp =
        if (kind == "none") (kind, 0L, 0L, 0L)
        else (kind, 2015 + i % 10, i % 12 + 1, i % 28 + 1)
      assert(got(i) == exp, s"doc $i")
    }
  }
}
