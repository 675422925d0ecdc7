package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** CCNet-style quality terciles: ntile bucket-size rule, tie-break
  * determinism, and per-language independence. */
class QualityBucketsSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "lang", "text")
  }

  private def run(d: DataFrame): Map[Long, (String, Double, String)] =
    Sampling.qualityBuckets(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getString(3))))
      .toMap

  // texts engineered to strictly decreasing quality: more stopword-rich
  // and longer = higher score under the composite formula
  private def gradedText(rank: Int): String =
    (("the and of to in a is are was for" + " word" * (20 - rank)) + " ") * 3

  test("ntile sizes: 7 docs split 3/2/2, assignment follows rank order") {
    val d = docs((0L until 7L).map(i => (i, "en", gradedText(i.toInt))): _*)
    val got = run(d)
    val byBucket = got.groupBy(_._2._3).view.mapValues(_.keys.toSet).toMap
    // quality strictly decreasing in doc_id here (verified below), so
    // head = first 3 ranks, middle = next 2, tail = last 2
    val quals = (0L until 7L).map(got(_)._2)
    assert(quals === quals.sorted.reverse, "fixture must be strictly rank-ordered")
    assert(quals.distinct.size === quals.size, "fixture must have no quality ties")
    assert(byBucket("head") === Set(0L, 1L, 2L))
    assert(byBucket("middle") === Set(3L, 4L))
    assert(byBucket("tail") === Set(5L, 6L))
  }

  test("quality ties break by doc_id ascending") {
    // identical text = identical quality; 3 docs -> one per bucket,
    // in doc_id order
    val d = docs((10L, "en", "same text here"), (11L, "en", "same text here"),
      (12L, "en", "same text here"))
    val got = run(d)
    assert(got(10L)._3 === "head")
    assert(got(11L)._3 === "middle")
    assert(got(12L)._3 === "tail")
  }

  test("languages bucket independently") {
    val d = docs(
      (0L, "en", gradedText(0)), (1L, "en", gradedText(5)), (2L, "en", gradedText(10)),
      (3L, "de", gradedText(2)))
    val got = run(d)
    // the lone de doc is its own head regardless of en scores
    assert(got(3L)._3 === "head")
    assert(Seq(got(0L), got(1L), got(2L)).map(_._3) === Seq("head", "middle", "tail"))
  }
}
