package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Trigram novelty ([[Ngram.trigramNovelty]]):
  *  - hand corpus: a fully unique doc scores 1000, an exact duplicate
  *    pair scores 0, a half-shared doc scores its hand-counted share;
  *  - within-doc repetition does NOT inflate uniqueness (distinct
  *    grams per doc before the df rollup);
  *  - docs under 3 tokens are excluded;
  *  - partitioning invariance.
  */
class NgramNoveltySpec extends AnyFunSuite with SparkSuite {

  private def run(rows: Seq[(Long, String)], parts: Int = 4) = {
    import spark.implicits._
    Ngram.trigramNovelty(
        rows.toDF("doc_id", "text").repartition(parts))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  test("unique / duplicate / half-shared / short arms") {
    val got = run(Seq(
      (0L, "a b c d e"),        // grams: abc bcd cde (3, all unique)
      (1L, "x y z w"),          // grams: xyz yzw
      (2L, "x y z w"),          // exact duplicate of 1 -> both score 0
      (3L, "x y z q r"),        // grams: xyz(shared) yzq zqr -> 2/3
      (4L, "p q")))             // < 3 tokens: excluded
    assert(got(0L) == ((3L, 3L, 1000L)))
    assert(got(1L) == ((2L, 0L, 0L)))
    assert(got(2L) == ((2L, 0L, 0L)))
    assert(got(3L) == ((3L, 2L, 666L)))
    assert(!got.contains(4L))
  }

  test("within-doc repetition counts once") {
    val got = run(Seq(
      (0L, "m n o m n o m n o"), // grams distinct: mno nom onm? compute:
                                 // windows: mno nom onm nom onm nom onm
                                 // distinct = {mno, nom, onm} = 3
      (1L, "u v w")))
    assert(got(0L)._1 == 3L)
    assert(got(0L)._3 == 1000L)
  }

  test("partitioning invariance") {
    val rows = (0L until 40L).map(i =>
      (i, (0 until 12).map(j => s"t${(i * 5 + j) % 17}").mkString(" ")))
    assert(run(rows, 1) == run(rows, 8))
  }
}
