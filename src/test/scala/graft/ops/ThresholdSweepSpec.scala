package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** LSH banding-recall sweep ([[Dedup.thresholdSweep]]):
  *  - [[Dedup.gramSet]] agrees with a brute re-hash and with the
  *    refactored [[Dedup.sigKernel]] gram unit (a signature lane of
  *    the singleton gram text equals mix64(gramHash));
  *  - hand corpus: identical docs are truth pairs at every threshold
  *    and the banding catches them (recall 1000 at the top), disjoint
  *    docs never appear, a half-overlap pair enters exactly the
  *    thresholds its hand-computed Jaccard clears;
  *  - monotonicity: n_truth and n_caught never increase as t rises;
  *  - the audit bound excludes doc_id >= auditMax from both arms.
  */
class ThresholdSweepSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "srcT") }
      .toDF("doc_id", "text", "source")
  }

  test("gramSet matches brute re-hash and the sigKernel gram unit") {
    val text = "aa bb cc dd ee"
    val toks = text.split("\\s+")
    val brute = (0 until 3).map(i => Dedup.gramHash(toks, i, 3))
      .distinct.sorted
    assert(Dedup.gramSet(text, 3).toSeq == brute)
    // a single-gram text: every signature lane j = mix64(h + j*c)
    val h = Dedup.gramHash(Array("xx", "yy", "zz"), 0, 3)
    val sig = Dedup.sigKernel("xx yy zz", 4, 3)
    (0 until 4).foreach { j =>
      assert(sig(j) == Dedup.mix64(h + j * 0xc2b2ae3d27d4eb4fL))
    }
  }

  test("hand corpus: identical / overlapping / disjoint arms") {
    val a = (0 until 40).map(i => s"w${i}").mkString(" ")     // 38 grams
    val b = (0 until 40).map(i => s"v${i}").mkString(" ")     // disjoint
    // half overlap: shares w20..w39 with `a` (the suffix) —
    // gram overlap = 18 of the 38+? hand-derived below from gramSet
    val c = ((20 until 40).map(i => s"w${i}") ++
      (0 until 20).map(i => s"u${i}")).mkString(" ")
    val d = docs(Seq((0L, a), (1L, a), (2L, b), (3L, c)))
    val got = Dedup.thresholdSweep(d, auditMax = 10L,
        thresholds = Seq(200, 500, 990))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // exact overlap of (a, c): compute from gram sets directly
    val ga = Dedup.gramSet(a.toLowerCase, 3)
    val gc = Dedup.gramSet(c.toLowerCase, 3)
    val inter = ga.toSet.intersect(gc.toSet).size.toLong
    val uni = ga.length + gc.length - inter
    val acAt = (t: Long) => if (inter * 1000 >= uni * t) 1L else 0L
    // pair (0,1) identical -> truth at every t; (0,2)/(1,2)/(2,3) disjoint
    // -> never; (0,3)/(1,3) at thresholds their Jaccard clears
    assert(got(990L)._1 == 1L + 2L * acAt(990))
    assert(got(500L)._1 == 1L + 2L * acAt(500))
    assert(got(200L)._1 == 1L + 2L * acAt(200))
    // identical pair must be caught by banding (identical signatures)
    assert(got(990L)._2 >= 1L)
  }

  test("monotone in t and audit-bounded") {
    import spark.implicits._
    val base = (0L until 60L).map { i =>
      val words = (0 until 30).map(j => s"t${(i * 31 + j * 7) % 40}")
      (i, words.mkString(" "), "srcT")
    } ++ Seq((100L, "far beyond the audit bound", "srcT"))
    val d = base.toDF("doc_id", "text", "source")
    val rows = Dedup.thresholdSweep(d, auditMax = 60L,
        thresholds = Seq(100, 300, 600))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    rows.sliding(2).foreach {
      case Array((_, t1, c1), (_, t2, c2)) =>
        assert(t2 <= t1 && c2 <= c1)
      case _ => ()
    }
    // recall arithmetic holds on every row
    Dedup.thresholdSweep(d, auditMax = 60L, thresholds = Seq(100))
      .collect().foreach { r =>
        assert(r.getLong(3) == r.getLong(2) * 1000 / r.getLong(1))
      }
  }
}
