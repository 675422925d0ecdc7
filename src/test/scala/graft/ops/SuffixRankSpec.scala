package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Prefix-doubling suffix ranks: hand-computed spectrum, the
  * rank≡truncated-window-equality invariant against a brute substring
  * grouping (the oracle's formulation, replayed in-engine on random
  * corpora), document-boundary isolation, witness correctness, and
  * partition independence. */
class SuffixRankSpec extends AnyFunSuite with SparkSuite {

  private def docs(texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Brute truncated-window census: (window_len -> map of window ->
    * positions), the oracle's formulation in plain Scala. */
  private def brute(texts: Seq[String], w: Int): Map[String, Seq[(Long, Int)]] =
    texts.zipWithIndex.flatMap { case (t, d) =>
      (0 until t.length).map(p =>
        t.substring(p, math.min(p + w, t.length)) -> ((d.toLong, p)))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def spectrumRows(df: DataFrame, rounds: Int) =
    SuffixRank.repeatSpectrum(df, rounds).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))).toMap

  test("hand-computed spectrum on abab/ab") {
    // positions: d0 "abab" (a,b,a,b), d1 "ab"
    val got = spectrumRows(docs("abab", "ab"), 2)
    // w=1: 6 positions, windows a x3, b x3
    assert(got(1L) === ((6L, 2L, 2L, 6L, 3L, "a")))
    // w=2: windows ab(0,0) ab(0,2) ab(1,0) ba(0,1) b(0,3) b(1,1)
    //  -> groups: "ab" x3, "ba" x1, "b" x2
    assert(got(2L) === ((6L, 3L, 2L, 5L, 3L, "ab")))
    // w=4: abab, bab, ab(0,2), b(0,3), ab(1,0), b(1,1)
    //  -> "ab" x2, "b" x2 repeated
    assert(got(4L) === ((6L, 4L, 2L, 4L, 2L, "ab")))
  }

  test("ranks group exactly the equal truncated windows (vs brute)") {
    val rnd = new scala.util.Random(17)
    // small alphabet forces heavy repetition incl. cross-doc
    val texts = (0 until 25).map(_ =>
      Iterator.continually("abcd".charAt(rnd.nextInt(4))).take(30 + rnd.nextInt(40)).mkString)
    val df = docs(texts: _*)
    // rounds=5 exercises the radix-4 path twice PLUS the odd-tail
    // single-doubling fallback (levels 2,4 | 8,16 | 32)
    SuffixRank.ranks(df, 5).foreach { case (w, p) =>
      // frame is (packed, r): unpack doc/pos from the packed long
      val byRank = p.collect()
        .map(r => (r.getLong(1),
          (r.getLong(0) >> 20, (r.getLong(0) & ((1L << 20) - 1)).toInt)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted }
      val byWindow = brute(texts, w).map { case (_, v) => v.sorted }.toSet
      assert(byRank.values.map(_.sorted).toSet === byWindow, s"level w=$w")
      // the rank IS the packed min position of its group
      byRank.foreach { case (r, ps) =>
        val (d, pos) = ps.min
        assert(r === d * (1L << 20) + pos)
      }
    }
  }

  test("suffixes never cross document boundaries") {
    // "xy"+"z" as two docs must NOT produce window "yz"
    val got = spectrumRows(docs("xy", "z"), 1)
    assert(got(2L)._2 === 3L) // distinct: "xy", "y", "z"
    assert(got(2L)._3 === 0L) // nothing repeats
  }

  test("spectrum matches brute statistics on a random corpus") {
    val rnd = new scala.util.Random(23)
    val words = Vector("the", "quick", "crawl", "boilerplate", "nav", "footer")
    val texts = (0 until 40).map(_ =>
      Iterator.continually(words(rnd.nextInt(words.size))).take(20).mkString(" "))
    val got = spectrumRows(docs(texts: _*), 6)
    for (k <- 0 to 6) {
      val w = 1 << k
      val b = brute(texts, w)
      val rep = b.filter(_._2.size >= 2)
      val exp = (b.values.map(_.size).sum.toLong, b.size.toLong, rep.size.toLong,
        rep.values.map(_.size).sum.toLong, b.values.map(_.size).max.toLong,
        if (rep.isEmpty) "" else rep.keys.min)
      assert(got(w.toLong) === exp, s"level w=$w")
    }
  }

  test("partition independence") {
    val texts = (0 until 20).map(i => ("abc" * (i % 5 + 1)) + i.toString)
    val a = SuffixRank.repeatSpectrum(docs(texts: _*).repartition(1), 3)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val b = SuffixRank.repeatSpectrum(docs(texts: _*).repartition(7), 3)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a === b)
  }
}
