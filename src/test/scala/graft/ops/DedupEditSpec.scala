package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edit-distance-verified near-dup pipeline:
  *  - the decision arm (banded levenshtein + integer sim_permille)
  *    against an independent textbook DP written in this spec;
  *  - the banded threshold overload equals the unbounded distance on
  *    every kept pair (the early exit must be output-invisible);
  *  - the length prefilter is lossless (dist >= |len gap| is exactly
  *    the triangle bound the filter relies on);
  *  - the Spark/DuckDB parity precondition: Spark counts CODEPOINTS —
  *    pinned here so the oracle's ASCII-only contract stays guarded;
  *  - the testdata corpus is all-ASCII at the driver SF (the contract
  *    the DuckDB byte-based levenshtein replica depends on).
  */
class DedupEditSpec extends AnyFunSuite with SparkSuite {

  /** Textbook Wagner–Fischer over codepoints — the independent
    * reference the engine's decision arm is checked against. */
  private def editDistance(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    val dp = Array.tabulate(y.length + 1)(identity)
    for (i <- 1 to x.length) {
      var diag = dp(0)
      dp(0) = i
      for (j <- 1 to y.length) {
        val next = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          diag + (if (x(i - 1) == y(j - 1)) 0 else 1))
        diag = dp(j)
        dp(j) = next
      }
    }
    dp(y.length)
  }

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("decision arm matches the textbook DP on every emitted pair") {
    // Texts long enough to clear the 3-shingle minhash floor, with a
    // planted lightly-edited duplicate pair and a reordered decoy that
    // LSH may recall but the edit check must score honestly.
    val base = ("the quick brown fox jumps over the lazy dog near the old " +
      "stone bridge every single morning while the river runs cold and " +
      "clear beneath the ancient arch and the miller counts his sacks " +
      "of grain before the market opens at dawn")
    val edited = base.replace("miller", "tailor")
    val reordered = base.split(" ").reverse.mkString(" ")
    val d = docs(base, edited, reordered, base + " again and again")
    val out = Dedup.editVerified(d, estThreshold = 0.1, maxDist = 30)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(out.nonEmpty, "planted edited pair must survive")
    val texts = Array(base, edited, reordered, base + " again and again")
    out.foreach { case ((a, b), (dist, simPm)) =>
      val want = editDistance(texts(a.toInt), texts(b.toInt))
      assert(dist == want, s"pair ($a,$b)")
      assert(want <= 30)
      val maxlen = math.max(texts(a.toInt).length, texts(b.toInt).length)
      assert(simPm == (maxlen - want).toLong * 1000 / maxlen)
    }
    assert(out.contains((0L, 1L)), "base/edited pair expected")
  }

  test("banded levenshtein equals unbounded on kept pairs; -1 beyond band") {
    import spark.implicits._
    val pairs = Seq(
      ("kitten", "sitting"), ("abcdef", "abcdef"), ("abc", "xyz"),
      ("aaaaaaaaaa", "bbbbbbbbbb"), ("short", "a much longer string entirely"))
    val df = pairs.toDF("a", "b")
      .select(levenshtein(col("a"), col("b")).as("full"),
        levenshtein(col("a"), col("b"), 4).as("banded"))
    df.collect().foreach { r =>
      val (full, banded) = (r.getInt(0), r.getInt(1))
      if (full <= 4) assert(banded == full)
      else assert(banded == -1, s"full=$full must early-exit")
    }
  }

  test("length prefilter is lossless: dist >= |len(a) - len(b)|") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val a = (1 to rnd.nextInt(20)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val b = (1 to rnd.nextInt(20)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      assert(editDistance(a, b) >= math.abs(a.length - b.length))
    }
  }

  test("Spark levenshtein counts codepoints (oracle ASCII-only contract)") {
    import spark.implicits._
    val r = Seq(("héllo", "hello")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).head().getInt(0)
    // 1 under codepoint semantics; DuckDB's byte-based count says 2 —
    // which is why the DuckDB replica is only valid on ASCII corpora.
    assert(r == 1)
  }

  test("driver-SF corpus is all-ASCII (DuckDB replica precondition)") {
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val nonAscii = d.filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(nonAscii == 0)
  }
}
