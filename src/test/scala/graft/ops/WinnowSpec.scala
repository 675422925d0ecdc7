package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprints against an independent brute-force
  * reference (explicit per-window rightmost-argmin — no packed keys),
  * plus the guarantee the algorithm exists for and the stop-gram cap. */
class WinnowSpec extends AnyFunSuite with SparkSuite {

  /** Reference winnow: literal Schleimer et al. — for every window of
    * w hashes keep the rightmost minimum; union of selections. */
  private def reference(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) Set.empty
    else {
      val hs = (0 until toks.length - k + 1).map { i =>
        val g = toks.slice(i, i + k).mkString(" ")
        Dedup.hash64(g, 0, g.length) >>> 24
      }
      val n = hs.length
      (0 until math.max(1, n - w + 1)).flatMap { s =>
        val win = hs.slice(s, math.min(s + w, n))
        val m = win.min
        val rightmost = s + win.lastIndexOf(m)
        Some(((rightmost + 1).toLong, m)) // 1-based pos
      }.toSet
    }
  }

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("fingerprints equal the brute-force reference (incl. equal-hash ties)") {
    // 'x y x y x y' has REPEATED grams -> equal hashes in one window,
    // exercising the rightmost-tie rule the packed key encodes
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "x y x y x y x y",
      "short one",
      "a b c d e f g h i j k l m n o p q r s t")
    for (k <- Seq(1, 3); w <- Seq(2, 4)) {
      val got = Winnow.fingerprints(docs(texts: _*), k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = texts.zipWithIndex.flatMap { case (t, i) =>
        reference(t, k, w).map { case (p, h) => (i.toLong, p, h) }
      }.toSet
      assert(got == want, s"k=$k w=$w")
    }
  }

  test("guarantee: a shared w+k-1 token run always yields a shared fingerprint") {
    val shared = "uniquely present plagiarized span of tokens here" // 7 tokens >= w+k-1=6
    val d = docs(
      s"alpha beta gamma $shared delta epsilon",
      s"one two three four five $shared six seven",
      "completely unrelated filler content with nothing in common at all")
    val out = Winnow.matches(d, k = 3, w = 4, docFreqCap = 20, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 1L)))
    assert(!out.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("stop-gram cap: a fingerprint in every doc pairs nothing once capped") {
    val boiler = "standard site footer text appears everywhere"
    val d = docs((0 until 6).map(i => s"$boiler unique$i filler$i"): _*)
    // cap below the df of the boilerplate fingerprints -> no pairs
    val capped = Winnow.matches(d, k = 3, w = 4, docFreqCap = 5, minShared = 1)
    assert(capped.collect().isEmpty)
    // with the cap above df they all pair
    val open = Winnow.matches(d, k = 3, w = 4, docFreqCap = 6, minShared = 1)
    assert(open.collect().length == 15) // C(6,2)
  }
}
