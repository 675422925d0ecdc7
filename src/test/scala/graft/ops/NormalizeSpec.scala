package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Unicode normalization pass (control strip + NFC): scalar-kernel
  * vectors against hand-derived UAX #15 ground truth, idempotence,
  * and the Spark-level contract of [[TextAnalysis.normalizeText]]. */
class NormalizeSpec extends AnyFunSuite with SparkSuite {

  // ---- scalar kernel vectors (hand-derived, engine-independent) ----

  test("NFC composes decomposed accents") {
    assert(TextAnalysis.normalizeString("Café") == "Café")
    assert(TextAnalysis.normalizeString("Ångström") == "Ångström")
  }

  test("NFC canonical-orders combining marks (UAX #15 reorder case)") {
    // d + dot-above (U+1E0B) + combining dot-below (U+0323): NFC is
    // d-dot-below (U+1E0D) + combining dot-above (U+0307) — the marks
    // swap because dot-below has lower combining class.
    assert(TextAnalysis.normalizeString("ḍ̇") == "ḍ̇")
  }

  test("strips C0 controls and DEL but keeps tab/newline/CR") {
    assert(TextAnalysis.normalizeString("ab\u0007cd\u0000ef") == "abcdef")
    assert(TextAnalysis.normalizeString("a\tb\nc\rd\u007fe") == "a\tb\nc\rd" + "e")
    assert(TextAnalysis.normalizeString("\u0001\u0002") == "")
  }

  test("strip-then-compose: control between base and mark still composes") {
    assert(TextAnalysis.normalizeString("e\u0000\u0301") == "\u00e9")
  }

  test("clean ASCII is returned reference-identical (zero-copy fast path)") {
    val s = "plain ascii text with\nnewlines and\ttabs"
    assert(TextAnalysis.normalizeString(s) eq s)
  }

  test("idempotence: normalize(normalize(x)) == normalize(x)") {
    val cases = Seq("Café", "ḍ̇", "ab\u0007cd\u0000ef",
      "Ångström mixed Café ḍ̇", "", "plain")
    cases.foreach { c =>
      val once = TextAnalysis.normalizeString(c)
      assert(TextAnalysis.normalizeString(once) == once, s"not idempotent: $c")
    }
  }

  test("astral-safe: surrogate pairs survive and count as one codepoint") {
    val s = "a😀b" // U+1F600
    assert(TextAnalysis.normalizeString(s) == s)
  }

  // ---- Spark-level contract ----

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("normalizeText: per-doc columns match the scalar kernel") {
    val d = docs(1L -> "Café", 2L -> "plain", 3L -> "ab\u0007cd\u0000ef",
      4L -> "a😀b")
    val out = TextAnalysis.normalizeText(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(out(1L) == (("Café", true, 5, 4)))
    assert(out(2L) == (("plain", false, 5, 5)))
    assert(out(3L) == (("abcdef", true, 8, 6)))
    // astral: 4 UTF-16 units but 3 codepoints, unchanged
    assert(out(4L) == (("a😀b", false, 3, 3)))
  }

  test("normalizeText: null text treated as empty") {
    import spark.implicits._
    val d = Seq((1L, null: String)).toDF("doc_id", "text")
    val out = TextAnalysis.normalizeText(d).collect().head
    assert(out.getString(1) == "" && !out.getBoolean(2)
      && out.getInt(3) == 0 && out.getInt(4) == 0)
  }

  test("syntheticMessyText variants normalize to the oracle's closed forms") {
    val d = docs(20L -> "xx", 21L -> "xx", 22L -> "xx", 23L -> "xx", 24L -> "xx")
    val out = TextAnalysis.normalizeText(TextAnalysis.syntheticMessyText(d))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(20L) == "xx")
    assert(out(21L) == "xxCafé")
    assert(out(22L) == "xxÅngström")
    assert(out(23L) == "xxḍ̇")
    assert(out(24L) == "xxabcdef")
  }
}
