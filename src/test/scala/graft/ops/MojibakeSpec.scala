package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Mojibake repair (ftfy-style cp1252/UTF-8 round trip): scalar-kernel
  * vectors hand-derived from the UTF-8 and windows-1252 tables, the
  * strict-decode false-positive gate, fixpoint behavior on
  * double-encoded text, and the Spark-level contract of
  * [[TextAnalysis.repairEncoding]]. */
class MojibakeSpec extends AnyFunSuite with SparkSuite {

  private def repair(s: String): (String, Int) =
    TextAnalysis.repairMojibakeString(s)

  // ---- hand-derived kernel vectors ---------------------------------

  test("single mis-decode repairs: CafÃ© -> Café (C3 A9 = U+00E9)") {
    assert(repair("CafÃ©") == ("Café", 1))
  }

  test("cp1252 specials round-trip: â€” -> em dash (E2 80 94)") {
    // â = 0xE2, € = U+20AC -> 0x80, ” = U+201D -> 0x94
    assert(repair("â€”dashâ€”") ==
      ("—dash—", 1))
  }

  test("naÃ¯ve -> naïve (C3 AF = U+00EF)") {
    assert(repair("naÃ¯ve") == ("naïve", 1))
  }

  test("double-encoded heals in two rounds: CafÃƒÂ© -> Café") {
    // Ã = 0xC3, ƒ = U+0192 -> 0x83, Â = 0xC2, © = 0xA9:
    // round 1: C3 83 C2 A9 -> Ã© ; round 2: C3 A9 -> é
    assert(repair("CafÃƒÂ©") == ("Café", 2))
  }

  test("JDK C1-control bytes round-trip (sloppy-cp1252): Â followed by 0x90") {
    // C2 90 is valid UTF-8 for U+0090; the char U+0090 maps back to
    // byte 0x90 via the JDK's undefined-byte convention.
    assert(repair("Â") == ("", 1))
  }

  // ---- false-positive gates ----------------------------------------

  test("malformed UTF-8 is left alone: Ã + space (C3 20)") {
    assert(repair("fake Ã mojibake") == ("fake Ã mojibake", 0))
  }

  test("genuine Latin-1 prose is left alone (lone lead bytes)") {
    assert(repair("à la carte") == ("à la carte", 0))
    assert(repair("Café") == ("Café", 0)) // already repaired
  }

  test("chars outside cp1252 leave the string alone") {
    // U+0100 has no cp1252 byte; U+4E2D (CJK) neither.
    assert(repair("ÃĀ") == ("ÃĀ", 0))
    assert(repair("中Ã©") == ("中Ã©", 0))
  }

  test("overlong UTF-8 rejects: C0 80 (overlong NUL) stays put") {
    // À = 0xC0, € = U+20AC -> 0x80: bytes C0 80 are an overlong
    // encoding the strict decoder must refuse.
    assert(repair("À€") == ("À€", 0))
  }

  test("pure ASCII is returned unchanged at zero rounds") {
    val s = "plain ascii"
    val (out, r) = repair(s)
    assert((out eq s) && r == 0)
  }

  test("idempotence: repair(repair(x)) == repair(x)") {
    val cases = Seq("CafÃ©", "CafÃƒÂ©",
      "naÃ¯ve", "fake Ã mojibake", "", "plain")
    cases.foreach { c =>
      val (once, _) = repair(c)
      assert(repair(once) == ((once, 0)), s"not idempotent: $c")
    }
  }

  // ---- Spark-level contract ----------------------------------------

  test("repairEncoding over the planted corpus matches the closed form") {
    val ss = spark
    import ss.implicits._
    val docs = Seq(
      (0L, "aaaa bbbb cccc dddd "), (1L, "aaaa bbbb cccc dddd "),
      (2L, "aaaa bbbb cccc dddd "), (3L, "aaaa bbbb cccc dddd "),
      (4L, "aaaa bbbb cccc dddd "), (5L, "aaaa bbbb cccc dddd "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repairEncoding(
        TextAnalysis.syntheticMojibakeText(docs))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getBoolean(2), r.getInt(3))).sortBy(_._1)
    val b = "aaaa bbbb cccc dddd "
    assert(out.toSeq == Seq(
      (0L, b, false, 0),
      (1L, b + "Café", true, 1),
      (2L, b + "—dash—", true, 1),
      (3L, b + "naïve", true, 1),
      (4L, b + "Ã ", false, 0),
      (5L, b + "Café", true, 2)))
  }

  test("null text behaves as empty") {
    val ss = spark
    import ss.implicits._
    val docs = Seq((7L, null: String)).toDF("doc_id", "text")
    val out = TextAnalysis.repairEncoding(docs).collect()
    assert(out.length == 1 && out(0).getString(1) == "" &&
      !out(0).getBoolean(2) && out(0).getInt(3) == 0)
  }
}
