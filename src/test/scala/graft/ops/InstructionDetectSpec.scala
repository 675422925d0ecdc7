package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Instruction-format routing ([[TextAnalysis.instructionDetect]]):
  *  - each planted scaffold routes to its family, prose to none;
  *  - the ladder: paired markdown scaffolding beats [INST] beats
  *    Q:/A: beats a single chat line; a lone "Q: " line is NOT
  *    enough (pair requirement);
  *  - markers only count at line starts ((?m) anchors): "FAQ: " in
  *    the middle of a line never fires;
  *  - the planted census is exactly the doc_id % 6 split.
  */
class InstructionDetectSpec extends AnyFunSuite with SparkSuite {

  private def run(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    TextAnalysis.instructionDetect(
        rows.map { case (i, t) => (i, "s", t) }
          .toDF("doc_id", "source", "text"))
      .collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
  }

  test("families, ladder, pair requirements, line anchoring") {
    val got = run(Seq(
      (0L, "plain words"),
      (1L, "Q: one?\nA: yes.\nwords"),
      (2L, "### Instruction:\ngo\n### Response:\ndone\nQ: x?\nA: y."),
      (3L, "[INST] hi [/INST] out"),
      (4L, "words\nAssistant: reply"),
      (5L, "Q: only a question, no answer"),
      (6L, "the FAQ: section mentions User: inline")))
    assert(got("qa") == ((1L, 2L)))
    assert(got("inst_md") == ((1L, 4L))) // md 2 + qa 2 hits, family md
    assert(got("inst_tag") == ((1L, 2L)))
    assert(got("chat") == ((1L, 1L)))
    assert(got("none") == ((3L, 1L))) // plain + lone Q + inline FAQ
  }

  test("planted census is the doc_id % 6 split") {
    import spark.implicits._
    val base = (0L until 60L).map(i => (i, "srcA", "plain prose"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.instructionDetect(
        TextAnalysis.syntheticInstructMix(base))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("qa" -> 10L, "inst_md" -> 10L, "chat" -> 20L,
      "inst_tag" -> 10L, "none" -> 10L))
  }
}
