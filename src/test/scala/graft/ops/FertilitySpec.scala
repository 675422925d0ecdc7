package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Tokenizer fertility census against hand-computed expectations —
  * independent ground truth (the merge chain, unit counts and both
  * IEEE ratios are worked by hand below, not engine-generated). */
class FertilitySpec extends AnyFunSuite with SparkSuite {

  // Corpus: en = "ab ab b", de = "ab".
  // Vocab ab:3 (~a~~b~~</w>~), b:1 (~b~~</w>~).
  // Round 1 pairs: (b,</w>):4  (a,b):3  -> fuse (b,</w>):
  //   ab -> ~a~~b</w>~ (2 units), b -> ~b</w>~ (1 unit)
  // Round 2 pairs: (a,b</w>):3 -> fuse: ab -> ~ab</w>~ (1 unit)
  private def docs() = {
    import spark.implicits._
    Seq((0L, "ab ab b", "en"), (1L, "ab", "de"))
      .toDF("doc_id", "text", "lang")
  }

  private def run(n: Int): Map[String, (Long, Long, Long, Double, Double)] =
    Bpe.fertility(docs(), n).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    }.toMap

  test("n=1: en counts 3 words / 5 units / 5 chars, de over-segments") {
    // en: ab(2u)+ab(2u)+b(1u)=5 units, 5 chars; de: ab = 2 units
    assert(run(1) == Map(
      "en" -> ((3L, 5L, 5L, 5.0 / 3.0, 1.0)),
      "de" -> ((1L, 2L, 2L, 2.0, 1.0))))
  }

  test("n=2: full merge drives fertility to 1.0 in both languages") {
    assert(run(2) == Map(
      "en" -> ((3L, 3L, 5L, 1.0, 5.0 / 3.0)),
      "de" -> ((1L, 1L, 2L, 1.0, 2.0))))
  }
}
