package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge learning against hand-computed expectations — including
  * the Sennrich et al. (2016) worked example and the greedy
  * run-handling the sentinel encoding exists for. */
class BpeSpec extends AnyFunSuite with SparkSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def run(d: org.apache.spark.sql.DataFrame, n: Int) =
    Bpe.merges(d, n).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("Sennrich worked example: low/lower/newest/widest") {
    // vocab low:5 lower:2 newest:6 widest:3 — first six merges and
    // their frequencies computed by hand (ties: freq desc, lhs asc,
    // rhs asc; '<' of '</w>' sorts below letters)
    val d = docs(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
       Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    assert(run(d, 6) == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L), (6, "e", "w", 6L)))
  }

  test("letter runs merge greedily left-to-right (run of 5 -> aa aa a)") {
    // 'aaaaa' x3: round 1 counts 4 overlapping (a,a) pairs per word
    // (freq 12) and fuses greedily into aa aa a; the follow-up rounds
    // pin that exact split — a non-greedy or boundary-consuming
    // replace would yield different pair tables here
    val d = docs("aaaaa aaaaa aaaaa")
    val out = run(d, 3)
    assert(out.head == ((1, "a", "a", 12L)))
    // round 2: (aa,aa):3 (aa,a):3 (a,</w>):3 all tie at 3 — lhs asc
    assert(out(1) == ((2, "a", "</w>", 3L)))
    // round 3: (aa,aa):3 vs (aa,a</w>):3 — rhs 'a</w>' < 'aa'
    assert(out(2) == ((3, "aa", "a</w>", 3L)))
  }

  test("exhaustion: stops early when no pairs remain") {
    val d = docs("ab ab")
    val out = run(d, 5)
    assert(out == Seq((1, "a", "b", 2L), (2, "ab", "</w>", 2L)))
  }

  test("encode: per-doc unit counts under the learned merges, by hand") {
    // after the six Sennrich merges: low -> [low </w>] (2 units),
    // lower -> [low e r </w>] (4), newest -> [n ew est</w>] (3),
    // widest -> [w i d est</w>] (4)
    val d = docs(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
       Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    val out = Bpe.encode(d, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 16L, 5L * 2 + 2 * 4 + 6 * 3 + 3 * 4)))
  }

  test("repartition-invariant") {
    val d = docs("the quick brown fox", "the quick red fox",
      "the slow brown dog", "a quick brown cat and the fox")
    assert(run(d, 5) == run(d.repartition(7), 5))
  }
}
