package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Span-level exact-substring dedup — hand-computed expectations for
  * every interval case: overlapping windows merge, exactly-adjacent
  * windows (gap == w) merge, separated occurrences stay two spans,
  * within-doc self-repetition counts, unique/short docs emit nothing. */
class DuplicateSpansSpec extends AnyFunSuite with SparkSuite {

  test("duplicateSpans: overlap, adjacency, separation, self-repeat") {
    import spark.implicits._
    val docs = Seq(
      // A and B share "one two three" and "two three four"
      (1L, "one two three four five six"),
      (2L, "zero one two three four nine"),
      // C: pure self-repetition — every 3-gram occurs >= 2 times
      (3L, "x y z x y z x y z"),
      // D: "one two three" at pos 0 and pos 15 -> two separated spans
      (4L, "one two three q r s t u m1 m2 m3 m4 m5 m6 m7 one two three"),
      // F: "a b c" at pos 0 and pos 3 -> gap == w, contiguous -> 1 span
      (5L, "a b c a b c n1 n2"),
      // E: all-unique tokens -> no dup windows
      (6L, "u1 u2 u3 u4 u5 u6"),
      // G: shorter than w -> no windows at all
      (7L, "t1 t2")
    ).toDF("doc_id", "text")
    val rows = Dedup.duplicateSpans(docs, w = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // A: dup starts {0,1}; tokens |[0,3)∪[1,4)| = 4; one span
    assert(rows(1L) == ((2L, 4L, 1L)))
    // B: dup starts {1,2}; same shape
    assert(rows(2L) == ((2L, 4L, 1L)))
    // C: 7 windows all duplicated; union = all 9 tokens; one span
    assert(rows(3L) == ((7L, 9L, 1L)))
    // D: starts {0,15}, gap 15 > w -> 2 spans, 3+3 tokens
    assert(rows(4L) == ((2L, 6L, 2L)))
    // F: starts {0,3}, gap == w merges -> 1 span of 6 tokens
    assert(rows(5L) == ((2L, 6L, 1L)))
    assert(!rows.contains(6L) && !rows.contains(7L))
    assert(rows.size == 5)
  }

  test("duplicateSpans is bit-identical across partitioning") {
    import spark.implicits._
    val docs = (0L until 80L).map { i =>
      // overlapping vocabulary so cross-doc w-grams genuinely repeat
      (i, (0 until 30).map(j => s"w${(i + j) % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    def run(parts: Int) =
      Dedup.duplicateSpans(docs.repartition(parts), w = 5).collect()
        .map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val a = run(1)
    assert(a.nonEmpty)
    assert(a == run(16))
  }
}
