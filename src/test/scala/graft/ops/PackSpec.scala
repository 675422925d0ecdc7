package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Sequence packing: interval arithmetic against a brute-force
  * single-threaded concatenation, boundary straddling, empty-doc
  * exclusion, and the wholeness invariants (intervals tile the stream
  * exactly, in shuffle order, with no gaps). */
class PackSpec extends AnyFunSuite with SparkSuite {

  private def docs(texts: (Long, String)*): DataFrame = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  private val IdMask = 2147483648L
  private val KnuthA = 2654435761L
  private val KnuthM = 4294967296L
  private def key(id: Long): Long = ((id % IdMask) * KnuthA) % KnuthM

  private def brute(ds: Seq[(Long, String)], L: Long): Map[Long, (Long, Long, Long, Long, Long, Long)] = {
    val withN = ds.map { case (id, t) =>
      (id, t.toLowerCase.split("\\s+").count(_.nonEmpty).toLong)
    }.filter(_._2 > 0).sortBy { case (id, _) => (key(id), id) }
    var pos = 0L
    withN.map { case (id, n) =>
      val s = pos; pos += n
      id -> ((n, s, s / L, s % L, (s + n - 1) / L, (s + n - 1) / L - s / L + 1))
    }.toMap
  }

  private def run(d: DataFrame, L: Long): Map[Long, (Long, Long, Long, Long, Long, Long)] =
    Sampling.pack(d, L).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

  test("hand case: sharing, straddling, empty docs dropped") {
    val ds = Seq(
      (0L, "a b c"),          // 3 tokens
      (1L, "d e f g h"),      // 5 tokens
      (2L, ""),               // empty: excluded
      (3L, "i j"),            // 2 tokens
      (4L, "k l m n o p q"))  // 7 tokens; total 17, L=4 -> straddles
    val got = run(docs(ds: _*), 4L)
    val expect = brute(ds, 4L)
    assert(got === expect)
    assert(!got.contains(2L))
    // at least one doc straddles a sequence boundary at L=4
    assert(got.values.exists(_._6 > 1), "fixture should straddle")
  }

  test("intervals tile the concatenated stream exactly (no gaps/overlaps)") {
    val rnd = new scala.util.Random(5)
    val ds = (0L until 120L).map { i =>
      (i, Seq.fill(rnd.nextInt(9))("w").mkString(" ")) // 0..8 tokens
    }
    val got = run(docs(ds: _*), 16L)
    assert(got === brute(ds, 16L))
    // wholeness: sorted by tok_start, each interval starts where the
    // previous ended, and the total equals the token sum
    val iv = got.values.toSeq.sortBy(_._2)
    iv.sliding(2).foreach {
      case Seq((n1, s1, _, _, _, _), (_, s2, _, _, _, _)) =>
        assert(s1 + n1 === s2)
      case _ => ()
    }
    assert(iv.map(_._1).sum === iv.last._2 + iv.last._1)
  }

  test("seq_end/off arithmetic: exact boundary fit has n_seqs 1") {
    // 4 tokens starting at offset 0 with L=4 ends at seq 0 exactly
    val got = run(docs((0L, "a b c d")), 4L)
    assert(got(0L) === ((4L, 0L, 0L, 0L, 0L, 1L)))
  }
}
