package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** BV-style adjacency gap census: hand-computed zigzag/gap codes,
  * varint width boundaries, and edge dedup. */
class GapCompressionSpec extends AnyFunSuite with SparkSuite {

  private def edges(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src_id", "dst_id")
  }

  private def run(d: DataFrame): Map[Long, (Long, Long, Long, Long)] =
    WebGraph.gapCompressionStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  test("hand case: negative first delta zigzags, later gaps store gap-1") {
    // src 10 -> {3, 11, 300000} sorted: first delta 3-10=-7 -> zigzag 13
    // (1 byte); 11-3-1=7 (1 byte); 300000-11-1=299988 (<2^21, 3 bytes)
    val got = run(edges((10L, 3L), (10L, 11L), (10L, 300000L)))
    assert(got(10L) === ((3L, 24L, 5L, 299988L)))
  }

  test("non-negative first delta zigzags to even code") {
    // src 5 -> {9}: delta 4 -> zigzag 8, 1 byte
    val got = run(edges((5L, 9L)))
    assert(got(5L) === ((1L, 8L, 1L, 8L)))
  }

  test("varint width boundaries at 127/128 and 16383/16384") {
    // first deltas chosen so zigzag lands exactly on the boundaries:
    // zigzag(d>=0) = 2d, so d=63 -> 126 (1B), d=64 -> 128 (2B)
    assert(run(edges((0L, 63L)))(0L)._3 === 1L)
    assert(run(edges((0L, 64L)))(0L)._3 === 2L)
    // gap codes: dst2-dst1-1 = 127 -> 1B, 128 -> 2B
    assert(run(edges((0L, 0L), (0L, 128L)))(0L)._3 === 1L + 1L)
    assert(run(edges((0L, 0L), (0L, 129L)))(0L)._3 === 1L + 2L)
    assert(run(edges((0L, 0L), (0L, 16384L)))(0L)._3 === 1L + 2L)
    assert(run(edges((0L, 0L), (0L, 16385L)))(0L)._3 === 1L + 3L)
  }

  test("duplicate edges collapse before costing") {
    val got = run(edges((1L, 2L), (1L, 2L), (1L, 2L)))
    assert(got(1L)._1 === 1L)
    assert(got(1L)._2 === 8L)
  }

  test("self-loop costs like any successor (zigzag 0)") {
    val got = run(edges((7L, 7L)))
    assert(got(7L) === ((1L, 8L, 1L, 0L)))
  }

  test("packed never exceeds raw on realistic id-local lists") {
    val rnd = new scala.util.Random(11)
    val es = (0L until 50L).flatMap { s =>
      (0 until 1 + rnd.nextInt(6)).map(_ => (s, math.max(0L, s + rnd.nextInt(200) - 100L)))
    }
    val got = run(edges(es: _*))
    got.values.foreach { case (deg, raw, packed, _) =>
      assert(packed <= raw)
      assert(packed >= deg) // at least one byte per successor
    }
  }
}
