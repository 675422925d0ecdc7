package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Stride-scheduled interleaving: exact match against a brute-force
  * single-threaded merge, and the proportional-share property — any
  * prefix of the merged order carries each source in proportion to
  * its weight (±1 emission per source). */
class InterleaveSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, src) => (id, src, "t") }
      .toDF("doc_id", "source", "text")
  }

  private val IdMask = 2147483648L
  private val KnuthA = 2654435761L
  private val KnuthM = 4294967296L
  private def hk(id: Long): Long = ((id % IdMask) * KnuthA) % KnuthM

  private def brute(rows: Seq[(Long, String)]): Seq[(Long, String, Long, Long, Long)] = {
    val ranked = rows.groupBy(_._2).toSeq.flatMap { case (src, xs) =>
      val w = 1L + src.drop(3).toLong % 4
      xs.sortBy { case (id, _) => (hk(id), id) }.zipWithIndex.map {
        case ((id, s), k) => (id, s, k.toLong, (k + 1) * (12L / w))
      }
    }
    ranked.sortBy { case (_, s, k, skey) => (skey, s, k) }
      .zipWithIndex.map { case ((id, s, k, skey), pos) => (id, s, k, skey, pos.toLong) }
  }

  test("exact merge vs brute force; heavier sources emit more often") {
    // src1 (w=2) and src3 (w=4) vs src0 (w=1): 40 docs spread over 4 sources
    val rows = (0L until 40L).map(i => (i, s"src${i % 4}"))
    val expect = brute(rows)
    val got = Sampling.interleave(docs(rows: _*)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._5)
    assert(got.toSeq === expect)
    // proportional share: in the first 20 slots, src3 (w=4) must appear
    // at least twice as often as src0 (w=1)
    val head = expect.takeWhile(_._5 < 20)
    val bySrc = head.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc.getOrElse("src3", 0) >= 2 * bySrc.getOrElse("src0", 1))
  }

  test("single source degenerates to its shuffle order") {
    val rows = (0L until 9L).map(i => (i, "src2"))
    val got = Sampling.interleave(docs(rows: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(4))).sortBy(_._2).map(_._1)
    val expect = rows.map(_._1).sortBy(id => (hk(id), id))
    assert(got.toSeq === expect)
  }
}
