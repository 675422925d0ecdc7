package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Next-pow2 pad-waste census: hand-computed buckets (including the
  * exact-power and n<=1 edges), totals identity, and partition
  * independence. */
class PadWasteSpec extends AnyFunSuite with SparkSuite {

  private def docsOfTokenCounts(ns: Int*): DataFrame = {
    import spark.implicits._
    ns.zipWithIndex.map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Map[Long, (Long, Long, Long, Long)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("hand-computed buckets incl. exact powers and tiny docs") {
    // n: 0->0, 1->1, 2->2 (exact power), 3->4, 4->4, 5->8, 64->64, 65->128
    val got = rows(Sampling.padWaste(docsOfTokenCounts(0, 1, 2, 3, 4, 5, 64, 65)))
    assert(got(0L) === ((1L, 0L, 0L, 0L)))
    assert(got(1L) === ((1L, 1L, 1L, 0L)))
    assert(got(2L) === ((1L, 2L, 2L, 0L)))
    assert(got(4L) === ((2L, 7L, 8L, 1L)))     // n=3 (pad 1) and n=4 (pad 0)
    assert(got(8L) === ((1L, 5L, 8L, 3L)))
    assert(got(64L) === ((1L, 64L, 64L, 0L)))
    assert(got(128L) === ((1L, 65L, 128L, 63L)))
  }

  test("totals identity: padded = real + pad, and docs are conserved") {
    val rnd = new scala.util.Random(31)
    val ns = Seq.fill(300)(rnd.nextInt(200))
    val got = rows(Sampling.padWaste(docsOfTokenCounts(ns: _*)))
    assert(got.values.map(_._1).sum === 300L)
    got.foreach { case (pl, (docs, real, padded, pad)) =>
      assert(padded === real + pad)
      assert(padded === docs * pl)
      assert(pad >= 0L)
    }
    assert(got.values.map(_._2).sum === ns.map(_.toLong).sum)
  }

  test("partition independence") {
    val rnd = new scala.util.Random(37)
    val ns = Seq.fill(200)(rnd.nextInt(150))
    val a = rows(Sampling.padWaste(docsOfTokenCounts(ns: _*).repartition(1)))
    val b = rows(Sampling.padWaste(docsOfTokenCounts(ns: _*).repartition(7)))
    assert(a === b)
  }
}
