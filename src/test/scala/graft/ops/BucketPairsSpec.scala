package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.bucketPairs]], the near-duplicate family's capped bucket
  * self-join, against a brute-force pair enumeration over (band, bh)
  * buckets: the cap boundary, duplicate ids, the all-new self-join, and
  * the incremental contract (old rows count toward the cap but only
  * pairs with a new side come out). */
class BucketPairsSpec extends AnyFunSuite with SparkSuite {

  /** (band, bh, id, is_new) */
  private type Member = (Int, Long, Long, Boolean)

  private def pairs(rows: Seq[Member], cap: Int): Set[(Long, Long)] = {
    import spark.implicits._
    Dedup.bucketPairs(rows.toDF("band", "bh", "id", "is_new").repartition(3),
        Seq("band", "bh"), cap)
      .as[(Long, Long)].collect().toSet
  }

  /** Every id pair that shares a bucket of at most `cap` rows and has a
    * new side, smaller id first. */
  private def brute(rows: Seq[Member], cap: Int): Set[(Long, Long)] =
    rows.groupBy(r => (r._1, r._2)).values.filter(_.size <= cap).flatMap { b =>
      for (x <- b; y <- b if x._3 < y._3 && (x._4 || y._4)) yield (x._3, y._3)
    }.toSet

  /** 60 ids, one row per id in each of 4 bands, 6 bucket values per
    * band: about 10 members per bucket, so a cap of 10 drops some. */
  private val corpus: Seq[(Int, Long, Long)] = {
    val rnd = new scala.util.Random(11)
    for (id <- 0L until 60L; band <- 0 until 4) yield (band, rnd.nextInt(6).toLong, id)
  }
  private val cap = 10
  private def maxBucket: Int = corpus.groupBy(r => (r._1, r._2)).values.map(_.size).max

  test("a bucket of exactly cap members is kept and one of cap + 1 is dropped") {
    val kept = (1L to 4L).map(id => (0, 7L, id, true))
    val dropped = (11L to 15L).map(id => (0, 8L, id, true))
    val want = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toSet
    assert(pairs(kept ++ dropped, cap = 4) === want)
    assert(pairs(kept ++ dropped, cap = 5).size === 6 + 10)
  }

  test("duplicate ids give no pair") {
    assert(pairs(Seq((0, 1L, 3L, true), (0, 1L, 3L, true)), cap = 10).isEmpty)
    assert(pairs(Seq((0, 1L, 3L, false), (0, 1L, 3L, true)), cap = 10).isEmpty)
    assert(pairs(Seq((0, 1L, 3L, true), (0, 1L, 3L, false), (0, 1L, 4L, false)), cap = 10) ===
      Set((3L, 4L)))
  }

  test("with every row new: every id pair that shares a bucket under the cap") {
    assert(maxBucket > cap)
    val got = pairs(corpus.map { case (b, h, id) => (b, h, id, true) }, cap)
    assert(got.nonEmpty)
    assert(got === brute(corpus.map { case (b, h, id) => (b, h, id, true) }, cap))
  }

  test("with old rows: the all-new result restricted to pairs with a new side") {
    assert(maxBucket > cap)
    val isNew = (id: Long) => id >= 40L
    val allNew = pairs(corpus.map { case (b, h, id) => (b, h, id, true) }, cap)
    val mixed = corpus.map { case (b, h, id) => (b, h, id, isNew(id)) }
    val got = pairs(mixed, cap)
    assert(got.exists { case (a, b) => !isNew(a) && isNew(b) })
    assert(got.exists { case (a, b) => isNew(a) && isNew(b) })
    assert(got === allNew.filter { case (a, b) => isNew(a) || isNew(b) })
    assert(got === brute(mixed, cap))
  }
}
