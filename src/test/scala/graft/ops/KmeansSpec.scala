package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Integer SQ8 k-means: plain-Scala reference replay (independent
  * implementation of the same contract), partition independence,
  * separated-cluster recovery, and the empty-cluster guard. */
class KmeansSpec extends AnyFunSuite with SparkSuite {

  private def emb(rows: (Long, Array[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def res(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Independent reference: same contract (sq8 quantize, k-lowest-id
    * init, integer L2 argmin with lowest-c ties, floor(sum/n) update,
    * empty keeps previous), written over plain collections. */
  private def reference(data: Seq[(Long, Array[Float])], k: Int,
                        iters: Int): Map[Long, (Long, Long)] = {
    val dim = data.head._2.length
    val maxAbs = (0 until dim).map(d => data.map(r => math.abs(r._2(d))).max).toArray
    def quant(v: Array[Float]): Array[Int] = v.indices.map { d =>
      val m = maxAbs(d).toDouble
      if (m == 0.0) 0
      else {
        val c = math.floor(v(d).toDouble * 127.0 / m)
        if (c < -127.0) -127 else if (c > 127.0) 127 else c.toInt
      }
    }.toArray
    val codes = data.map { case (id, v) => (id, quant(v)) }.sortBy(_._1)
    var cents: Seq[Array[Int]] = codes.take(k).map(_._2)
    var out = Map.empty[Long, (Long, Long)]
    for (round <- 1 to iters) {
      val assign = codes.map { case (id, q) =>
        val ds = cents.zipWithIndex.map { case (c, ci) =>
          (q.indices.map(d => { val x = (q(d) - c(d)).toLong; x * x }).sum, ci)
        }
        val (bd, bc) = ds.minBy(identity) // (dist, index) lexicographic = lowest-c tie
        (id, bc, bd)
      }
      out = assign.map { case (id, c, d2) => id -> ((c.toLong, d2)) }.toMap
      if (round < iters) {
        cents = cents.indices.map { ci =>
          val members = assign.filter(_._2 == ci).map(_._1).toSet
          if (members.isEmpty) cents(ci)
          else {
            val qs = codes.filter(c => members(c._1)).map(_._2)
            (0 until qs.head.length).map { d =>
              math.floor(qs.map(_(d).toLong).sum.toDouble / qs.length).toInt
            }.toArray
          }
        }
      }
    }
    out
  }

  private def randomCorpus(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }

  test("matches the independent reference on random data") {
    for (seed <- Seq(1, 2)) {
      val data = randomCorpus(80, 8, seed)
      val got = res(Similarity.kmeansSq8(emb(data: _*), k = 4, iters = 3))
      assert(got === reference(data, k = 4, iters = 3), s"seed $seed")
    }
  }

  test("recovers well-separated clusters regardless of init") {
    // two tight blobs far apart; k=2 with init from the 2 lowest ids
    // (both in blob A) must still split A/B after the update rounds
    val blobA = (0L until 10L).map(i =>
      (i, Array(1.0f + i * 0.001f, 1.0f, 1.0f)))
    val blobB = (10L until 20L).map(i =>
      (i, Array(-1.0f - (i - 10) * 0.001f, -1.0f, -1.0f)))
    val got = res(Similarity.kmeansSq8(emb(blobA ++ blobB: _*), k = 2, iters = 3))
    val aClusters = blobA.map(r => got(r._1)._1).toSet
    val bClusters = blobB.map(r => got(r._1)._1).toSet
    assert(aClusters.size === 1 && bClusters.size === 1)
    assert(aClusters !== bClusters)
  }

  test("partition independence") {
    val data = randomCorpus(60, 6, seed = 9)
    val a = res(Similarity.kmeansSq8(emb(data: _*).repartition(1), k = 3, iters = 2))
    val b = res(Similarity.kmeansSq8(emb(data: _*).repartition(7), k = 3, iters = 2))
    assert(a === b)
  }

  test("empty-cluster guard keeps the previous centroid") {
    // centroid 1 inits on a duplicate of centroid 0's seed: round 1
    // assigns EVERYTHING to cluster 0 (ties keep the lowest index), so
    // cluster 1 is empty and must keep its centroid without crashing.
    // The kept centroid then re-captures the exact-duplicate points in
    // round 2 (centroid 0 moved to the mean, centroid 1 didn't) — the
    // classic guard dynamic, which the reference replays exactly.
    val data = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f)))
    val one = res(Similarity.kmeansSq8(emb(data: _*), k = 2, iters = 1))
    assert(one.values.map(_._1).toSet === Set(0L)) // round 1: all tied to 0
    val got = res(Similarity.kmeansSq8(emb(data: _*), k = 2, iters = 3))
    assert(got.values.map(_._1).toSet === Set(0L, 1L)) // guard re-captured
    assert(got === reference(data, k = 2, iters = 3))
  }
}
