package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization ANN: plain-Scala reference replay (independent
  * implementation of the quantize → per-subspace Lloyd → encode → ADC
  * → re-rank contract), full-probe ≡ brute force, partition
  * independence, and ADC-cut recall sanity. */
class PqSpec extends AnyFunSuite with SparkSuite {

  private def emb(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def res(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def randomCorpus(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }

  /** Independent reference over plain collections: same contract as
    * the engine (sq8 quantize, per-subspace k-lowest-id init, integer
    * L2 argmin with lowest-c ties, floor(sum/n) update, empty-cluster
    * guard, ADC sum of per-subspace L2 to the assigned centroid,
    * (adc asc, id asc) cut, exact-cosine re-rank). */
  private def reference(data: Seq[(Long, Array[Float])], queryIds: Set[Long],
                        m: Int, kCode: Int, iters: Int, k: Int,
                        candidates: Int): Set[(Long, Long, Long)] = {
    val dim = data.head._2.length
    val subDim = dim / m
    val maxAbs = (0 until dim).map(d => data.map(r => math.abs(r._2(d))).max)
    def quant(v: Array[Float]): Array[Int] = v.indices.map { d =>
      val mx = maxAbs(d).toDouble
      if (mx == 0.0) 0
      else {
        val c = math.floor(v(d).toDouble * 127.0 / mx)
        if (c < -127.0) -127 else if (c > 127.0) 127 else c.toInt
      }
    }.toArray
    val codes = data.map { case (id, v) => (id, quant(v)) }.sortBy(_._1)
    var cents: IndexedSeq[IndexedSeq[Array[Int]]] = (0 until m).map { s =>
      codes.take(kCode).map(_._2.slice(s * subDim, (s + 1) * subDim)).toIndexedSeq
    }
    def l2(a: Array[Int], b: Array[Int]): Long =
      a.indices.map(i => { val x = (a(i) - b(i)).toLong; x * x }).sum
    var encMap = Map.empty[Long, Array[Int]]
    for (round <- 1 to iters) {
      val enc = codes.map { case (id, q) =>
        (id, (0 until m).map { s =>
          val sv = q.slice(s * subDim, (s + 1) * subDim)
          cents(s).zipWithIndex.map { case (c, ci) => (l2(sv, c), ci) }
            .minBy(identity)._2
        }.toArray)
      }
      encMap = enc.toMap
      if (round < iters) {
        cents = (0 until m).map { s =>
          (0 until kCode).map { ci =>
            val members = enc.filter(_._2(s) == ci).map(_._1).toSet
            if (members.isEmpty) cents(s)(ci)
            else {
              val svs = codes.filter(c => members(c._1))
                .map(_._2.slice(s * subDim, (s + 1) * subDim))
              (0 until subDim).map { sd =>
                math.floor(svs.map(_(sd).toLong).sum.toDouble / svs.length).toInt
              }.toArray
            }
          }
        }
      }
    }
    val qCodes = codes.filter(c => queryIds(c._1))
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val byId = data.toMap
    qCodes.flatMap { case (qid, qv) =>
      val adcs = codes.filter(_._1 != qid).map { case (id, _) =>
        val pq = encMap(id)
        val adc = (0 until m).map { s =>
          l2(qv.slice(s * subDim, (s + 1) * subDim), cents(s)(pq(s)))
        }.sum
        (adc, id)
      }.sorted.take(candidates)
      adcs.map { case (_, id) => (cosine(byId(qid), byId(id)), id) }
        .sortBy { case (c, id) => (-c, id) }.take(k).zipWithIndex
        .map { case ((_, id), r) => (qid, id, (r + 1).toLong) }
    }.toSet
  }

  test("matches the independent reference on random data") {
    for (seed <- Seq(3, 7)) {
      val data = randomCorpus(90, 16, seed)
      val df = emb(data)
      val got = res(Similarity.pqTopK(df, df.filter(col("vec_id") < 5),
        m = 4, kCode = 8, iters = 2, k = 4, candidates = 12))
      val want = reference(data, (0L until 5L).toSet,
        m = 4, kCode = 8, iters = 2, k = 4, candidates = 12)
      assert(got === want, s"seed $seed")
    }
  }

  test("full probe equals brute force exactly") {
    val data = randomCorpus(60, 16, seed = 11)
    val df = emb(data)
    val qs = df.filter(col("vec_id") < 4)
    val pq = res(Similarity.pqTopK(df, qs, m = 4, kCode = 8, iters = 2,
      k = 5, candidates = 60))
    val bf = res(Similarity.bruteForceTopK(df, qs, k = 5))
    assert(pq === bf)
  }

  test("partition independence") {
    val data = randomCorpus(70, 16, seed = 5)
    val qs: DataFrame => DataFrame = _.filter(col("vec_id") < 6)
    val a = emb(data).repartition(1)
    val b = emb(data).repartition(7)
    assert(res(Similarity.pqTopK(a, qs(a), m = 4, kCode = 8, iters = 2, k = 4)) ===
      res(Similarity.pqTopK(b, qs(b), m = 4, kCode = 8, iters = 2, k = 4)))
  }

  test("ADC cut keeps near duplicates (recall on planted pairs)") {
    // plant: each query has an exact duplicate at id+100 — PQ codes of
    // identical vectors are identical, so the duplicate's ADC is the
    // minimum possible and it MUST survive any cut and re-rank first
    val base = randomCorpus(100, 16, seed = 13)
    val planted = (0L until 4L).map(q => (q + 100L, base(q.toInt)._2.clone()))
    val df = emb(base.filterNot(r => planted.exists(_._1 == r._1)) ++ planted)
    val got = res(Similarity.pqTopK(df, df.filter(col("vec_id") < 4),
      m = 4, kCode = 8, iters = 2, k = 1, candidates = 10))
    for (q <- 0L until 4L)
      assert(got.contains((q, q + 100L, 1L)), s"query $q lost its duplicate")
  }
}
