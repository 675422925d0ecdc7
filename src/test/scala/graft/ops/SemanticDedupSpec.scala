package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup composition: independent plain-Scala replay (kmeans
  * contract + brute-force within-cluster pairs + union-find min rep),
  * planted exact duplicates, and partition independence. */
class SemanticDedupSpec extends AnyFunSuite with SparkSuite {

  private def emb(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def res(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Independent replay of the whole composition. */
  private def reference(data: Seq[(Long, Array[Float])], k: Int, iters: Int,
                        threshold: Double): Map[Long, (Long, Long)] = {
    val dim = data.head._2.length
    val maxAbs = (0 until dim).map(d => data.map(r => math.abs(r._2(d))).max)
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
    var clusterOf = Map.empty[Long, Int]
    for (round <- 1 to iters) {
      val assign = codes.map { case (id, q) =>
        val (_, bc) = cents.zipWithIndex.map { case (c, ci) =>
          (q.indices.map(d => { val x = (q(d) - c(d)).toLong; x * x }).sum, ci)
        }.minBy(identity)
        (id, bc)
      }
      clusterOf = assign.toMap
      if (round < iters) {
        cents = cents.indices.map { ci =>
          val members = assign.filter(_._2 == ci).map(_._1).toSet
          if (members.isEmpty) cents(ci)
          else {
            val qs = codes.filter(c => members(c._1)).map(_._2)
            (0 until dim).map { d =>
              math.floor(qs.map(_(d).toLong).sum.toDouble / qs.length).toInt
            }.toArray
          }
        }
      }
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val byId = data.toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    for {
      (a, ca) <- clusterOf; (b, cb) <- clusterOf
      if a < b && ca == cb && cos(byId(a), byId(b)) >= threshold
    } {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    data.map { case (id, _) =>
      id -> ((clusterOf(id).toLong, find(id)))
    }.toMap
  }

  private def corpusWithDups(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    // plant near-duplicates: ids n..n+4 are tiny perturbations of 0..4
    val near = (0 until 5).map { i =>
      ((n + i).toLong, base(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f))
    }
    base ++ near
  }

  test("matches the independent composition replay") {
    for (seed <- Seq(2, 8)) {
      val data = corpusWithDups(60, 8, seed)
      val got = res(Similarity.semanticDedup(emb(data), k = 4, iters = 2,
        threshold = 0.8))
      assert(got === reference(data, k = 4, iters = 2, threshold = 0.8),
        s"seed $seed")
      assert(got.count { case (id, (_, rep)) => rep != id } >= 5, s"seed $seed")
    }
  }

  test("planted exact duplicates always collapse to the min id") {
    val rnd = new scala.util.Random(4)
    val base = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val dups = Seq(50L -> base(7)._2.clone(), 51L -> base(7)._2.clone())
    val got = res(Similarity.semanticDedup(emb(base ++ dups.map { case (i, v) => (i, v) }),
      k = 4, iters = 2, threshold = 0.99))
    assert(got(50L)._2 === 7L && got(51L)._2 === 7L && got(7L)._2 === 7L)
    assert(got(50L)._1 === got(7L)._1) // identical vectors share a cluster
  }

  test("partition independence") {
    val data = corpusWithDups(40, 8, seed = 6)
    val a = res(Similarity.semanticDedup(emb(data).repartition(1), k = 3, iters = 2,
      threshold = 0.8))
    val b = res(Similarity.semanticDedup(emb(data).repartition(7), k = 3, iters = 2,
      threshold = 0.8))
    assert(a === b)
  }
}
