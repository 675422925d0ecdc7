package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The shared candidate scan and rank cut, driven through
  * [[Similarity.bruteForceTopK]]:
  *  - the result equals a sort-based reference (score every pair, sort
  *    by (cos DESC, id ASC), cut per query) when exact score ties
  *    straddle the cut and land in different partitions, at 1, 7 and
  *    64 corpus partitions, and with k larger than the corpus;
  *  - a vector of another length is rejected pairwise, never a failed
  *    task: each pair operator returns exactly what it returns without
  *    that row, and the SQ8 family leaves it out of its codes.
  */
class CandidateScanSpec extends AnyFunSuite with SparkSuite {

  private def emb(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def randomVec(rnd: scala.util.Random, dim: Int): Array[Float] =
    Array.fill(dim)(rnd.nextFloat() * 2f - 1f)

  /** Independent reference: every (query, neighbor) pair scored with
    * the dot and norm folds in element order, sorted, cut per query. */
  private def reference(data: Seq[(Long, Array[Float])], queryIds: Set[Long],
                        k: Int): Set[(Long, Long, Long)] = {
    def fold(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    data.filter(r => queryIds(r._1)).flatMap { case (qid, qv) =>
      data.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, fold(qv, v) / (math.sqrt(fold(qv, qv)) * math.sqrt(fold(v, v))))
        }
        .sortBy { case (id, cos) => (-cos, id) }
        .take(k).zipWithIndex
        .map { case ((id, _), i) => (qid, id, i + 1L) }
    }.toSet
  }

  private def res(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** 12 exact copies of one vector spread over the ids, so every query
    * sees a 12-way score tie that a k = 5 cut splits, plus random
    * vectors; queries 0 and 1 sit near the copies, query 2 is a copy. */
  private val data: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    val tied = Array(0.9f, -0.3f, 0.2f, 0.4f)
    (0L until 60L).map { id =>
      if (id == 0L) (id, Array(0.8f, -0.3f, 0.25f, 0.4f))
      else if (id == 1L) (id, Array(0.9f, -0.2f, 0.2f, 0.35f))
      else if (id % 5 == 2L) (id, tied.clone())
      else (id, randomVec(rnd, 4))
    }
  }

  test("scan and cut equal the sort-based reference at 1, 7 and 64 partitions") {
    val queryIds = Set(0L, 1L, 2L)
    for (k <- Seq(5, 200); parts <- Seq(1, 7, 64)) {
      val corpus = emb(data).repartition(parts)
      val got = res(Similarity.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") < 3), k))
      assert(got === reference(data, queryIds, k), s"k=$k partitions=$parts")
    }
  }

  test("a cut inside the tie keeps the smallest ids") {
    // query 0's nearest vectors are the tied copies, ids 2, 7, 12, ...
    val want = Seq(2L, 7L, 12L, 17L, 22L).zipWithIndex
      .map { case (id, i) => (0L, id, i + 1L) }.toSet
    for (parts <- Seq(1, 7)) {
      val got = res(Similarity.bruteForceTopK(emb(data).repartition(parts),
        emb(data).filter(col("vec_id") === 0L), 5))
      assert(got === want, s"partitions=$parts")
    }
  }

  test("k larger than the corpus returns every other vector, ranked") {
    val small = data.take(8)
    val got = res(Similarity.bruteForceTopK(emb(small).repartition(3),
      emb(small).filter(col("vec_id") < 2), 50))
    assert(got.size === 2 * 7)
    assert(got.groupBy(_._1).values.forall(_.map(_._3) == (1L to 7L).toSet))
    assert(got === reference(small, Set(0L, 1L), 50))
  }

  test("a vector of another length is a rejected pair in every pair operator") {
    val rnd = new scala.util.Random(17)
    val half = (0L until 40L).map(id => (id, randomVec(rnd, 8)))
    // near-duplicate pairs (id, id + 40), so no pair output is empty
    val full = half ++ half.map { case (id, v) =>
      (id + 40L, v.map(x => x + 0.05f * rnd.nextFloat()))
    }
    // id 3 is both a query of the top-k and a hard-negative anchor; its
    // shorter vector is a prefix of id 43's, so a prefix comparison
    // would score the two as near-duplicates
    val ragged = full.map { case (id, v) =>
      if (id == 3L) (id, full(43)._2.take(5)) else (id, v)
    }
    val without = full.filterNot(_._1 == 3L)
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    def both(f: DataFrame => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) =
      (rows(f(emb(ragged).repartition(4))), rows(f(emb(without).repartition(4))))

    val lsh = both(Similarity.nearDupPairsLsh(_, 0.9))
    assert(lsh._1 === lsh._2 && lsh._2.nonEmpty)
    val exact = both(Similarity.nearDupPairsExact(_, 0.9))
    assert(exact._1 === exact._2 && exact._2.nonEmpty)
    val broadcastPairs = both(Similarity.nearDupPairs(_, 0.9))
    assert(broadcastPairs._1 === broadcastPairs._2 && broadcastPairs._2.nonEmpty)
    val hard = both(Similarity.hardNegatives(_))
    assert(hard._1 === hard._2 && hard._2.nonEmpty)
    val topK = both(c => Similarity.bruteForceTopK(c, c.filter(col("vec_id") < 10), 5))
    assert(topK._1 === topK._2 && topK._2.size === 9 * 5)
  }

  test("a vector of another length gets no SQ8 code in sq8TopK, kmeansSq8 or pqTopK") {
    val rnd = new scala.util.Random(23)
    val full = (0L until 60L).map(id => (id, randomVec(rnd, 8)))
    // id 2 is a query of both top-k operators
    val ragged = full.map { case (id, v) => if (id == 2L) (id, v.take(5)) else (id, v) }
    val without = full.filterNot(_._1 == 2L)
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    def both(f: DataFrame => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) =
      (rows(f(emb(ragged).repartition(4))), rows(f(emb(without).repartition(4))))

    val sq8 = both(c => Similarity.sq8TopK(c, c.filter(col("vec_id") < 10), 5))
    assert(sq8._1 === sq8._2 && sq8._2.size === 9 * 5)
    val km = both(Similarity.kmeansSq8(_, k = 4))
    assert(km._1 === km._2 && km._2.size === 59)
    val pq = both(c => Similarity.pqTopK(c, c.filter(col("vec_id") < 10), m = 4, k = 5))
    assert(pq._1 === pq._2 && pq._2.size === 9 * 5)
  }
}
