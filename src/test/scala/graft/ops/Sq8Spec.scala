package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 ANN: exactness when the candidate cut covers the corpus,
  * partition-independence of the integer-tie cut, constant dimensions,
  * and recall against the brute-force baseline. */
class Sq8Spec extends AnyFunSuite with SparkSuite {

  private def emb(rows: (Long, Array[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def randomCorpus(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }

  private def res(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("with candidates >= corpus size the re-rank makes SQ8 exact") {
    val data = randomCorpus(60, 16, seed = 3)
    val corpus = emb(data: _*)
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val sq8 = res(Similarity.sq8TopK(corpus, queries, k = 4, candidates = 60))
    val exact = res(Similarity.bruteForceTopK(corpus, queries, k = 4))
    assert(sq8 === exact)
  }

  test("candidate cut is partition-independent despite integer ties") {
    // many identical vectors -> all integer scores tie; the cut must
    // still be the same set (smaller ids win) at any parallelism
    val tied = (0L until 30L).map(i => (i, Array(1.0f, 0.5f, -0.25f)))
    val varied = randomCorpus(30, 3, seed = 7).map { case (id, v) => (id + 30L, v) }
    val all = tied ++ varied
    val q = emb((0L, Array(1.0f, 0.5f, -0.25f)))
    val r1 = res(Similarity.sq8TopK(emb(all: _*).repartition(1), q, k = 5, candidates = 8))
    val r7 = res(Similarity.sq8TopK(emb(all: _*).repartition(7), q, k = 5, candidates = 8))
    assert(r1 === r7)
    // ties at the cut keep the smallest ids: neighbors are the first
    // tied copies (excluding the query itself)
    assert(r1.map(_._2) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("constant dimensions quantize to 0 and never NaN") {
    val data = (0L until 10L).map(i =>
      (i, Array(3.5f, i.toFloat / 10f, 3.5f, -i.toFloat / 5f)))
    val q = emb((0L, Array(3.5f, 0.0f, 3.5f, 0.0f)))
    val got = res(Similarity.sq8TopK(emb(data: _*), q, k = 3, candidates = 5))
    assert(got.size === 3)
    assert(!got.exists(_._2 == 0L)) // self excluded
  }

  test("recall vs brute force on random data with a tight cut") {
    val data = randomCorpus(200, 32, seed = 11)
    val corpus = emb(data: _*)
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
    val sq8 = Similarity.sq8TopK(corpus, queries, k = 5, candidates = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq8 & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low for 8-bit codes with 4x cut")
  }
}
