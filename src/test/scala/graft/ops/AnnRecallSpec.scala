package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN recall-evaluation harness ([[Similarity.annRecall]]):
  *  - the brute-force control row is exactly recall 1000 with
  *    n_returned == n_hits == n_truth;
  *  - every approximate row obeys 0 <= n_hits <= n_returned and
  *    n_returned <= n_truth (top-k per query, same query set);
  *  - the ivf row equals a recall computed INDEPENDENTLY in the spec
  *    from the collected ivfTopK / bruteForceTopK outputs (set
  *    intersection + integer division) — pinning the harness plumbing,
  *    since the component pipelines carry their own driver oracles;
  *  - recall_permille is the exact integer hits*1000 div truth.
  */
class AnnRecallSpec extends AnyFunSuite with SparkSuite {

  /** Deterministic pseudo-random corpus, same recipe style as the
    * driver embeddings table (splitmix-ish integer mix → [-1, 1)). */
  private def corpus(n: Int, dim: Int = 64) = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(dim) { d =>
        var z = i.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L
        z ^= z >>> 30; z *= 0x94d049bb133111ebL
        z ^= z >>> 27
        (z.toDouble / Long.MaxValue.toDouble).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("bf control row is exact and bounds hold on every arm") {
    val emb = corpus(120)
    val rows = Similarity.annRecall(emb, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("bf", "ivf", "lsh", "pq", "sq8"))
    val truth = rows.head._4
    assert(truth == 50L) // 10 queries x k=5
    rows.foreach { case (m, ret, hits, t, rec) =>
      assert(t == truth, m)
      assert(hits >= 0 && hits <= ret, m)
      assert(ret <= truth, m)
      assert(rec == hits * 1000 / truth, m)
    }
    val bf = rows.head
    assert(bf._2 == truth && bf._3 == truth && bf._5 == 1000L)
  }

  test("ivf row matches an independent set-intersection recall") {
    val emb = corpus(120)
    val queries = emb.filter(col("vec_id") < 10)
    val truthSet = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfSet = Similarity.ivfTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expHits = ivfSet.count(truthSet.contains)
    val row = Similarity.annRecall(emb, k = 5).collect()
      .find(_.getString(0) == "ivf").get
    assert(row.getLong(1) == ivfSet.size.toLong)
    assert(row.getLong(2) == expHits.toLong)
    assert(row.getLong(4) == expHits.toLong * 1000 / truthSet.size)
  }
}
