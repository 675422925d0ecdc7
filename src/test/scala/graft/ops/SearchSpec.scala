package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** BM25 retrieval — expected scores computed INDEPENDENTLY in plain
  * Scala doubles following the documented step order (r1..r4, idf,
  * term-ordered fold), so the column-expression engine is checked
  * bit-for-bit against a second implementation; plus exact-value spot
  * checks where the arithmetic is clean, rank/tie determinism, and
  * partitioning invariance. */
class SearchSpec extends AnyFunSuite with SparkSuite {

  // the documented step order, in plain doubles
  private def score(tf: Long, dl: Long, df: Long, n: Long,
                    avgdl: Double): Double = {
    val r1 = dl.toDouble / avgdl
    val r2 = 0.25 + 0.75 * r1
    val r3 = tf.toDouble + 1.5 * r2
    val r4 = (tf.toDouble * 2.5) / r3
    val idf = ((n.toDouble - df.toDouble) + 0.5) / (df.toDouble + 0.5)
    idf * r4
  }

  private def corpus() = {
    import spark.implicits._
    Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana cherry")
    ).toDF("doc_id", "text")
  }

  test("postings: per (term, doc) term frequency") {
    val p = Search.postings(corpus()).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(p == Map(
      ("apple", 1L) -> 2L, ("banana", 1L) -> 1L,
      ("apple", 2L) -> 1L, ("cherry", 2L) -> 1L,
      ("banana", 3L) -> 3L, ("cherry", 3L) -> 1L))
  }

  test("bm25TopK matches the independent double-precision replica") {
    import spark.implicits._
    val queries = Seq((0L, "apple"), (0L, "banana"), (1L, "cherry"))
      .toDF("query_id", "term")
    // N = 3, dl = (3, 2, 4), avgdl = 3.0, df = 2 for every term
    val avgdl = 9.0 / 3.0
    val exp = Map(
      (0L, 1L) -> (score(2, 3, 2, 3, avgdl) + score(1, 3, 2, 3, avgdl)),
      (0L, 2L) -> score(1, 2, 2, 3, avgdl),
      (0L, 3L) -> score(3, 4, 2, 3, avgdl),
      (1L, 2L) -> score(1, 2, 2, 3, avgdl),
      (1L, 3L) -> score(1, 4, 2, 3, avgdl))
    val got = Search.bm25TopK(corpus(), queries, nDocs = 3L, k = 10)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == exp.keySet)
    for ((key, expScore) <- exp)
      assert(got(key)._1 == expScore, s"score mismatch at $key")
    // exact spot check: idf = 1.5/2.5 = 0.6 exact; doc1/banana tf=1,
    // dl=3 -> r1=1, r2=1, r3=2.5, r4=1.0 -> s=0.6 exact; doc1/apple
    // tf=2 -> r3=3.5, r4=5.0/3.5; fold order apple then banana
    assert(got((0L, 1L))._1 == 0.6 * (5.0 / 3.5) + 0.6)
    // n_hits: doc1 matched both query-0 terms
    assert(got((0L, 1L))._2 == 2L)
    assert(got((0L, 2L))._2 == 1L)
    // ranks for query 0: doc1 (1.457..) > doc3 (0.92..) > doc2 (0.70..)
    assert(got((0L, 1L))._3 == 1L)
    assert(got((0L, 3L))._3 == 2L)
    assert(got((0L, 2L))._3 == 3L)
    // query 1: equal tf/df, shorter doc wins; tie-break never needed
    assert(got((1L, 2L))._3 == 1L)
    assert(got((1L, 3L))._3 == 2L)
  }

  test("bm25TopK: k truncates; equal scores tie-break by doc_id") {
    import spark.implicits._
    // two docs with IDENTICAL stats -> bit-equal scores -> doc_id order
    val docs = Seq((5L, "kiwi mango"), (4L, "kiwi mango"),
      (6L, "kiwi kiwi kiwi")).toDF("doc_id", "text")
    val q = Seq((9L, "kiwi")).toDF("query_id", "term")
    val top = Search.bm25TopK(docs, q, nDocs = 3L, k = 2).collect()
      .map(r => (r.getLong(1), r.getLong(4))).sortBy(_._2)
    assert(top.length == 2)
    // doc6 (tf=3) ranks 1; of the tied pair only doc 4 survives k=2
    assert(top(0) == ((6L, 1L)))
    assert(top(1) == ((4L, 2L)))
  }

  test("bm25TopK is bit-identical across partitioning") {
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 11} common"))
      .toDF("doc_id", "text")
    val q = Seq((0L, "w3"), (0L, "common"), (1L, "w5")).toDF("query_id", "term")
    def run(parts: Int) =
      Search.bm25TopK(docs.repartition(parts), q, nDocs = 60L, k = 7)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(run(1) == run(13))
  }

  test("syntheticQueries: first 4 distinct tokens, first-occurrence order") {
    import spark.implicits._
    val docs = Seq((0L, "b a b c a d e"), (1L, "x y"), (7L, "zzz"))
      .toDF("doc_id", "text")
    val q = Search.syntheticQueries(docs, nQueries = 5).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(q.toSeq.sorted == Seq((0L, "a"), (0L, "b"), (0L, "c"),
      (0L, "d"), (1L, "x"), (1L, "y")))
  }

  // ---------------- exact-phrase retrieval -------------------------

  private def phraseHits(docs: Seq[(Long, String)],
                         qs: Seq[(Long, Seq[String])]): Map[(Long, Long), Long] = {
    val sp = spark
    import sp.implicits._
    Search.phraseSearch(docs.toDF("doc_id", "text"),
        qs.toDF("query_id", "terms"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("phraseSearch: contiguity required, single and multi hits") {
    val docs = Seq(
      1L -> "the quick brown fox",        // hit at pos 1
      2L -> "quick brown and quick brown",// 2 hits
      3L -> "quick red brown",            // terms present, NOT contiguous
      4L -> "brown quick")                // reversed: no hit
    val qs = Seq(0L -> Seq("quick", "brown"))
    assert(phraseHits(docs, qs) == Map((0L, 1L) -> 1L, (0L, 2L) -> 2L))
  }

  test("phraseSearch: overlapping occurrences all count") {
    // "a a a" contains "a a" at anchors 0 and 1
    assert(phraseHits(Seq(1L -> "a a a"), Seq(0L -> Seq("a", "a"))) ==
      Map((0L, 1L) -> 2L))
  }

  test("phraseSearch: repeated phrase term must match twice, gap rejects") {
    val qs = Seq(0L -> Seq("x", "y", "x"))
    assert(phraseHits(Seq(1L -> "z x y x z"), qs) == Map((0L, 1L) -> 1L))
    assert(phraseHits(Seq(1L -> "x y z x"), qs) == Map.empty[(Long, Long), Long])
  }

  test("phraseSearch: multiple queries, case folding, repartition-stable") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(1L -> "Alpha Beta gamma", 2L -> "beta GAMMA alpha")
    val qs = Seq(0L -> Seq("alpha", "beta"), 1L -> Seq("beta", "gamma"))
    val base = phraseHits(docs, qs)
    assert(base == Map((0L, 1L) -> 1L, (1L, 1L) -> 1L, (1L, 2L) -> 1L))
    val shuffled = Search.phraseSearch(
        docs.toDF("doc_id", "text").repartition(7),
        qs.toDF("query_id", "terms").repartition(2))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(shuffled == base)
  }

  test("syntheticPhrases: tokens 4..6 of every 37th doc, short docs skipped") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "t0 t1 t2 t3 t4 t5 t6"),
      (37L, "a b c"),                  // too short: skipped
      (74L, "p q r s T u"),
      (185L, "x y z w v u"))           // >= 37*5: out of range
    val out = Search.syntheticPhrases(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out == Map(0L -> List("t3", "t4", "t5"), 2L -> List("s", "t", "u")))
  }

  // ---------------- tf-idf keywords --------------------------------

  private def kw(docs: Seq[(Long, String)], k: Int = 3): Seq[(Long, String, Long)] = {
    val sp = spark
    import sp.implicits._
    val d = docs.toDF("doc_id", "text")
    Search.keywords(d, docs.size.toLong, k)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
  }

  test("keywords: distinctive terms beat ubiquitous ones") {
    // "the" appears in all 3 docs (idf small); each doc's unique term wins
    val docs = Seq(
      1L -> "the zebra the the",
      2L -> "the quark",
      3L -> "the nebula nebula")
    val out = kw(docs, k = 1)
    assert(out == Seq((1L, "zebra", 1L), (2L, "quark", 1L), (3L, "nebula", 1L)))
  }

  test("keywords: equal scores tie-break on term asc; rank caps at k") {
    // two unique singleton terms in one doc: same tf, same df -> same
    // score; "alpha" < "beta" must rank first
    val docs = Seq(1L -> "beta alpha", 2L -> "filler words here")
    val out = kw(docs, k = 2).filter(_._1 == 1L)
    assert(out == Seq((1L, "alpha", 1L), (1L, "beta", 2L)))
    // k caps: doc 2 has 3 terms but k=2 keeps 2
    assert(kw(docs, k = 2).count(_._1 == 2L) == 2)
  }

  test("keywords: scores match an independent plain-Scala computation") {
    val docs = Seq(
      1L -> "apple apple banana",
      2L -> "banana cherry",
      3L -> "cherry cherry cherry apple")
    val n = 3.0
    def idf(df: Long): Double = ((n - df.toDouble) + 0.5) / (df.toDouble + 0.5)
    // df: apple 2, banana 2, cherry 2
    val expect1 = Map("apple" -> 2.0 * idf(2), "banana" -> 1.0 * idf(2))
    val sp = spark
    import sp.implicits._
    val out = Search.keywords(docs.toDF("doc_id", "text"), 3L, 3)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(out == expect1)
  }

  test("keywords: repartition-stable") {
    val sp = spark
    import sp.implicits._
    val docs = (0L until 50L).map(i => i -> s"w${i % 7} w${i % 11} w${i % 13} common")
    val a = Search.keywords(docs.toDF("doc_id", "text"), 50L, 3)
      .collect().map(_.toString).sorted.toSeq
    val b = Search.keywords(docs.toDF("doc_id", "text").repartition(9), 50L, 3)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }
}
