package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** HyperLogLog cardinality: register/rank kernel pinned against an
  * independent bit-twiddling reimplementation, duplicate idempotence
  * (the property HLL exists for), partitioning invariance, and
  * loose-band sanity of the raw estimate vs the exact audit column. */
class CardinalitySpec extends AnyFunSuite with SparkSuite {

  private def urls(us: Seq[String]): DataFrame = {
    import spark.implicits._
    us.toDF("url")
  }

  private def run(us: Seq[String], p: Int = 8) =
    Cardinality.urlCardinality(urls(us), p).collect().head

  test("regRank matches an independent reimplementation") {
    // reference: same published FNV-1a/splitmix constants, written
    // with different bit idioms (mask-and-test instead of nlz)
    def ref(u: String, p: Int): (Int, Int) = {
      var h = 0xcbf29ce484222325L
      u.foreach(c => h = (h ^ c) * 1099511628211L)
      var z = h + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      val reg = ((z >>> (64 - p)) & ((1L << p) - 1)).toInt
      var rank = 1
      var bit = 63 - p
      while (bit >= 0 && ((z >> bit) & 1L) == 0L) { rank += 1; bit -= 1 }
      (reg, rank)
    }
    for (u <- Seq("https://a.example/x", "", "doc", "https://src0/doc123");
         p <- Seq(4, 8, 12)) {
      assert(Cardinality.regRank(u, p) == ref(u, p), s"url=$u p=$p")
    }
  }

  test("duplicates never change the output row") {
    val base = (0 until 300).map(i => s"https://h${i % 7}.example/p$i")
    val a = run(base)
    val b = run(base ++ base ++ base.take(50))
    assert(a == b)
  }

  test("repartition-invariant") {
    import spark.implicits._
    val us = (0 until 400).map(i => s"https://x.example/$i")
    val a = Cardinality.urlCardinality(us.toDF("url"), 8).collect().head
    val b = Cardinality.urlCardinality(us.toDF("url").repartition(11), 8)
      .collect().head
    assert(a == b)
  }

  test("estimate lands in a loose band around exact; audit column is exact") {
    val out = run((0 until 500).map(i => s"https://h${i % 13}.example/doc$i"))
    val est = out.getDouble(2)
    assert(out.getLong(3) == 500L)
    assert(est > 300 && est < 800, s"estimate $est implausible for 500")
    assert(out.getLong(0) == 256L)
  }

  test("tiny input: most registers zero, exact matches") {
    val out = run(Seq("a", "b", "c"))
    assert(out.getLong(3) == 3L)
    assert(out.getLong(1) >= 253L) // >= m - 3 zero registers
  }

  // ---------------- Count-Min sketch -------------------------------

  private def docsDf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("countmin: estimates are exact when the grid is collision-free") {
    val out = CountMin.topKWithEstimates(
      docsDf(Seq("aa bb aa cc", "bb aa dd")), d = 4, p = 8, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("aa") == ((3L, 3L, 0L)))
    assert(out("bb") == ((2L, 2L, 0L)))
    assert(out.size == 4 && out.values.forall(_._3 == 0L))
  }

  test("countmin: estimate >= exact always; tiny grid forces overcount") {
    // p=4 -> 16 columns x d=1 row over 40 distinct terms: pigeonhole
    // guarantees collisions, so SOME top term must overcount
    val words = (0 until 40).map(i => s"w$i")
    val text = (words ++ words.take(5)).mkString(" ") // top-5 have count 2
    val rows = CountMin.topKWithEstimates(docsDf(Seq(text)), d = 1, p = 4, k = 40)
      .collect()
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
    assert(rows.exists(r => r.getLong(3) > 0L), "no collision in 40->16 pigeonhole")
  }

  test("countmin: top-k order is (count desc, term asc) and caps at k") {
    val out = CountMin.topKWithEstimates(
      docsDf(Seq("z z y y x w")), d = 4, p = 8, k = 2)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("y", "z")) // both count 2; x/w (count 1) cut by k
  }

  test("countmin: repartition-invariant") {
    import spark.implicits._
    val texts = (0 until 60).map(i => s"common w${i % 9} w${i % 4}")
    val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val a = CountMin.topKWithEstimates(base, 4, 8, 5)
      .collect().map(_.toString).sorted.toSeq
    val b = CountMin.topKWithEstimates(base.repartition(13), 4, 8, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.size == 5)
  }

  test("hostCardinality: each host's sketch equals the global sketch on that host alone") {
    import spark.implicits._
    val urls = (0 until 400).map(i =>
      s"https://h${i % 3}.x/p${i % (50 + 40 * (i % 3))}").toDF("url")
    val grouped = Cardinality.hostCardinality(urls, p = 6).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(grouped.keySet == Set("h0.x", "h1.x", "h2.x"))
    for (h <- grouped.keySet) {
      val solo = Cardinality.urlCardinality(
        urls.filter(org.apache.spark.sql.functions.col("url")
          .startsWith(s"https://$h/")), p = 6)
        .collect()(0)
      // bit-identical estimate, same zero-register count, same exact
      assert(grouped(h) ==
        ((solo.getLong(1), solo.getDouble(2), solo.getLong(3))), h)
    }
  }
}
