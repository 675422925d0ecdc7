package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sampling/mixing operators on controlled corpora: cap semantics,
  * budget monotonicity, determinism under repartitioning (the property
  * the multiplicative-hash order exists FOR), and hand-computed
  * expectations independent of the engine. */
class SamplingSpec extends AnyFunSuite with SparkSuite {

  /** doc_id, text, lang, source — text length scales with id so token
    * counts differ per doc. */
  private def corpus(n: Int, langs: Seq[String], sources: Seq[String]): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val words = Seq.tabulate(3 + i % 7)(j => s"w${(i + j) % 11}")
      (i.toLong, words.mkString(" "), langs(i % langs.size), sources(i % sources.size))
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("hostCap keeps at most k per source, best quality first, doc_id tie-break") {
    val d = corpus(60, Seq("en"), Seq("a.com", "b.com", "c.com"))
    val out = Sampling.hostCap(d, k = 5).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    assert(bySource.keySet == Set("a.com", "b.com", "c.com"))
    bySource.foreach { case (_, rows) =>
      assert(rows.length == 5)
      // rn is 1..k and quality non-increasing along rn
      val sorted = rows.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == (1L to 5L))
      val qs = sorted.map(_.getAs[Double]("quality"))
      assert(qs.zip(qs.tail).forall { case (a, b) => a >= b })
    }
    // deterministic tie-break: equal qualities must appear in doc_id order
    val a = Sampling.hostCap(d, 5).orderBy("doc_id").collect().toSeq
    val b = Sampling.hostCap(d.repartition(13), 5).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("tokenBudgetSample: per-stratum inclusive budget, hand-checked") {
    import spark.implicits._
    // one stratum, known token counts: 3,1,2,5 tokens for ids 0..3
    val d = Seq(
      (0L, "a b c"), (1L, "a"), (2L, "a b"), (3L, "a b c d e"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    // Knuth order of ids 0..3, from the implementation's own constants
    // (low-31-bit mask, then multiply mod 2^32)
    val key = (id: Long) => java.lang.Math.floorMod(
      java.lang.Math.floorMod(id, Sampling.IdMask) * Sampling.KnuthA, Sampling.KnuthM)
    val order = Seq(0L, 1L, 2L, 3L).sortBy(id => (key(id), id))
    val nTok = Map(0L -> 3L, 1L -> 1L, 2L -> 2L, 3L -> 5L)
    // hand-fold the inclusive cumulative sum in that order
    val expected = order.scanLeft((0L, 0L)) { case ((_, cum), id) => (id, cum + nTok(id)) }
      .tail.filter(_._2 <= 6L).map(_._1).toSet
    val out = Sampling.tokenBudgetSample(d, budget = 6L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == expected)
    assert(out.nonEmpty && out.size < 4) // budget genuinely binds
  }

  test("tokenBudgetSample: budget monotone and repartition-invariant") {
    val d = corpus(80, Seq("en", "de"), Seq("a.com", "b.com"))
    val small = Sampling.tokenBudgetSample(d, 20L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val big = Sampling.tokenBudgetSample(d, 60L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
    // per-stratum totals within budget
    val totals = Sampling.tokenBudgetSample(d, 60L)
      .groupBy("lang", "source").agg(max("cum_tokens").as("t"))
      .collect().map(_.getAs[Long]("t"))
    assert(totals.forall(_ <= 60L))
    val a = Sampling.tokenBudgetSample(d, 60L).orderBy("doc_id").collect().toSeq
    val b = Sampling.tokenBudgetSample(d.repartition(17), 60L).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("vocabulary: hand-computed counts with deterministic tie order") {
    import spark.implicits._
    val d = Seq((0L, "b a b C"), (1L, "c a B"), (2L, "a")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=2 (lowercased)
    val out = Sampling.vocabulary(d, n = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq("a" -> 3L, "b" -> 3L)) // tie a<b broken lexicographically
    val top3 = Sampling.vocabulary(d, n = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top3 == Seq("a" -> 3L, "b" -> 3L, "c" -> 2L))
  }

  test("lengthProfile: exact rank-based quantiles, hand-computed") {
    import spark.implicits._
    // source 'a': lengths 1..10 (doc_id = length for tie-order) ->
    //   n=10: p50 = value at ceil(5)=rank 5 -> 5; p90 -> rank 9 -> 9;
    //   p99 -> ceil(9.9)=rank 10 -> 10; max=10
    // source 'b': single doc of length 4 -> all quantiles = 4
    val d = ((1 to 10).map(i => (i.toLong, "x" * i, "a")) :+ ((11L, "x" * 4, "b")))
      .toDF("doc_id", "text", "source")
    val out = Sampling.lengthProfile(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out("a") == ((5L, 9L, 10L, 10L, 10L)))
    assert(out("b") == ((4L, 4L, 4L, 4L, 1L)))
    // partitioning-independent (rank order is total via doc_id tie-break)
    val again = Sampling.lengthProfile(d.repartition(7)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == Map("a" -> 5L, "b" -> 4L))
  }

  test("mixReport: integer totals per stratum, hand-computed") {
    import spark.implicits._
    val d = Seq(
      (0L, "x y", "en", "a"), (1L, "x", "en", "a"),
      (2L, "x y z", "de", "a"), (3L, "x y z w", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Sampling.mixReport(d).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("en", "a")) == ((2L, 3L, 4L)))  // 2 docs, 3 tokens, "x y"+"x"=4 chars
    assert(out(("de", "a")) == ((1L, 3L, 5L)))
    assert(out(("en", "b")) == ((1L, 4L, 7L)))
  }

  test("hostDisjointSplit: host-consistent, threshold-exact, hand-checked buckets") {
    import spark.implicits._
    // independently computed (python FNV-1a mod 1000):
    // host2.example → 11, host6.example → 7, host0.example → 997,
    // host5.example → 838
    val d = Seq(
      (1L, "host2.example"), (2L, "host2.example"), (3L, "host6.example"),
      (4L, "host0.example"), (5L, "host5.example"))
      .toDF("doc_id", "host")
    val out = Sampling.hostDisjointSplit(d, valPermille = 150).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((11L, "val")))
    assert(out(2L) == ((11L, "val"))) // same host → same side, always
    assert(out(3L) == ((7L, "val")))
    assert(out(4L) == ((997L, "train")))
    assert(out(5L) == ((838L, "train")))
    // threshold exactness: bucket == valPermille-1 is val, == valPermille is train
    val probe = Sampling.hostDisjointSplit(d, valPermille = 11).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(probe(3L) == "val")   // 7 < 11
    assert(probe(1L) == "train") // 11 >= 11
  }

  // ---------------- passage chunking -------------------------------

  private def chunksOf(text: String, c: Int, o: Int): Seq[(Int, Int, String)] = {
    val sp = spark
    import sp.implicits._
    Sampling.chunk(Seq((1L, text)).toDF("doc_id", "text"), c, o)
      .orderBy("chunk_id").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq
  }

  test("chunk: short doc yields exactly one full-text chunk") {
    assert(chunksOf("a b c", 4, 1) == Seq((0, 3, "a b c")))
    assert(chunksOf("a b c d", 4, 1) == Seq((0, 4, "a b c d")))
  }

  test("chunk: stride advance, overlap shared, short tail kept") {
    // 6 tokens, C=4, overlap=2 -> stride 2: [t0..t3], [t2..t5] (exact cover)
    assert(chunksOf("t0 t1 t2 t3 t4 t5", 4, 2) ==
      Seq((0, 4, "t0 t1 t2 t3"), (1, 4, "t2 t3 t4 t5")))
    // 7 tokens: ceil((7-4)/2)=2 extra chunks, last is the 1-token tail
    assert(chunksOf("t0 t1 t2 t3 t4 t5 t6", 4, 2) ==
      Seq((0, 4, "t0 t1 t2 t3"), (1, 4, "t2 t3 t4 t5"), (2, 3, "t4 t5 t6")))
  }

  test("chunk: zero overlap partitions exactly; every token appears") {
    val out = chunksOf("a b c d e f g", 3, 0)
    assert(out == Seq((0, 3, "a b c"), (1, 3, "d e f"), (2, 1, "g")))
  }

  test("chunk: whitespace runs collapse, VT splits, text lowercases") {
    // Java \s includes VT (U+000B) — the oracle spells it [\s\x0b]+
    // because RE2's \s does NOT; this pin keeps the two aligned
    assert(chunksOf("  A\u000bB   c ", 2, 0) ==
      Seq((0, 2, "a b"), (1, 1, "c")))
  }

  test("chunk: empty and whitespace-only docs produce no chunks") {
    assert(chunksOf("", 4, 1).isEmpty)
    assert(chunksOf("   ", 4, 1).isEmpty)
  }

  test("chunk: overlap bounds validated") {
    intercept[IllegalArgumentException](chunksOf("a b", 4, 4))
    intercept[IllegalArgumentException](chunksOf("a b", 4, -1))
  }

  test("chunk: no token lost at any (n, C, o) combination (cover property)") {
    val sp = spark
    import sp.implicits._
    for (n <- Seq(1, 4, 5, 9, 64, 65, 100); c <- Seq(4, 64); o <- Seq(0, 1, c / 2)) {
      val words = (0 until n).map(i => s"w$i")
      val out = Sampling.chunk(Seq((1L, words.mkString(" "))).toDF("doc_id", "text"), c, o)
        .orderBy("chunk_id").collect()
      val stride = c - o
      // reassemble: first chunk whole, then the non-overlapping suffix of each
      val rebuilt = out.head.getString(3).split(" ").toSeq ++
        out.tail.toSeq.flatMap(_.getString(3).split(" ").drop(o).toSeq)
      assert(rebuilt == words, s"n=$n c=$c o=$o")
      // chunk starts advance by stride
      out.zipWithIndex.foreach { case (r, i) => assert(r.getInt(1) == i) }
      assert(out.forall(_.getInt(2) <= c))
    }
  }

  // ---------------- crawl-budget apportionment ---------------------

  test("crawlBudget: quotas sum EXACTLY to the budget; proportional") {
    val d = corpus(60, Seq("en"), Seq("a.com", "b.com", "c.com"))
    for (b <- Seq(7L, 97L, 1000L)) {
      val out = Sampling.crawlBudget(d, b).collect()
      assert(out.map(_.getLong(4)).sum == b, s"budget $b")
      assert(out.forall(r => r.getLong(3) == 0L || r.getLong(3) == 1L))
      // quota within 1 of the exact proportional share
      val totW = out.map(_.getLong(1)).sum.toDouble
      out.foreach { r =>
        val ideal = b * r.getLong(1) / totW
        assert(math.abs(r.getLong(4) - ideal) <= 1.0, s"$r vs $ideal")
      }
    }
  }

  test("crawlBudget: largest remainders win; host-asc tie-break") {
    val s2 = spark
    import s2.implicits._
    // 3 hosts with weights 1,1,1 and budget 4: base 1 each, R=1 extra
    // goes to the smallest host name on the all-equal remainder tie
    val d = Seq((1L, "w w", "h-b"), (2L, "w w", "h-a"), (3L, "w w", "h-c"))
      .toDF("doc_id", "text", "source")
    val out = Sampling.crawlBudget(d, 4L).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(out == Map("h-a" -> 2L, "h-b" -> 1L, "h-c" -> 1L))
  }

  test("crawlBudget: repartition-invariant") {
    val d = corpus(80, Seq("en", "de"), Seq("a", "b", "c", "d", "e"))
    val x = Sampling.crawlBudget(d, 131L).collect().map(_.toString).sorted.toSeq
    val y = Sampling.crawlBudget(d.repartition(13), 131L)
      .collect().map(_.toString).sorted.toSeq
    assert(x == y)
  }

  private def shardRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq

  test("shardAssign: positions are the global (k, doc_id) rank") {
    import spark.implicits._
    val d = (0L until 300L).map(i => Tuple1(i)).toDF("doc_id")
    val out = shardRows(Sampling.shardAssign(d, shardSize = 64L, nPartitions = 8))
    // independent local computation of the spec
    val expectPos = (0L until 300L)
      .map(id => id -> ((id % 2147483648L) * 2654435761L) % 4294967296L)
      .sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, k), p) => id -> ((k, p.toLong)) }.toMap
    assert(out.size == 300)
    out.foreach { case (id, k, pos, shard, pis) =>
      val (ek, ep) = expectPos(id)
      assert(k == ek && pos == ep && shard == ep / 64 && pis == ep % 64,
        s"doc $id")
    }
  }

  test("shardAssign: coalesce(1) downstream must not corrupt offsets") {
    // regression: a consumer pipelining coalesce() above the assign
    // pass makes TaskContext.getPartitionId() the COALESCED task id —
    // if the operator relied on it, every range partition would
    // restart numbering at offsets(0). The pid is frozen into the
    // checkpointed rows instead, so this must be byte-identical.
    import spark.implicits._
    val d = (0L until 257L).map(i => Tuple1(i)).toDF("doc_id")
    val plain = shardRows(Sampling.shardAssign(d, 32L, 8))
    val coalesced = shardRows(Sampling.shardAssign(d, 32L, 8).coalesce(1))
    assert(plain == coalesced)
    // and positions really are a permutation of 0..n-1
    assert(plain.map(_._3).sorted == (0L until 257L))
  }

  test("shardAssign: partition-count-invariant (range cuts don't matter)") {
    import spark.implicits._
    val d = (0L until 300L).map(i => Tuple1(i)).toDF("doc_id")
    assert(shardRows(Sampling.shardAssign(d, 50L, 4)) ==
      shardRows(Sampling.shardAssign(d.repartition(11), 50L, 9)))
  }
}
