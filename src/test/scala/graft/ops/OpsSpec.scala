package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Training-data ops on controlled inputs: known duplicates, planted
  * near-dups, clustered embeddings. */
class OpsSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "length(text) AS n_chars")
  }

  private val base = "the quick brown fox jumps over the lazy dog and then runs far away into the green forest tonight"

  test("exact dedup keeps min doc_id per text") {
    val d = docs(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "aaa")
    val out = Dedup.exact(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L))
  }

  test("minhash LSH finds planted near-dup, not the unrelated doc") {
    val nearDup = base.replace("tonight", "today") // 1-token change
    val other = "completely different content about spark query engines and columnar storage formats with nothing shared"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashLsh(d, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missing planted pair, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false positive with 3: $pairs")
  }

  test("minhashVerified confirms with exact jaccard") {
    val nearDup = base.replace("tonight", "today")
    val d = docs(1L -> base, 2L -> nearDup)
    val rows = Dedup.minhashVerified(d).collect()
    assert(rows.length == 1)
    val j = rows(0).getDouble(2)
    assert(j > 0.8 && j < 1.0, s"jaccard $j")
  }

  test("simhash near-dups: hamming small for near-identical, large for unrelated") {
    val d = docs(1L -> base, 2L -> base.replace("tonight", "today"),
      3L -> "utterly unrelated words describing medieval architecture and gothic cathedrals of europe entirely")
    val sh = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)),
      s"near-dup hamming ${hamming(sh(1L), sh(2L))} !< unrelated ${hamming(sh(1L), sh(3L))}")
  }

  test("brute-force ANN: nearest neighbor of a cluster member is in-cluster") {
    import spark.implicits._
    // two tight clusters around orthogonal axes
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val v = new Array[Float](8)
      v(axis) = 1f
      v((axis + 1) % 8) = jitter
      v
    }
    val emb = Seq(
      (0L, vec(0, 0.01f), 0), (1L, vec(0, 0.02f), 0), (2L, vec(0, 0.03f), 0),
      (10L, vec(4, 0.01f), 1), (11L, vec(4, 0.02f), 1), (12L, vec(4, 0.03f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top1 = Similarity.bruteForceTopK(emb, emb.filter("vec_id = 0"), k = 1).collect()
    assert(top1.length == 1)
    assert(Set(1L, 2L).contains(top1(0).getLong(1)), top1.mkString)
    // LSH variant agrees on this easy case
    val lsh1 = Similarity.lshTopK(emb, emb.filter("vec_id = 0"), k = 1)
      .collect()
    assert(lsh1.length == 1 && Set(1L, 2L).contains(lsh1(0).getLong(1)), lsh1.mkString)
    // IVF variant agrees too: cluster-mates have near-identical centroid
    // cosines, so the query's top probe is its mates' assignment cell
    val ivf1 = Similarity.ivfTopK(emb, emb.filter("vec_id = 0"), k = 1,
      nCells = 8, nProbe = 2).collect()
    assert(ivf1.length == 1 && Set(1L, 2L).contains(ivf1(0).getLong(1)), ivf1.mkString)
  }

  /** Deterministic synthetic embeddings: 40 vectors, dim 8, values a
    * small integer lattice scaled to [-1, 1] — no RNG, non-zero norms. */
  private def syntheticEmb(n: Int = 40, dim: Int = 8): DataFrame = {
    import spark.implicits._
    (0 until n).map { id =>
      val v = Array.tabulate(dim)(d => (((id * 7 + d * 3) % 11) - 5).toFloat / 5f)
      (id.toLong, if (v.forall(_ == 0f)) Array.fill(dim)(0.2f) else v)
    }.toDF("vec_id", "embedding")
  }

  test("IVF ANN: cells partition the corpus; probes are nProbe distinct cells") {
    val emb = syntheticEmb()
    val assign = Similarity.ivfCells(emb, "vec_id", nCells = 8, take = 1).collect()
    assert(assign.length == 40, s"expected one cell per vector, got ${assign.length}")
    assert(assign.map(_.getLong(0)).distinct.length == 40)
    val probes = Similarity.ivfCells(emb.filter("vec_id < 3"), "vec_id", nCells = 8, take = 3)
      .collect().groupBy(_.getLong(0))
    assert(probes.keySet == Set(0L, 1L, 2L))
    probes.values.foreach { rows =>
      assert(rows.length == 3 && rows.map(_.getInt(1)).distinct.length == 3, rows.mkString)
    }
  }

  test("sessionize: gap boundaries, singleton sessions, durations — hand-computed") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    // user 1: burst at 0/10/20 s, then (after a >1h gap) 7200/7205 s;
    // user 2: one event → singleton session with zero duration
    val ev = Seq(
      (0L, ts(0), 1L), (1L, ts(10), 1L), (2L, ts(20), 1L),
      (3L, ts(7200), 1L), (4L, ts(7205), 1L),
      (5L, ts(100), 2L)
    ).toDF("event_id", "ts", "user_id")
    val out = Events.sessionize(ev, gapUs = 3600L * 1000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, 0L, 3L, 20000000L),
      (1L, 3L, 2L, 5000000L),
      (2L, 5L, 1L, 0L)), out.toString)
  }

  test("IVF ANN with nProbe == nCells is exactly brute force") {
    val emb = syntheticEmb()
    val queries = emb.filter("vec_id < 3")
    def rows(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.get(2).asInstanceOf[Number].longValue())).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, queries, k = 4))
    val ivf = rows(Similarity.ivfTopK(emb, queries, k = 4, nCells = 8, nProbe = 8))
    assert(ivf == brute, s"ivf full-probe diverged:\n  ivf=$ivf\n  brute=$brute")
  }

  test("connected components: min-id representative per cluster, singletons self-represent") {
    import spark.implicits._
    // components {1,2,3} via chain 1-2, 2-3 (propagation needs 2 hops),
    // {5,9}, singleton 7
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 9L)).toDF("a_id", "b_id")
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val out = Dedup.survivors(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 9L -> 5L, 7L -> 7L), out.toString)
  }

  test("connected components: long path converges (diameter > 2), both solve paths agree") {
    import spark.implicits._
    // path 10-11-12-13-14-15: min label must travel 5 hops
    val pairs = (10L until 15L).map(i => (i + 1, i)).toDF("a_id", "b_id")
    // distributed min-label loop (gate forced off)
    val dist = Dedup.components(pairs, driverSolveMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // gated driver union-find (the small-graph short-circuit)
    val drv = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (10L to 15L).map(_ -> 10L).toMap
    assert(dist == expected, s"distributed: $dist")
    assert(drv == expected, s"driver solve: $drv")
  }

  test("connected components: 300-hop adversarial path solved in O(log n) rounds") {
    import spark.implicits._
    // a duplicate CHAIN of diameter 300: min-label propagation needs
    // ~300 shuffle rounds; star contraction must finish within 15.
    val pairs = (0L until 300L).map(i => (i + 1, i)).toDF("a_id", "b_id")
    val out = Dedup.components(pairs, maxIter = 15, driverSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (0L to 300L).map(_ -> 0L).toMap,
      s"${out.count(_._2 != 0L)} of ${out.size} vertices mislabeled")
  }

  test("connected components: paths of every length 1..10 — star contraction agrees with union-find") {
    import spark.implicits._
    for (n <- 1L to 10L) {
      // scrambled ids, so the minimum sits mid-path for most lengths
      val pairs = (0L until n).map(i => ((i * 7) % 11, ((i + 1) * 7) % 11)).toDF("a_id", "b_id")
      val dist = Dedup.components(pairs, driverSolveMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val drv = Dedup.components(pairs, driverSolveMaxEdges = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(drv.size == n + 1 && drv.values.toSet.size == 1, s"length $n: union-find=$drv")
      assert(dist == drv, s"length $n: star=$dist vs union-find=$drv")
    }
  }

  test("connected components: random graphs — star contraction agrees with union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 120 + trial * 40
      val edges = (0 until n).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      val pairs = edges.toDF("a_id", "b_id") // includes self-loops a==b
      val dist = Dedup.components(pairs, driverSolveMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val drv = Dedup.components(pairs, driverSolveMaxEdges = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == drv, s"trial $trial: star=$dist vs union-find=$drv")
    }
  }

  test("langId identifies obvious English and German") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat is on the mat and the dog is in the house with the family", "en"),
      (2L, "der Hund ist im Haus und die Katze ist auf der Matte mit der Familie", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "en", out.toString)
    assert(out(2L) == "de", out.toString)
  }

  test("langId splits CJK scripts: kana → ja, Han-only → zh, hangul → ko") {
    import spark.implicits._
    val d = Seq(
      // Japanese: Han + kana mixed (round 2 returned "zh" for this)
      (1L, "日本語のテキストです。これはひらがなとカタカナを含む文章である。", "ja"),
      // Chinese: Han only, no kana
      (2L, "这是一段中文文本内容包含很多汉字但没有假名字符在里面的样例", "zh"),
      // Korean: hangul
      (3L, "이것은 한국어 텍스트입니다 한글 문자로만 이루어진 문장입니다", "ko"),
      (4L, "", "und"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "ja", 2L -> "zh", 3L -> "ko", 4L -> "und"), out.toString)
  }

  test("langId marker argmax is deterministic on ties (alphabetically first)") {
    import spark.implicits._
    // " de " is a marker for pt ("o/a/de") and nl ("de"); craft a text
    // hitting only the shared ' de ' marker → tie broken to 'nl' < 'pt'
    val d = Seq((1L, "xxx de yyy", "und")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).collect().head.getString(2)
    // fr also has no ' de '; nl's " de " and pt's " de " both score 1 →
    // alphabetical fold order keeps the earliest max
    val expected = TextAnalysis.langOrder
      .find(l => TextAnalysis.langMarkers(l).contains(" de ")).get
    assert(out == expected, s"got $out expected $expected")
  }

  test("fingerprint is deterministic and text-sensitive") {
    // min-sampled rolling hash: stable for identical text (and robust
    // to small appends BY DESIGN); different content → different value
    val d1 = docs(1L -> base, 2L -> base,
      3L -> "entirely different material with no shared sixteen-char windows whatsoever here")
    val fp = TextAnalysis.fingerprint(d1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("simhashNearDups matches brute-force truth incl. hamming 4-8 (pigeonhole)") {
    // 40 mutated variants of a base doc → a natural spread of simhash
    // distances; assert the banded join returns EXACTLY the brute-force
    // pair set at maxDist=8 (round 1's 4x16 banding missed dist 4-8)
    val words = base.split(" ")
    val rnd = new scala.util.Random(7)
    val variants = (1L to 40L).map { id =>
      val w = words.clone()
      val nMut = rnd.nextInt(4) // 0-3 word substitutions
      (0 until nMut).foreach { _ => w(rnd.nextInt(w.length)) = s"w${rnd.nextInt(12)}" }
      (id, w.mkString(" "))
    }
    val d = docs(variants: _*)
    val sh = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 8
    } yield (a, b)).toSet
    val dists = truth.toSeq.map { case (a, b) => java.lang.Long.bitCount(sh(a) ^ sh(b)) }
    assert(dists.exists(d => d >= 4 && d <= 8),
      s"test corpus must exercise the 4-8 range, got distances $dists")
    val found = Dedup.simhashNearDups(d, maxDist = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"missing: ${truth -- found}; extra: ${found -- truth}")
  }

  test("simhashCapAudit: observed cap behavior equals first-principles prediction") {
    // same mutated-variant corpus as the pigeonhole test, but run the
    // capped pipeline at a bucketCap the corpus exceeds; assert the
    // audit's pair universe IS brute-force truth, the in_capped=1 rows
    // ARE the capped run's output, and the flags match an independent
    // scala-side prediction from bucket occupancy alone (the local
    // analog of the DuckDB capAuditSql oracle)
    val words = base.split(" ")
    val rnd = new scala.util.Random(7)
    val variants = (1L to 40L).map { id =>
      val w = words.clone()
      val nMut = rnd.nextInt(4)
      (0 until nMut).foreach { _ => w(rnd.nextInt(w.length)) = s"w${rnd.nextInt(12)}" }
      (id, w.mkString(" "))
    }
    val d = docs(variants: _*)
    val maxDist = 8
    val cap = 3
    val sh = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // first-principles: chunk layout straight from the documented spec
    // (maxDist+1 contiguous spans, wide spans first)
    val nChunks = maxDist + 1
    val cBase = 64 / nChunks
    val cExtra = 64 % nChunks
    val bounds = (0 until nChunks).scanLeft(0) { (off, i) =>
      off + cBase + (if (i < cExtra) 1 else 0)
    }
    def chunksOf(v: Long): Seq[(Int, Long)] = (0 until nChunks).map { i =>
      val off = bounds(i)
      val width = bounds(i + 1) - off
      val mask = if (width == 64) -1L else (1L << width) - 1L
      (i, (v >>> off) & mask)
    }
    val vals = sh.values.toSet.toSeq
    val occupancy = vals.flatMap(chunksOf).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(occupancy.values.exists(_ > cap), "corpus must exceed the cap for this test")
    def predictFound(a: Long, b: Long): Boolean =
      a == b || chunksOf(a).zip(chunksOf(b)).exists { case (ca, cb) =>
        ca == cb && occupancy(ca) <= cap
      }
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= maxDist
    } yield ((a, b), if (predictFound(sh(a), sh(b))) 1 else 0)).toMap
    val audit = Dedup.simhashCapAudit(d, maxDist, cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    assert(audit == expected,
      s"prediction mismatch: ${(expected.toSet -- audit.toSet) ++ (audit.toSet -- expected.toSet)}")
    assert(audit.values.exists(_ == 0), "cap must censor at least one pair here")
    assert(audit.values.exists(_ == 1), "cap must keep at least one pair here")
    val observed = Dedup.simhashNearDups(d, maxDist, cap)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(audit.filter(_._2 == 1).keySet == observed)
  }

  test("jaccardPairs (prefix-filtered) equals brute-force truth at the threshold") {
    val rnd = new scala.util.Random(11)
    // 3 clusters of lightly-mutated variants → pairs across the whole
    // jaccard range, including ≥ threshold within clusters
    val bases = Seq(
      base.split(" "),
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi".split(" "),
      "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen".split(" "))
    val variants = (1L to 30L).map { id =>
      val w = bases(((id - 1) / 10).toInt).clone()
      val nMut = rnd.nextInt(3) // 0-2 word substitutions
      (0 until nMut).foreach { _ => w(rnd.nextInt(w.length)) = s"mut${rnd.nextInt(40)}" }
      (id, w.mkString(" "))
    }
    val d = docs(variants: _*)
    val sets = variants.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    // sweep thresholds: the prefix/length/positional filters all cut
    // differently at different t, and every cut must stay lossless —
    // including at t where some pair sits exactly on the threshold
    for (threshold <- Seq(0.5, 0.7, 0.85, 0.95)) {
      val truth = (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
        if j >= threshold
      } yield (a, b)).toSet
      assert(threshold > 0.9 || truth.nonEmpty,
        s"test corpus must contain qualifying pairs at t=$threshold")
      val found = Dedup.jaccardPairs(d, threshold)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == truth,
        s"t=$threshold missing: ${truth -- found}; extra: ${found -- truth}")
    }
  }

  test("embedding near-dup: pivot-bucketed exact matches collect-baseline; LSH finds tight dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // 3 tight clusters (intra-cosine ≈ 0.999) + noise vectors
    def jittered(axis: Int): Array[Float] = {
      val v = Array.fill(16)(rnd.nextFloat() * 0.02f)
      v(axis) = 1f
      v
    }
    val emb = ((0 until 9).map(i => (i.toLong, jittered(i / 3 * 5))) ++
      (20 until 30).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))))
      .toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairsExact(emb, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseline = Similarity.nearDupPairs(emb, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == baseline, s"exact $exact != baseline $baseline")
    val planted = (for (c <- 0 until 3; a <- 0 until 3; b <- a + 1 until 3)
      yield ((c * 3 + a).toLong, (c * 3 + b).toLong)).toSet
    assert(exact == planted, s"expected the 9 intra-cluster pairs, got $exact")
    val lsh = Similarity.nearDupPairsLsh(emb, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH recall on cosine≥0.95 pairs is ≈1-(1-0.9^6)^24 ≈ 1-5e-6
    assert(lsh == planted, s"LSH missed tight dups: ${planted -- lsh}; extra: ${lsh -- planted}")
  }

  test("exact embedding dedup: pivot prune is lossless at loose and tight thresholds, no corpus broadcast") {
    import spark.implicits._
    // adversarial spread: random unit-ball vectors → pairs at all
    // cosines, including near each threshold boundary
    val rnd = new scala.util.Random(17)
    val emb = (0 until 120).map { i =>
      (i.toLong, Array.fill(12)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding").cache()
    for (t <- Seq(0.3, 0.45, 0.7, 0.9)) {
      val exact = Similarity.nearDupPairsExact(emb, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val baseline = Similarity.nearDupPairs(emb, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact == baseline,
        s"t=$t: missing ${baseline -- exact}; extra ${exact -- baseline}")
    }
    // the scale contract: no full-table broadcast join anywhere in the plan
    val plan = Similarity.nearDupPairsExact(emb, 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    emb.unpersist()
  }

  test("media header decode: PNG IHDR, JPEG SOF0, GIF screen descriptor") {
    def be32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0)
    assert(Multimodal.decodeHeader(png) == ("png", 640L, 480L, 8L))
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      // APP0 segment (len 16) then SOF0: len 17, precision 8, h 600, w 800
      Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16) ++ new Array[Byte](14) ++
      Array[Byte](0xff.toByte, 0xc0.toByte, 0, 17, 8, 2, 0x58, 3, 0x20) ++
      new Array[Byte](10)
    assert(Multimodal.decodeHeader(jpeg) == ("jpeg", 800L, 600L, 8L))
    val gif = "GIF89a".getBytes ++ Array[Byte](0x40, 0x01, 0xf0.toByte, 0x00) ++
      new Array[Byte](3) // 320x240 LE
    assert(Multimodal.decodeHeader(gif) == ("gif", 320L, 240L, 8L))
    assert(Multimodal.decodeHeader("plain text".getBytes)._1 == "unknown")
  }

  test("media header decode: truncated headers degrade to unknown, never throw") {
    val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    // exactly 24 bytes: signature + length + "IHDR" + width + height,
    // but NO bit-depth byte at offset 24 (the ADVICE repro)
    val truncated24 = pngSig ++ Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes ++
      Array.fill[Byte](8)(1)
    assert(truncated24.length == 24)
    assert(Multimodal.decodeHeader(truncated24)._1 == "unknown")
    // every prefix of a valid header must degrade, not throw
    def be32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = pngSig ++ be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xc0.toByte,
      0, 17, 8, 2, 0x58, 3, 0x20)
    for (full <- Seq(png, jpeg); n <- 0 until full.length)
      Multimodal.decodeHeader(full.take(n)) // must not throw
    // and through the Spark job path: one malformed payload must not
    // fail the task
    import spark.implicits._
    val d = Seq((1L, truncated24), (2L, png)).toDF("doc_id", "payload")
    val out = Multimodal.extractFeatures(d).collect().map(f => f.doc_id -> f.format).toMap
    assert(out == Map(1L -> "unknown", 2L -> "png"))
  }

  test("extractFeatures emits scalar, hash-stable columns with real dims") {
    import spark.implicits._
    def be32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(32) ++ be32(16) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be32(0)
    val d = Seq((1L, png), (2L, "some text payload".getBytes)).toDF("doc_id", "payload")
    val out = Multimodal.extractFeatures(d).collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).format == "png" && out(1L).width == 32L && out(1L).height == 16L)
    assert(out(2L).format == "unknown")
    // determinism: same payload → same hash scalars
    val again = Multimodal.extractFeatures(d).collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).feature_hash == again(1L).feature_hash)
    assert(out(2L).feature_norm == again(2L).feature_norm)
  }

  test("repetition signals flag duplicated tokens and stuffed bigrams") {
    val d = docs(
      1L -> "buy now buy now buy now buy now buy now", // stuffed: one bigram dominates
      2L -> "alpha beta gamma delta epsilon zeta eta theta") // all distinct
    val out = TextAnalysis.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val spam = out(1L)
    assert(spam.getLong(1) == 10L && spam.getLong(2) == 2L) // 10 tokens, 2 distinct
    assert(spam.getDouble(3) == 0.8) // dup fraction
    assert(spam.getLong(4) == 5L, spam.toString) // "buy now" occurs 5 times of 9 bigrams
    val clean = out(2L)
    assert(clean.getDouble(3) == 0.0 && clean.getLong(4) == 1L)
  }

  test("contamination flags corpus docs sharing 5-grams with the benchmark") {
    val bench = docs(1L -> base)
    val corpus = docs(
      10L -> base, // full overlap
      11L -> ("prefix words here " + base.split(" ").take(6).mkString(" ") + " unrelated tail content"),
      12L -> "completely different material with zero shared five gram windows in it at all")
    val out = TextAnalysis.contamination(corpus, bench, w = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(10L) && out(10L) >= 10L, out.toString) // many shared grams
    assert(out.contains(11L) && out(11L) >= 1L, out.toString)  // the planted 6-token run → 2 shared 5-grams
    assert(!out.contains(12L), out.toString)
  }

  test("pii scrub counts and redacts emails + IPv4 literals") {
    val d = docs(
      1L -> "contact bob@example.com or admin@corp.io from 192.168.1.1 today",
      2L -> "no personal identifiers in this document at all")
    val out = TextAnalysis.piiScrub(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2L, out(1L).toString) // emails
    assert(out(1L).getLong(2) == 1L, out(1L).toString) // ips
    // redacted: "contact [EMAIL] or [EMAIL] from [IP] today"
    assert(out(1L).getLong(3) == "contact [EMAIL] or [EMAIL] from [IP] today".length.toLong)
    assert(out(2L).getLong(1) == 0L && out(2L).getLong(2) == 0L)
  }

  test("rare-trigram scoring: outlier doc accumulates rare grams, common docs few") {
    // 9 near-identical docs + 1 outlier with unique characters: the
    // outlier's trigrams are globally rare (freq far below mean)
    val common = (1L to 9L).map(i => i -> base)
    val outlier = 10L -> "zzqx jjvw qqpy xxkz wwvv kkjj ppqq yyzz zxqj vxwk"
    val d = docs(common :+ outlier: _*)
    val out = TextAnalysis.rareTrigramSignals(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val byId = out.map(x => x._1 -> x).toMap
    assert(byId(10L)._3 > byId(10L)._2 / 2, byId(10L).toString) // mostly rare
    assert(byId(1L)._3 < byId(1L)._2 / 4, byId(1L).toString)    // mostly common
  }

  test("rare-trigram scoring: docs shorter than 3 chars emit zero trigrams") {
    // sequence(1, length-2) steps DOWN for length < 3 — the guard must
    // keep phantom trigrams out of the global table (ADVICE repro:
    // "" produced n_trigrams=4, "ab" produced 2)
    val d = docs(1L -> "", 2L -> "ab", 3L -> "x", 4L -> base)
    val out = TextAnalysis.rareTrigramSignals(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!out.contains(1L) && !out.contains(2L) && !out.contains(3L), out.toString)
    assert(out(4L) == (base.length - 2).toLong, out.toString)
  }

  test("line dedup: threshold, order preservation, blank lines immune") {
    import spark.implicits._
    // "nav menu" in 3 docs (>= minDocs=3 → dropped), "rare" lines
    // unique (kept), blank line in every doc (kept — never counted),
    // "duo" in 2 docs (< 3 → kept). Doc 4 has the boiler line TWICE —
    // both occurrences drop, but it still counts as ONE distinct doc.
    val d = Seq(
      (1L, "nav menu\nalpha\n\nduo"),
      (2L, "beta\nnav menu\n\nduo"),
      (3L, "gamma\n\nnav menu"),
      (4L, "nav menu\ndelta\nnav menu")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(d, minDocs = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("alpha\n\nduo", 4L, 1L)))
    assert(out(2L) == (("beta\n\nduo", 4L, 1L)))
    assert(out(3L) == (("gamma\n", 3L, 1L)))
    assert(out(4L) == (("delta", 3L, 2L)))
  }

  test("line dedup: trimmed key matches padded variants; all-dropped doc yields empty text") {
    import spark.implicits._
    val d = Seq(
      (1L, "  promo  "), (2L, "promo"), (3L, "promo\nkeep me"))
      .toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(d, minDocs = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // "  promo  " trims to the same key → 3 distinct docs → dropped
    assert(out(1L) == (("", 1L, 1L)))
    assert(out(2L) == (("", 1L, 1L)))
    assert(out(3L) == (("keep me", 2L, 1L)))
  }

  test("multimodal metadata sniffs pdf magic") {
    import spark.implicits._
    val pdf = graft.pdf.testgen.PdfBuilder.singlePage(
      Seq(graft.pdf.testgen.PdfBuilder.Line(100, 700, 12, "F1", "x")))
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a)
    val d = Seq((1L, pdf), (2L, png), (3L, "plain".getBytes)).toDF("doc_id", "payload")
    val m = Multimodal.metadata(d).collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(m == Map(1L -> "pdf", 2L -> "png", 3L -> "unknown"))
  }

  // ---------------- host-level minhash overlap ---------------------

  private def hostDocs(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.zipWithIndex.map { case ((src, t), i) => (i.toLong, t, src) }
      .toDF("doc_id", "text", "source")
  }

  test("hostOverlap: identical content = 1000 permille, disjoint absent") {
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val t2 = "completely different words about columnar storage engines and formats"
    val d = hostDocs("a" -> t1, "mirror" -> t1, "b" -> t2)
    val out = Dedup.hostOverlap(d, minMatches = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(out == Map(("a", "mirror") -> 1000L))
  }

  test("hostOverlap: union merge — host sig is min over its pages") {
    // host "ab" holds both texts; overlap(ab, a-only) must be HIGH
    // (every a-shingle is in ab's union) even though ab also has b
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val t2 = "completely different words about columnar storage engines and formats"
    val d = hostDocs("ab" -> t1, "ab" -> t2, "a" -> t1)
    val out = Dedup.hostOverlap(d, minMatches = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // min-of-union: expected match share ~ |A|/|A∪B| (~half the lanes)
    assert(out(("a", "ab")) >= 16L)
  }

  test("hostOverlap: duplicate pages are idempotent; repartition-stable") {
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val t2 = "some shared middle content plus the quick brown fox appears here"
    val d = hostDocs("x" -> t1, "y" -> t2)
    val dup = hostDocs("x" -> t1, "x" -> t1, "y" -> t2, "y" -> t2)
    val base = Dedup.hostOverlap(d, minMatches = 1).collect().map(_.toString).sorted.toSeq
    val dd = Dedup.hostOverlap(dup, minMatches = 1).collect().map(_.toString).sorted.toSeq
    val rp = Dedup.hostOverlap(d.repartition(7), minMatches = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(base == dd && base == rp)
  }

  test("minhashLshIncremental == full minhashLsh restricted to delta-touching pairs") {
    import spark.implicits._
    // base: two planted near-dup families + noise; delta: a near-dup
    // of base doc 1, an exact dup of base doc 3, a delta-delta pair,
    // and an unrelated doc
    val mk = (id: Long, t: String) => (id, t)
    val base = Seq(
      mk(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      mk(2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      mk(3, "one two three four five six seven eight nine ten"),
      mk(4, "completely different content about nothing shared at all okay"))
      .toDF("doc_id", "text")
    val delta = Seq(
      mk(10, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      mk(11, "one two three four five six seven eight nine ten"),
      mk(12, "red orange yellow green blue indigo violet pink brown black"),
      mk(13, "red orange yellow green blue indigo violet pink brown white"),
      mk(14, "nothing like anything else in the whole corpus here truly"))
      .toDF("doc_id", "text")
    val pairSet = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = pairSet(Dedup.minhashLshIncremental(
      Dedup.minhashSignatures(base, 64, 3).localCheckpoint(true), delta,
      threshold = 0.3))
    val full = pairSet(Dedup.minhashLsh(base.unionAll(delta),
      threshold = 0.3).filter(
        org.apache.spark.sql.functions.col("a_id") >= 10 ||
        org.apache.spark.sql.functions.col("b_id") >= 10))
    assert(inc == full && inc.nonEmpty)
    // must include a base-delta pair AND the delta-delta pair
    assert(inc.exists { case (a, b, _) => a < 10 && b >= 10 })
    assert(inc.exists { case (a, b, _) => a >= 10 && b >= 10 })
    spark.catalog.clearCache()
  }

  test("bloomDecontaminate: true hits subset of bloom hits; planted contamination found") {
    import spark.implicits._
    // doc 100 shares a full 5-gram with the benchmark; doc 101 none
    val bench = Seq((0L, "secret eval question about physics here"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "intro words then secret eval question about physics and more"),
      (101L, "entirely unrelated text with no overlap whatsoever present today"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bloomDecontaminate(corpus, bench, w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (g100, bl100, tr100, fp100) = out(100L)
    // "secret eval question about physics" is one of doc 100's grams
    assert(tr100 == 1L && bl100 >= tr100 && fp100 == bl100 - tr100)
    assert(g100 == 6L) // 10 tokens -> 6 sliding 5-grams
    val (_, bl101, tr101, _) = out(101L)
    assert(tr101 == 0L && bl101 >= 0L)
  }

  test("pmiCollocations: lift ordering and exact counts by hand") {
    import spark.implicits._
    // tokens: a b a b a b c c c c — bigrams (a,b):3 (b,a):2 (b,c):1
    // (c,c):3; N=10, c_a=3 c_b=3 c_c=4; lifts 30/9, 20/9, 10/12, 30/16
    val d = Seq((1L, "a b a b a b c c c c")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(d, minCount = 1L, k = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      ("a", "b", 3L, 3L, 3L, 10L),
      ("b", "a", 2L, 3L, 3L, 10L),
      ("c", "c", 3L, 4L, 4L, 10L),
      ("b", "c", 1L, 3L, 4L, 10L)))
  }

  test("pmiCollocations: minCount floors hapax bigrams; tie breaks (a,b)") {
    import spark.implicits._
    // 'x y' and 'y x' both occur twice with identical lift — tie must
    // break on (a asc); 'q r' occurs once and is floored out
    val d = Seq((1L, "x y x y"), (2L, "y x y x"), (3L, "q r"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(d, minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(!out.contains(("q", "r")))
    val xy = out.indexOf(("x", "y")); val yx = out.indexOf(("y", "x"))
    assert(xy >= 0 && yx >= 0 && xy < yx)
  }
}
