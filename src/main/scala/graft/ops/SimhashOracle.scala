package graft.ops

/** DuckDB replication of `Dedup.simhash` — including Spark's
  * `xxhash64(string)` (XXH64, seed 42, over UTF-8 bytes) — so the
  * simhash family gets REAL hash-checked oracles instead of rows-only.
  *
  * The mod-2^64 arithmetic runs in HUGEINT; 64×64-bit products would
  * overflow int128, so `mulmod` splits operands into 32-bit halves
  * (a·b mod 2^64 = ((ah·bl + al·bh) mod 2^32)·2^32 + al·bl, every term
  * < 2^96). XOR works on BIGINT halves; rotations are exact because
  * the shifted parts occupy disjoint bit ranges. The XXH64 stages are
  * emitted as a flat chain of CTEs (nesting the macros textually
  * multiplies expression size ~6× per level — the naive inline version
  * was 233 KB of SQL; this one is ~11 KB).
  *
  * Scope caveats, both properties of the corpus rather than the
  * generator: tokens are ASCII (unicode(char) == UTF-8 byte) and
  * ≤ 31 bytes (XXH64's 32-byte accumulator loop is not emitted).
  * Token extraction mirrors `TextAnalysis.tokens` (lowercase, \s+ split).
  */
object SimhashOracle {

  private val M = "18446744073709551616"
  private val H = "4294967296"
  private val P1 = "11400714785074694791"
  private val P2 = "14029467366897019727"
  private val P3 = "1609587929392839161"
  private val P4 = "9650029242287828579"
  private val P5 = "2870177450012600261"

  private[ops] def mulmod(a: String, b: String): String =
    s"((((($a) // $H) * (($b) % $H) + (($a) % $H) * (($b) // $H)) % $H) * $H + (($a) % $H) * (($b) % $H)) % $M"

  private[ops] def xor64(a: String, b: String): String =
    s"(xor(CAST(($a) // $H AS BIGINT), CAST(($b) // $H AS BIGINT)) * CAST($H AS HUGEINT)" +
      s" + xor(CAST(($a) % $H AS BIGINT), CAST(($b) % $H AS BIGINT)))"

  private def rotl(a: String, r: Int): String = {
    val mul = BigInt(1) << r
    val div = BigInt(1) << (64 - r)
    s"((($a) * $mul) % $M + ($a) // $div)"
  }

  private def shr(a: String, n: Int): String = s"(($a) // ${BigInt(1) << n})"

  private def lane(off: String, nBytes: Int): String =
    (0 until nBytes).map(k => s"by[($off) + ${k + 1}] * ${BigInt(1) << (8 * k)}")
      .mkString("(", " + ", ")")

  /** The shared WITH-clause body ending in `sim(doc_id, simhash)`.
    * `docSrc` lets bounded queries (the quadratic-by-design cap audit)
    * restrict the input table on the oracle side too. */
  private lazy val pipeline: String = pipelineFor("documents")

  private def pipelineFor(docSrc: String): String = {
    val st = scala.collection.mutable.ArrayBuffer.empty[String]
    def stage(name: String, cols: String, src: String): Unit =
      st += s"$name AS (SELECT $cols FROM $src)"
    val keep = "tok, n, by"
    stage("s0", s"$keep, (42 + $P5 + n) % $M AS h", "tb")
    var prev = "s0"
    for (l <- 0 until 3) {
      stage(s"ka$l", s"$keep, h, ${lane((8 * l).toString, 8)} AS k", prev)
      stage(s"kb$l", s"$keep, h, ${mulmod("k", P2)} AS k", s"ka$l")
      stage(s"kc$l", s"$keep, h, ${rotl("k", 31)} AS k", s"kb$l")
      stage(s"kd$l", s"$keep, h, ${mulmod("k", P1)} AS k", s"kc$l")
      stage(s"hx$l", s"$keep, h, ${xor64("h", "k")} AS x", s"kd$l")
      stage(s"hr$l", s"$keep, h, ${rotl("x", 27)} AS x", s"hx$l")
      stage(s"hl$l",
        s"$keep, CASE WHEN n >= ${8 * (l + 1)} THEN (${mulmod("x", P1)} + $P4) % $M ELSE h END AS h",
        s"hr$l")
      prev = s"hl$l"
    }
    stage("ca", s"$keep, h, ${lane("8 * (n // 8)", 4)} AS k", prev)
    stage("cb", s"$keep, h, ${mulmod("k", P1)} AS k", "ca")
    stage("cx", s"$keep, h, ${xor64("h", "k")} AS x", "cb")
    stage("cr", s"$keep, h, ${rotl("x", 23)} AS x", "cx")
    stage("ch",
      s"$keep, CASE WHEN n % 8 >= 4 THEN (${mulmod("x", P2)} + $P3) % $M ELSE h END AS h", "cr")
    prev = "ch"
    for (j <- 0 until 3) {
      stage(s"ba$j", s"$keep, h, ${mulmod(s"by[n - (n % 4) + ${j + 1}]", P5)} AS k", prev)
      stage(s"bx$j", s"$keep, h, ${xor64("h", "k")} AS x", s"ba$j")
      stage(s"br$j", s"$keep, h, ${rotl("x", 11)} AS x", s"bx$j")
      stage(s"bh$j",
        s"$keep, CASE WHEN n % 4 > $j THEN ${mulmod("x", P1)} ELSE h END AS h", s"br$j")
      prev = s"bh$j"
    }
    stage("va", s"tok, ${xor64("h", shr("h", 33))} AS h", prev)
    stage("vb", s"tok, ${mulmod("h", P2)} AS h", "va")
    stage("vc", s"tok, ${xor64("h", shr("h", 29))} AS h", "vb")
    stage("vd", s"tok, ${mulmod("h", P3)} AS h", "vc")
    stage("ve", s"tok, ${xor64("h", shr("h", 32))} AS h", "vd")

    s"""pw2(b, p) AS (
       |  SELECT 0, CAST(1 AS HUGEINT)
       |  UNION ALL SELECT b + 1, p * 2 FROM pw2 WHERE b < 63),
       |p2 AS (SELECT list(p ORDER BY b) AS pl FROM pw2),
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> len(x) > 0)) AS tok
       |  FROM $docSrc),
       |dtok AS (SELECT DISTINCT tok FROM toks),
       |tb AS (SELECT tok, octet_length(encode(tok)) AS n,
       |         list_transform(generate_series(1, octet_length(encode(tok))),
       |           i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT)) AS by
       |       FROM dtok),
       |${st.mkString(",\n")},
       |votes AS (
       |  SELECT doc_id, bb.b AS b,
       |    sum(CASE WHEN (h // pl[bb.b + 1]) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM toks JOIN ve USING (tok), (SELECT unnest(generate_series(0, 63)) AS b) bb, p2
       |  GROUP BY doc_id, bb.b),
       |simu AS (
       |  SELECT doc_id, coalesce(sum(CASE WHEN v > 0 THEN pl[b + 1] ELSE 0 END), 0) AS su
       |  FROM votes, p2 GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN su < 9223372036854775808 THEN su ELSE su - $M END AS BIGINT) AS simhash
       |  FROM simu)""".stripMargin
  }

  /** Oracle for `dedup_simhash`: (doc_id, simhash). */
  def simhashSql: String =
    s"WITH RECURSIVE\n$pipeline\nSELECT doc_id, simhash FROM sim"

  /** Oracle for `dedup_simhash_near` at maxDist: (a_id, b_id, hamming).
    *
    * Replicates the ENGINE exactly — distinct-VALUE pigeonhole banding
    * (maxDist+1 chunks, wide chunks first, same bounds arithmetic as
    * `Dedup.simhashNearDups`), per-bucket cap, value-pair hamming
    * filter, doc re-expansion, plus the same-hash hamming-0 pairs — so
    * it stays value-exact at EVERY scale, including where a bucket
    * exceeds the cap and the engine intentionally trades recall for a
    * runtime bound (observed at sf0.1: brute force finds 103 pairs the
    * capped engine skips). The recall guarantee against the brute-force
    * ground truth is asserted separately in sbt (cap-not-binding
    * corpora). */
  def nearDupSql(maxDist: Int, bucketCap: Int = 2000): String = {
    val nChunks = maxDist + 1
    val base = 64 / nChunks
    val extra = 64 % nChunks
    val bounds = (0 until nChunks).scanLeft(0) { (off, i) =>
      off + base + (if (i < extra) 1 else 0)
    }
    val chunkRows = (0 until nChunks).map { i =>
      val off = bounds(i)
      val width = bounds(i + 1) - off
      s"($i, CAST('${BigInt(1) << off}' AS HUGEINT), CAST('${BigInt(1) << width}' AS HUGEINT))"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |$pipeline,
       |vals AS (SELECT DISTINCT simhash FROM sim),
       |valu AS (SELECT simhash,
       |  CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + $M ELSE CAST(simhash AS HUGEINT) END AS u
       |  FROM vals),
       |chunks(c, pdiv, pmod) AS (VALUES $chunkRows),
       |vch AS (SELECT simhash, c, (u // pdiv) % pmod AS ch FROM valu, chunks),
       |capped AS (SELECT * FROM (
       |  SELECT simhash, c, ch, count(*) OVER (PARTITION BY c, ch) AS bsz FROM vch)
       |  WHERE bsz <= $bucketCap),
       |vp AS (SELECT DISTINCT x.simhash AS a_sh, y.simhash AS b_sh
       |  FROM capped x JOIN capped y ON x.c = y.c AND x.ch = y.ch AND x.simhash < y.simhash
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxDist)
       |SELECT least(sa.doc_id, sb.doc_id) AS a_id,
       |  greatest(sa.doc_id, sb.doc_id) AS b_id,
       |  CAST(bit_count(xor(a_sh, b_sh)) AS INT) AS hamming
       |FROM vp JOIN sim sa ON sa.simhash = vp.a_sh JOIN sim sb ON sb.simhash = vp.b_sh
       |UNION ALL
       |SELECT a.doc_id, b.doc_id, CAST(0 AS INT)
       |FROM sim a JOIN sim b ON a.simhash = b.simhash AND a.doc_id < b.doc_id""".stripMargin
  }

  /** Oracle for `dedup_simhash_capped` (`Dedup.simhashCapAudit`):
    * (a_id, b_id, hamming, in_capped).
    *
    * NOT a pipeline replica: the pair universe is pure brute force
    * (every distinct-value pair at hamming ≤ maxDist — no banding), and
    * `in_capped` is PREDICTED from first principles — a pair survives
    * the capped engine iff the two hashes are equal, or agree on at
    * least one chunk whose (chunk, value) bucket holds ≤ bucketCap
    * distinct hashes (pigeonhole + the cap's stated contract). The
    * engine side reports what its real banded pipeline OBSERVED, so a
    * banding-layout or cap off-by-one bug diverges the two — the
    * independent check round-3's replica oracle could not make. */
  def capAuditSql(maxDist: Int, bucketCap: Int,
                  maxDocId: Long = 1000L): String = {
    val nChunks = maxDist + 1
    val base = 64 / nChunks
    val extra = 64 % nChunks
    val bounds = (0 until nChunks).scanLeft(0) { (off, i) =>
      off + base + (if (i < extra) 1 else 0)
    }
    val chunkRows = (0 until nChunks).map { i =>
      val off = bounds(i)
      val width = bounds(i + 1) - off
      s"($i, CAST('${BigInt(1) << off}' AS HUGEINT), CAST('${BigInt(1) << width}' AS HUGEINT))"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |${pipelineFor(s"(SELECT * FROM documents WHERE doc_id < $maxDocId)")},
       |vals AS (SELECT DISTINCT simhash FROM sim),
       |valu AS (SELECT simhash,
       |  CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + $M ELSE CAST(simhash AS HUGEINT) END AS u
       |  FROM vals),
       |vp AS (SELECT x.simhash AS a_sh, y.simhash AS b_sh,
       |    bit_count(xor(x.simhash, y.simhash)) AS hv
       |  FROM valu x JOIN valu y ON x.simhash < y.simhash
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxDist),
       |chunks(c, pdiv, pmod) AS (VALUES $chunkRows),
       |vch AS (SELECT simhash, c, (u // pdiv) % pmod AS ch FROM valu, chunks),
       |okb AS (SELECT c, ch FROM vch GROUP BY c, ch HAVING count(*) <= $bucketCap),
       |shared AS (SELECT DISTINCT xa.simhash AS a_sh, xb.simhash AS b_sh
       |  FROM vch xa JOIN vch xb ON xa.c = xb.c AND xa.ch = xb.ch AND xa.simhash < xb.simhash
       |  JOIN okb ON okb.c = xa.c AND okb.ch = xa.ch)
       |SELECT least(sa.doc_id, sb.doc_id) AS a_id,
       |  greatest(sa.doc_id, sb.doc_id) AS b_id,
       |  CAST(vp.hv AS INT) AS hamming,
       |  CAST(CASE WHEN sh.a_sh IS NULL THEN 0 ELSE 1 END AS INT) AS in_capped
       |FROM vp
       |LEFT JOIN shared sh ON sh.a_sh = vp.a_sh AND sh.b_sh = vp.b_sh
       |JOIN sim sa ON sa.simhash = vp.a_sh
       |JOIN sim sb ON sb.simhash = vp.b_sh
       |UNION ALL
       |SELECT a.doc_id, b.doc_id, CAST(0 AS INT), CAST(1 AS INT)
       |FROM sim a JOIN sim b ON a.simhash = b.simhash AND a.doc_id < b.doc_id""".stripMargin
  }
}
