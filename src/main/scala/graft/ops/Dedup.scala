package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import TextAnalysis.tokens

/** Corpus-level deduplication operators for training-data pipelines.
  * All shapes are shuffle-minimal and skew-aware: candidate generation
  * is always hash-bucketed (LSH band join / exact-hash groupBy) so the
  * pairwise work is bounded per bucket — never an O(n²) cross join at
  * corpus scale.
  */
object Dedup {

  /** Exact dedup: one survivor (min doc_id) per identical text.
    * Map-side partial aggregation handles the shuffle; at 100 TB swap
    * `text` for `xxhash64(text)` + a length tiebreak to cut shuffle
    * bytes (collision-checked on the survivor pass). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Exact dedup, scale shape: group on (xxhash64(text), length) so the
    * shuffle carries 16 bytes per row instead of the full document text
    * — at 10^12 docs that is the difference between shuffling ~100 TB
    * and ~16 TB. Output is identical to `exact` barring a 128-bit-ish
    * (hash, length) collision (probability ~n²/2^64; the paranoid
    * variant re-joins survivors on text to verify — omitted here, the
    * oracle compare IS that check at test scale). */
  def exactByHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), xxhash64(col("text")).as("h"),
        length(col("text")).as("len"))
      .groupBy(col("h"), col("len"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Window-style dedup: per-group survivor via row_number — the shape
    * used for per-host / per-snapshot keep-latest policies. */
  def windowSurvivors(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id").asc)
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("doc_id"), col("n_chars"))
  }

  /** w-shingles as strings (codegen-friendly: transform over sequence). */
  def shingles(text: Column, w: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= w,
      array_distinct(transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** splitmix64 finalizer — the per-permutation mixer for minhash. */
  @inline private[ops] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over a string (deterministic, allocation-free). */
  @inline private[ops] def hash64(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
    h
  }

  /** MinHash signatures, one pass per document: base-hash each shingle
    * once, derive the k permutations by splitmix64 remixing. Typed
    * mapPartitions on purpose — the expression-tree formulation
    * (k × array_min(transform(xxhash64(shingle)))) re-hashed every
    * shingle string k times and benched 500+ s at sf0.1; this is
    * per-row imperative logic, the documented mapPartitions case. */
  def minhashSignatures(docs: DataFrame, k: Int, shingleWidth: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), lower(col("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, sigKernel(text, k, shingleWidth))
      }).toDF("doc_id", "sig")
  }

  /** Scalar signature kernel shared by [[minhashSignatures]] and
    * [[hostOverlap]]: k signed-min lanes over chained-FNV 3-gram
    * hashes, permutations derived by splitmix64 remixing. Expects
    * already-lowercased text. */
  private[ops] def sigKernel(text: String, k: Int,
                             shingleWidth: Int): Array[Long] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val sig = Array.fill(k)(Long.MaxValue)
    val n = math.max(1, toks.length - shingleWidth + 1)
    var i = 0
    while (i < n) {
      val h = gramHash(toks, i, shingleWidth)
      var j = 0
      while (j < k) {
        val hj = mix64(h + j * 0xc2b2ae3d27d4eb4fL)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Chained-FNV hash of the w-gram starting at token i (clamped at
    * the text end) — THE gram unit of the entire minhash family;
    * factored out of [[sigKernel]] so the sweep's truth arm hashes
    * the exact same grams the signatures minimize over. */
  @inline private[ops] def gramHash(toks: Array[String], i: Int, w: Int): Long = {
    var h = 0xcbf29ce484222325L
    var g = 0
    while (g < w && i + g < toks.length) {
      h = (h ^ hash64(toks(i + g), 0, toks(i + g).length)) * 1099511628211L
      g += 1
    }
    h
  }

  /** Sorted distinct w-gram hash set of a (lowercased) text — the
    * exact set whose Jaccard the minhash signature estimates. */
  private[ops] def gramSet(text: String, w: Int): Array[Long] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val n = math.max(1, toks.length - w + 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(gramHash(toks, i, w)); i += 1 }
    val out = new Array[Long](set.size)
    var j = 0
    val it = set.iterator()
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Host-level content overlap via MERGEABLE minhash union — the
    * mirror-detection rollup: the minhash signature of a UNION of
    * shingle sets is the elementwise (signed) min of the members'
    * signatures, so a host's signature folds over its pages in one
    * partial-aggregated pass, and lane-equality counts between host
    * pairs estimate the Jaccard overlap of the hosts' ENTIRE content
    * — exactly how mirror farms are found at crawl scale without
    * comparing any page pair.
    *
    * Output per host pair (a_host < b_host, ≥ minMatches equal
    * lanes): matches of k, est_permille = matches·1000 div k.
    *
    * Scale shape: per-page signatures (the documented mapPartitions
    * kernel) explode to (host, lane, value) and fold by ONE
    * partial-aggregated groupBy(host, lane) — ≤ |hosts|·k rows
    * shuffle; the pair generation is an equi-join on (lane, value) —
    * hosts meet ONLY where a lane value coincides (LSH-style), never
    * all-pairs; the final rollup groups the (bounded) matching lane
    * rows. Duplicate doc_ids (e.g. a planted mirror) are harmless:
    * min is idempotent. */
  def hostOverlap(docs: DataFrame, k: Int = 64, shingleWidth: Int = 3,
                  minMatches: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hostSig = docs.select(col("source").cast("string"),
        lower(col("text")))
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (host, text) =>
        val sig = sigKernel(text, k, shingleWidth)
        Iterator.tabulate(k)(j => (host, j, sig(j)))
      }).toDF("host", "j", "s")
      .groupBy(col("host"), col("j")).agg(min(col("s")).as("s"))
      .localCheckpoint(false) // |hosts| x k rows
    val a = hostSig.select(col("host").as("a_host"), col("j"), col("s"))
    val b = hostSig.select(col("host").as("b_host"), col("j"), col("s"))
    a.join(b, Seq("j", "s"))
      .filter(col("a_host") < col("b_host"))
      .groupBy(col("a_host"), col("b_host"))
      .agg(count(lit(1)).as("matches"))
      .filter(col("matches") >= minMatches)
      .select(col("a_host"), col("b_host"), col("matches"),
        expr(s"matches * 1000L div ${k}L").as("est_permille"))
  }

  /** The near-duplicate family's one capped bucket self-join: the
    * similarity theta-join split into bucket equi-joins, called with
    * different bucket keys by the minhash banding ([[lshPairs]]), the
    * SimHash chunks ([[hammingNearDups64Persisted]]) and the embedding
    * hyperplane signatures ([[Similarity.nearDupPairsLsh]]).
    *
    * `rows` holds one row per bucket member: the `keys` columns, `id`
    * (long) and `is_new` (boolean). A bucket of more than `cap` rows is
    * dropped whole — the standard LSH safety valve: one degenerate
    * mega-bucket would otherwise pair everything with everything, so
    * the cap trades bounded recall on mega-clusters for a hard runtime
    * bound. The cap counts every row, new or old. Returns the distinct
    * (a_id, b_id) pairs, a_id < b_id, that share a kept bucket and have
    * at least one new side; equal ids never pair.
    *
    * With every row new this is the plain self-join. With old rows it is
    * the incremental join: only new rows probe the kept buckets, so a
    * bucket without a new member costs its count and nothing more, and a
    * new-new pair is emitted once, from its smaller id.
    *
    * Scale shape: a window count and an equi-join, both on `keys`, then
    * one distinct of the pairs — never a cross join. */
  private[ops] def bucketPairs(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val kept = rows
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bsz") <= cap)
    val probe = kept.filter(col("is_new"))
      .select(keys.map(col) :+ col("id").as("n_id"): _*)
    val members = kept
      .select(keys.map(col) :+ col("id").as("o_id") :+ col("is_new").as("o_new"): _*)
    probe.join(members, keys)
      .filter(col("n_id") < col("o_id") || (!col("o_new") && col("n_id") =!= col("o_id")))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .distinct()
  }

  /** Estimated Jaccard of two k-lane minhash signatures: the share of
    * lanes on which they agree. */
  private def sigAgreement(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v)).cast("double") / k

  /** Exact Jaccard of two distinct-token arrays, |a ∩ b| / |a ∪ b|,
    * with the union's size taken as |a| + |b| − |a ∩ b| (the same
    * integers, so the same double). */
  private def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** (doc_id, band, bh) rows: per-band FNV fold of the signature
    * lanes. */
  private def bandSignatures(sig: DataFrame, bands: Int, r: Int): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    sig.as[(Long, Array[Long])].flatMap { case (id, s) =>
      (0 until bands).map { b =>
        var h = 0xcbf29ce484222325L ^ b
        var i = b * r
        while (i < (b + 1) * r) { h = (h ^ s(i)) * 1099511628211L; i += 1 }
        (id, b, h)
      }
    }.toDF("doc_id", "band", "bh")
  }

  /** The LSH pipeline behind [[minhashLsh]] and
    * [[minhashLshIncremental]]: each (doc_id, sig) table of `sigs`,
    * flagged new or old, is banded by [[bandSignatures]]; the
    * (band, bh) buckets pair through [[bucketPairs]]; both signatures
    * join back for the [[sigAgreement]] ≥ `threshold` filter. The
    * candidate-pair side is the small one, so the re-joins are plain
    * (shuffle- or AQE-chosen) joins: broadcasting the signature table
    * instead would ship 0.5 KB × every doc to every executor. */
  private def lshPairs(sigs: Seq[(DataFrame, Boolean)], k: Int, bands: Int,
                       threshold: Double, bucketCap: Int): DataFrame = {
    val banded = sigs.map { case (s, isNew) =>
      bandSignatures(s, bands, k / bands)
        .select(col("band"), col("bh"), col("doc_id").as("id"), lit(isNew).as("is_new"))
    }.reduce(_.unionAll(_))
    val sig = sigs.map(_._1).reduce(_.unionAll(_))
    bucketPairs(banded, Seq("band", "bh"), bucketCap)
      .join(sig.toDF("a_id", "a_sig"), "a_id")
      .join(sig.toDF("b_id", "b_sig"), "b_id")
      .select(col("a_id"), col("b_id"),
        sigAgreement(col("a_sig"), col("b_sig"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash + LSH banding: [[minhashSignatures]], then [[lshPairs]]
    * with every document new — the incremental run with an empty base.
    * bands×rowsPerBand = k; P(candidate) ≈ 1-(1-j^r)^b; buckets larger
    * than `bucketCap` are dropped ([[bucketPairs]]).
    *
    * NOTE: the returned plan references a persist()ed signature table
    * (MEMORY_AND_DISK). The cache must outlive the caller's actions on
    * the result, so cleanup is caller-owned: unpersist via
    * `spark.catalog.clearCache()` (or track the table) once the result
    * is materialized — long-lived sessions otherwise accumulate cached
    * blocks until eviction. Same contract for `simhashNearDups`. */
  def minhashLsh(docs: DataFrame, k: Int = 64, bands: Int = 16,
                 threshold: Double = 0.5, shingleWidth: Int = 3,
                 bucketCap: Int = 1000): DataFrame = {
    // Persist the signature table: it feeds three consumers (banding +
    // both sides of the est-Jaccard re-join); without the cache the
    // plan recomputes every signature 4x from the raw text scan. k
    // longs per doc ≈ 0.5 KB — MEMORY_AND_DISK spills rather than OOMs
    // at corpus scale, and eviction is safe (recompute is the cost).
    val sig = minhashSignatures(docs, k, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lshPairs(Seq(sig -> true), k, bands, threshold, bucketCap)
  }

  /** INCREMENTAL LSH near-dup: find the near-duplicate pairs a crawl
    * DELTA introduces against an already-deduped BASE — without ever
    * re-shingling the base. This is how minhash dedup actually runs in
    * production: signatures (and their band table) are a persisted,
    * append-only side table maintained across crawl increments; each
    * new batch computes signatures for ITS docs only, bands them, and
    * joins its bands against the full band table. Cost per increment ∝
    * |delta| × bucket occupancy, not |corpus|.
    *
    * Exact contract (spec-tested and oracle-checked): the result
    * equals the FULL-corpus [[minhashLsh]] run restricted to pairs
    * with at least one delta side — both are [[lshPairs]], this one
    * with the base flagged old. That requires cap semantics on the
    * UNION band table (a bucket's size counts base + delta members —
    * in production the per-bucket count is itself a maintained
    * aggregate, incremented as batches append).
    *
    * `baseSig` stands in for the persisted signature table: pass the
    * stored (doc_id, sig) DataFrame; this function never looks at base
    * text. Pairs are emitted (a_id < b_id), delta-delta pairs
    * included once. */
  def minhashLshIncremental(baseSig: DataFrame, delta: DataFrame,
                            k: Int = 64, bands: Int = 16,
                            threshold: Double = 0.5, shingleWidth: Int = 3,
                            bucketCap: Int = 1000): DataFrame = {
    val deltaSig = minhashSignatures(delta, k, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lshPairs(Seq(baseSig.toDF("doc_id", "sig") -> false, deltaSig -> true),
      k, bands, threshold, bucketCap)
  }

  /** Candidate-generate-then-verify pipeline: MinHash/LSH candidates
    * (sub-quadratic) re-checked with the exact [[setJaccard]] of the
    * distinct token sets — the production near-dup shape at corpus
    * scale. The doc-side token arrays join back by id (hash join on
    * the small candidate set). */
  def minhashVerified(docs: DataFrame, estThreshold: Double = 0.35,
                      exactThreshold: Double = 0.7): DataFrame = {
    val candidates = minhashLsh(docs, threshold = estThreshold)
      .select(col("a_id"), col("b_id"))
    val tokArrays = docs.select(col("doc_id"),
      array_distinct(tokens(col("text"))).as("toks"))
    candidates
      .join(tokArrays.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(tokArrays.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .select(col("a_id"), col("b_id"),
        setJaccard(col("a_toks"), col("b_toks")).as("jaccard"))
      .filter(col("jaccard") >= exactThreshold)
  }

  /** Candidate-generate-then-verify with an EDIT-DISTANCE decision:
    * MinHash/LSH candidates (sub-quadratic recall) re-checked with
    * Levenshtein — the near-dup shape for lightly-edited duplicates
    * (template pages, boilerplate-patched mirrors) where token-set
    * Jaccard over-matches reordered word soup. Precision layers, in
    * cost order:
    *  1. lossless length prefilter — dist >= |len(a)-len(b)|, so a
    *     pair whose length gap exceeds maxDist is decided WITHOUT
    *     touching the DP (codegen'd `length` compare, no text copy);
    *  2. BANDED Levenshtein via the built-in threshold overload
    *     (Ukkonen k-band: O(maxDist·min(n,m)) not O(n·m); returns -1
    *     on early exit the moment the band floor exceeds maxDist).
    * `sim_permille` is exact integer arithmetic ((maxlen-dist)*1000
    * div maxlen) — no IEEE in the output.
    *
    * Scale shape: per-candidate cost is bounded by the band, candidate
    * count by the LSH bucket cap — nothing quadratic in the corpus.
    * NOTE (oracle contract): Spark's levenshtein counts CODEPOINTS,
    * DuckDB's counts BYTES — identical on ASCII corpora (the testdata
    * is all-ASCII, asserted in DedupEditSpec); a UTF-8 corpus needs a
    * codepoint-side-by-side check before trusting the DuckDB replica. */
  def editVerified(docs: DataFrame, estThreshold: Double = 0.35,
                   maxDist: Int = 60): DataFrame = {
    val cand = minhashLsh(docs, threshold = estThreshold)
      .select(col("a_id"), col("b_id"))
    val txt = docs.select(col("doc_id"), col("text"))
    cand
      .join(txt.toDF("a_id", "a_text"), "a_id")
      .join(txt.toDF("b_id", "b_text"), "b_id")
      .filter(abs(length(col("a_text")) - length(col("b_text"))) <= maxDist)
      .withColumn("dist", levenshtein(col("a_text"), col("b_text"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .withColumn("maxlen", greatest(length(col("a_text")), length(col("b_text"))))
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"),
        expr("((maxlen - dist) * 1000) div maxlen").as("sim_permille"))
  }

  /** FUZZY benchmark decontamination — the near-duplicate complement
    * of the exact-gram (`TextAnalysis.contamination`) and bloom paths:
    * a corpus doc is flagged when it is minhash-NEAR a benchmark doc,
    * catching reformatted / lightly-edited leakage that no exact
    * n-gram can see (the Llama/GPT-3-appendix decontamination shape).
    *
    * Pipeline: signatures on both sides (same kernel as
    * [[minhashSignatures]] — one corpus pass), banding on both sides,
    * candidates from a band-bucket equi-join where the BENCHMARK side
    * is force-broadcast (it is tiny by contract — an eval suite, not
    * a crawl; the corpus NEVER self-joins and no bucket cap is needed
    * because each corpus band row meets at most the benchmark bucket's
    * occupancy). Candidates are screened by [[sigAgreement]], then
    * decided by the exact [[setJaccard]] of the distinct token sets —
    * the LSH is recall-only, precision comes from the exact check.
    *
    * Scale shape: corpus cost = one signature kernel pass + one
    * banding projection + a broadcast-hash join; per-candidate work is
    * bounded by est-screened pairs. At 10^12 docs nothing corpus-sized
    * shuffles on content. */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame,
                         k: Int = 64, bands: Int = 16,
                         estThreshold: Double = 0.35,
                         exactThreshold: Double = 0.5,
                         shingleWidth: Int = 3): DataFrame = {
    val r = k / bands
    val cSig = minhashSignatures(corpus, k, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bSig = minhashSignatures(bench, k, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandSignatures(cSig, bands, r)
      .join(broadcast(bandSignatures(bSig, bands, r)
        .toDF("bench_id", "band", "bh")), Seq("band", "bh"))
      .select(col("doc_id"), col("bench_id")).distinct()
    val est = cand
      .join(cSig.toDF("doc_id", "c_sig"), "doc_id")
      .join(broadcast(bSig.toDF("bench_id", "b_sig")), "bench_id")
      .select(col("doc_id"), col("bench_id"),
        sigAgreement(col("c_sig"), col("b_sig"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
    val cToks = corpus.select(col("doc_id"),
      array_distinct(tokens(col("text"))).as("c_toks"))
    val bToks = bench.select(col("doc_id").as("bench_id"),
      array_distinct(tokens(col("text"))).as("b_toks"))
    est
      .join(cToks, "doc_id")
      .join(broadcast(bToks), "bench_id")
      .select(col("doc_id"), col("bench_id"), col("est_jaccard"),
        setJaccard(col("c_toks"), col("b_toks")).as("jaccard"))
      .filter(col("jaccard") >= exactThreshold)
  }

  /** Exact word-set Jaccard via inverted-index join (token → doc
    * posting list) WITH BLOCKING: pairs are generated only inside
    * (lang, source) blocks — the classic entity-resolution guard
    * against hot tokens. An unblocked token join is quadratic in the
    * posting-list length (a ubiquitous token pairs every doc with
    * every doc: measured 350M intermediate rows on 5k docs with a
    * narrow vocabulary). Candidates come from the blocked token
    * equi-join; each is decided by [[setJaccard]]. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   blockCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    // blockCols = Nil computes the unblocked ground truth (prefix
    // filtering alone bounds the candidate join) — used by the
    // containment cover queries; production keeps the blocks.
    val bc = blockCols.map(col)
    val toks = docs.select(col("doc_id") +: bc :+
      explode(array_distinct(tokens(col("text")))).as("tok"): _*)
    // Global doc-frequency per token: the total order for prefix
    // filtering (rare-first minimizes posting-list length). Vocab-sized
    // → broadcast.
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Per doc: tokens sorted by (df, tok); prefix length p = sz -
    // ceil(t·sz) + 1 (Bayardo/Chaudhuri prefix-filter theorem: two sets
    // with Jaccard ≥ t MUST share a token within each other's first p
    // under any global total order — candidate generation is LOSSLESS).
    // The 1e-9 slack keeps fp noise in t·sz from rounding ceil UP,
    // which would shrink p and silently drop threshold-exact pairs.
    val docToks = toks.join(broadcast(dfreq), "tok")
      .groupBy(col("doc_id") +: bc: _*)
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("tdf"))
      .select(col("doc_id") +: bc :+
        transform(col("tdf"), t => t.getField("tok")).as("toks"): _*)
      .withColumn("sz", size(col("toks")))
      .withColumn("p",
        (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1).cast("int"))
      // two consumers (prefix arm + the exact-verify array join):
      // checkpoint so the token explode/df join/collect_list pipeline
      // runs ONCE (round 6). Doc-sized rows (one token array per doc)
      // — the same size class as the input, safe to persist at scale.
      .localCheckpoint(false)
    val prefix = docToks.select(col("doc_id") +: bc :+ col("sz") :+
      posexplode(slice(col("toks"), lit(1), col("p"))).as(Seq("pos0", "tok")): _*)
    // Candidates: prefix-token equi-join inside the blocks.
    // Prefix tokens are the doc's rarest, so posting lists stay short
    // even on hot-vocabulary corpora — this replaced the round-1
    // all-token join whose postings went quadratic per block. On top
    // of the prefix filter, two more LOSSLESS PPJoin filters (Xiao et
    // al. 2008) run inside the join before the distinct, which is
    // where hot-vocabulary corpora blow up:
    //  - length filter: J ≥ t forces t ≤ min(sz)/max(sz), so wildly
    //    different-length docs can never pair;
    //  - positional filter: a match at (1-based) prefix position i/j
    //    bounds the overlap by 1 + min(sz_a − i, sz_b − j), which must
    //    reach α = ⌈t/(1+t)·(sz_a+sz_b)⌉ (the overlap J ≥ t requires).
    //    Every bound is valid for a true pair, so keeping a pair when
    //    ANY of its prefix matches passes never drops one.
    // The 1e-9 slacks keep fp noise from rounding a threshold-exact
    // pair out, mirroring the prefix-length computation above.
    val blockEq = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val alpha = ceil((lit(threshold) / (1.0 + threshold)) *
      (col("x.sz") + col("y.sz")) - lit(1e-9))
    val cand = prefix.as("x").join(prefix.as("y"),
        blockEq && col("x.tok") === col("y.tok") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.sz").cast("double") >= col("y.sz") * threshold - lit(1e-9) &&
          col("y.sz").cast("double") >= col("x.sz") * threshold - lit(1e-9) &&
          (lit(1) + least(col("x.sz") - col("x.pos0") - 1,
            col("y.sz") - col("y.pos0") - 1)).cast("double") >= alpha)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // Exact verify on the (small) candidate set via token-array joins.
    val arrays = docToks.select(col("doc_id"), col("toks"))
    cand
      .join(arrays.toDF("a_id", "a_toks"), "a_id")
      .join(arrays.toDF("b_id", "b_toks"), "b_id")
      .select(col("a_id"), col("b_id"),
        setJaccard(col("a_toks"), col("b_toks")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair set, by
    * large-star/small-star alternation (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond"): each round,
    * LARGE-STAR hangs every strictly-larger neighbor of u off
    * m = min(Γ(u) ∪ {u}), then SMALL-STAR re-hangs each node's
    * (now all-smaller) neighbors plus itself off its minimum. Both
    * steps are plain join + groupBy-min shuffles; the edge set
    * shrinks toward stars rooted at each component's minimum id in
    * O(log n) rounds REGARDLESS of graph diameter — the property that
    * matters at 100 TB, where an adversarial duplicate chain (doc A
    * near-dups B near-dups C …) would cost a min-label-propagation
    * loop one full shuffle round per hop. Rounds run through
    * [[Fixpoint]], one per barrier, until the (count, order-independent
    * xxhash64 checksum) of the edge set repeats — one agg job per round
    * instead of a full set compare. `maxIter` counts rounds; a graph
    * that needs more throws `IllegalStateException`.
    *
    * Returns (id, comp) for every vertex that appears in `pairs`;
    * comp = min doc id reachable.
    *
    * Small graphs (≤ `driverSolveMaxEdges`, a few MB) short-circuit to
    * a driver union-find: near-dup pair sets are usually tiny relative
    * to the corpus, and one bounded collect replaces 2·diameter Spark
    * jobs of scheduling latency. The explicit size gate (checked on the
    * materialized edge count, not guessed) keeps the distributed loop
    * the path whenever the graph could be large. */
  def components(pairs: DataFrame, maxIter: Int = 50,
                 driverSolveMaxEdges: Long = 200000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the caller's pair subtree is often EXPENSIVE (an LSH bucket join
    // or a within-cluster cosine pass); the symmetrization union below
    // references it twice, so checkpoint the pair set first — lazily,
    // it materializes inside the edges job — or the upstream join runs
    // once per union branch
    val p = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(false) // materialized by the count() gate below
    if (edges.count() <= driverSolveMaxEdges) {
      val es = edges.as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        // path compression
        var c = x
        while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        // min-id root so comp = min reachable id
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(id => out += ((id, find(id))))
      return spark.createDataset(out.toSeq).toDF("id", "comp")
    }
    // every vertex that appears in `pairs` (incl. self-loop-only ones)
    // must come back labeled; the star loop drops self-loops, so the
    // vertex universe is pinned here and re-attached at the end.
    val allVerts = edges.select(col("src").as("id")).distinct().localCheckpoint(false)
    // canonical directed form: larger → smaller, self-loops dropped
    // (LAZY checkpoint: the fingerprint agg that follows each round is
    // a full-scan action, materializing the round in the same job)
    val star0 = edges.filter(col("src") > col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(false)
    // bit_xor, not sum: order-independent and cannot overflow under ANSI
    def fingerprint(e: DataFrame): (Long, Long) =
      e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)))
        .as[(Long, Long)].first()
    def round(star: DataFrame): DataFrame = {
      // LARGE-STAR: for each u, m = min(Γ(u) ∪ {u}); emit (v, m) for
      // every neighbor v > u. Since m ≤ u < v, output stays larger→smaller.
      val sym = star.select(col("u"), col("v"))
        .union(star.select(col("v").as("u"), col("u").as("v")))
      val ls = sym
        .join(sym.groupBy(col("u")).agg(min(col("v")).as("mn")), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
      // SMALL-STAR: every edge now has u > v, so Γ(u) here is exactly
      // the smaller neighbors; m = min(Γ(u)). Re-hang Γ(u) ∪ {u} \ {m} off m.
      val m2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      ls.join(m2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m2.select(col("u"), col("m").as("v")))
        .distinct()
    }
    val star = new Fixpoint("components", maxIter, hops = 1)
      .stable(star0, Some(fingerprint(star0)))(round)(fingerprint)
    // At fixpoint every non-root has exactly one outgoing edge (u → root).
    val nonRoot = star.groupBy(col("u")).agg(min(col("v")).as("comp"))
      .select(col("u").as("id"), col("comp"))
    allVerts.join(nonRoot, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Cluster-representative output for the near-dup family — the shape
    * a 100 TB dedup actually materializes (emitting all pairs is itself
    * quadratic on mega-clusters). Every document maps to the min doc_id
    * of its connected component under `pairs`; documents in no pair are
    * their own representative. Keep-rule downstream: keep rows where
    * doc_id = rep_id. */
  def survivors(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = components(pairs)
    docs.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep_id"))
  }

  /** 64-bit SimHash from seeded token hashes: each token votes ±1 per
    * bit, sign of the tally is the bit. Pure column expressions. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    // per-bit vote: sum over tokens of (bit ? +1 : -1)
    val bitVotes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b")
    }
    val voted = toks.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    voted.select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-dup candidates by SimHash hamming distance ≤ maxDist.
    *
    * The 64-bit hash is banded into maxDist+1 chunks (as even as the
    * bit budget allows): by pigeonhole, two hashes at distance ≤
    * maxDist MUST agree on at least one whole chunk, so a bucket
    * equi-join on (chunk, value) finds every qualifying pair — no
    * cross join, and no recall hole (round 1 shipped 4×16-bit chunks
    * with maxDist=8, which silently missed pairs at distance 4-8).
    * The buckets pair through [[bucketPairs]], so a chunk value shared
    * by more than `bucketCap` distinct hashes (template spam) is
    * dropped, as in [[minhashLsh]]. */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
                      bucketCap: Int = 2000): DataFrame =
    hammingNearDups64(
      simhash(docs).select(col("doc_id"), col("simhash").as("h")),
      maxDist, bucketCap)

  /** Near-dup pairs for ANY 64-bit locality hash — SimHash over text
    * tokens, perceptual aHash over image pixels, etc. Input: (doc_id,
    * h: long). Same pigeonhole banding + distinct-value + bucket-cap
    * machinery documented on [[simhashNearDups]]. */
  def hammingNearDups64(hashes: DataFrame, maxDist: Int = 3,
                        bucketCap: Int = 2000): DataFrame = {
    val sh = hashes.select(col("doc_id"), col("h").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hammingNearDups64Persisted(sh, maxDist, bucketCap)
  }

  /** [[hammingNearDups64]] over an ALREADY-persisted (doc_id, simhash)
    * table — lets callers that hold the signature table (the cap
    * audit) skip a second persist of the same rows (round 6: the
    * double caching measurably cost more than it saved at bench SF). */
  private[ops] def hammingNearDups64Persisted(sh: DataFrame, maxDist: Int,
                        bucketCap: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, s"maxDist out of range: $maxDist")
    val nChunks = maxDist + 1
    // Band over DISTINCT simhash VALUES, not docs: identical docs
    // (template spam — the common mega-cluster case) collapse to ONE
    // row, so the banded self-join is sized by hash diversity, not
    // corpus size, and the cap counts distinct values per bucket.
    // `valueDocPairs` re-expands value pairs to doc pairs afterwards.
    val values = sh.select(col("simhash")).distinct()
    // partition 64 bits into nChunks contiguous spans, wide spans first
    val base = 64 / nChunks
    val extra = 64 % nChunks
    val bounds = (0 until nChunks).scanLeft(0) { (off, i) =>
      off + base + (if (i < extra) 1 else 0)
    }
    val chunks = (0 until nChunks).map { i =>
      val off = bounds(i)
      val width = bounds(i + 1) - off
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(i).as("chunk"),
        shiftright(col("simhash"), off).bitwiseAND(lit(mask)).as("ch"))
    }
    val chunked = values.select(col("simhash"),
      explode(array(chunks: _*)).as("cc"))
      .select(col("cc.chunk"), col("cc.ch"), col("simhash").as("id"),
        lit(true).as("is_new"))
    valueDocPairs(sh, hammingWithin(
      bucketPairs(chunked, Seq("chunk", "ch"), bucketCap), maxDist))
  }

  /** (a_sh, b_sh, hamming) of the value pairs (a_id, b_id) within
    * `maxDist` bits. */
  private def hammingWithin(pairs: DataFrame, maxDist: Int): DataFrame =
    pairs.select(col("a_id").as("a_sh"), col("b_id").as("b_sh"),
        bit_count(col("a_id").bitwiseXOR(col("b_id"))).as("hamming"))
      .filter(col("hamming") <= maxDist)

  /** Doc pairs (a_id < b_id, hamming) behind the distinct value pairs
    * `vpairs` (a_sh < b_sh, hamming) of the (doc_id, simhash) table
    * `sh`: every doc of a_sh with every doc of b_sh, plus the hamming-0
    * pairs of docs that share one value. Plain hash joins — pure output
    * materialization. */
  private def valueDocPairs(sh: DataFrame, vpairs: DataFrame): DataFrame = {
    val cross = sh.select(col("simhash").as("a_sh"), col("doc_id").as("x_id"))
      .join(vpairs, "a_sh")
      .join(sh.select(col("simhash").as("b_sh"), col("doc_id").as("y_id")), "b_sh")
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), col("hamming"))
    val same = sh.as("x").join(sh.as("y"),
        col("x.simhash") === col("y.simhash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(0).cast("int").as("hamming"))
    cross.union(same)
  }

  /** Cap audit for [[simhashNearDups]]: brute-force GROUND-TRUTH pairs
    * (every doc pair at hamming ≤ maxDist — no banding, no cap) flagged
    * with whether the capped LSH run actually OBSERVED them
    * (`in_capped` 1/0). Run at a bucketCap the corpus genuinely
    * exceeds, the 0-flagged rows are exactly the recall the cap trades
    * away — surfaced instead of silently absent, and checkable against
    * a first-principles oracle that PREDICTS the flag from bucket
    * occupancy alone (a banding/cap bug makes observed ≠ predicted).
    *
    * Deliberately quadratic in DISTINCT simhash values (the brute arm
    * is the point); bound the input — audit scale, not corpus scale. */
  def simhashCapAudit(docs: DataFrame, maxDist: Int = 8,
                      bucketCap: Int = 50): DataFrame = {
    val sh = simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val values = sh.select(col("simhash")).distinct()
    // ground truth over distinct values: all value pairs within budget
    val brute = valueDocPairs(sh, hammingWithin(
      values.select(col("simhash").as("a_id"))
        .crossJoin(values.select(col("simhash").as("b_id")))
        .filter(col("a_id") < col("b_id")), maxDist))
    // observed behavior of the REAL capped pipeline — driven off the
    // ALREADY-COMPUTED persisted signature table (round 6): simhash()
    // is deterministic, so handing `sh` to the banding kernel is
    // bit-identical to simhashNearDups(docs, …) recomputing it, and
    // the token-explode + 64-vote aggregation runs once instead of
    // twice per audit.
    val observed = hammingNearDups64Persisted(sh, maxDist, bucketCap)
      .select(col("a_id"), col("b_id")).withColumn("in_capped", lit(1))
    brute.join(observed, Seq("a_id", "b_id"), "left_outer")
      .na.fill(0, Seq("in_capped"))
      .select(col("a_id"), col("b_id"), col("hamming"), col("in_capped"))
  }

  // ------------------------------------------------------------------
  // Cross-document LINE dedup (CCNet/RefinedWeb boilerplate removal)
  // ------------------------------------------------------------------

  /** Drop boilerplate LINES across the corpus: any line whose trimmed
    * form occurs in ≥ `minDocs` DISTINCT documents (cookie banners,
    * nav menus, footers — the dominant web-text noise CCNet §4.2 /
    * RefinedWeb remove before doc-level dedup) is deleted from every
    * document; each document keeps its surviving lines in original
    * order. Blank (trim-empty) lines are structure, not boilerplate —
    * never counted, never dropped.
    *
    * Returns (doc_id, text, n_lines, n_dropped).
    *
    * Scale shape (10^12 docs, ~10^14 lines):
    *  - the line table is posexplode over the scan — no shuffle;
    *  - the frequency pass is the irreducible cost: one two-phase
    *    distinct on (key, doc_id) then a partial-aggregated count per
    *    key (at extreme scale a CountMinSketch/bloom pre-filter can
    *    shortlist candidate keys first — exactness traded, noted only);
    *  - the boilerplate SET is small by construction (only lines
    *    crossing the threshold survive the HAVING) → the tag join back
    *    onto the line table broadcasts;
    *  - re-assembly is one groupBy doc_id with per-key state bounded by
    *    the document's own line count (collect_list of (idx, line),
    *    null-skipped for dropped lines, array_sort on idx restores
    *    order without a sort exchange). */
  def dropBoilerplateLines(docs: DataFrame, minDocs: Long = 5): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("idx", "line")))
      .withColumn("key", trim(col("line")))
    val boiler = lines.filter(col("key") =!= "")
      .select(col("key"), col("doc_id")).distinct()
      .groupBy(col("key")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("key"), lit(true).as("is_boiler"))
    lines.join(broadcast(boiler), Seq("key"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("is_boiler").isNull,
              struct(col("idx"), col("line"))))),
            x => x.getField("line")),
          "\n").as("text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L))
          .as("n_dropped"))
      .select(col("doc_id"), col("text"), col("n_lines"), col("n_dropped"))
  }

  /** Deterministic multi-line corpus over `documents` (raw testdata
    * text is single-line): per doc — a per-host banner (~n/13 docs,
    * dropped), the unique original text (kept), a 3-doc shared line
    * (below the minDocs=5 threshold → kept), a 5-doc shared line
    * (exactly AT the threshold → dropped), a unique line (kept), and a
    * corpus-wide footer (dropped). */
  def syntheticMultiline(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val nl = lit("\n")
    docs.select(d.as("doc_id"),
      concat(
        lit("banner host"), (d % 13).cast("string"), nl,
        col("text"), nl,
        lit("tri "), expr("doc_id div 3").cast("string"), nl,
        lit("quint "), expr("doc_id div 5").cast("string"), nl,
        lit("rare "), d.cast("string"), nl,
        lit("(c) example corp")).as("text"))
  }

  /** DuckDB replica of dropBoilerplateLines(syntheticMultiline(·)) —
    * an independent SQL formulation (zip-unnest with ordinality,
    * HAVING-thresholded distinct-doc counts, null-skipping ordered
    * string_agg), not an engine transcript. */
  def boilerplateLinesOracleSql(minDocs: Long = 5): String =
    s"""WITH src AS (SELECT doc_id,
       |  'banner host' || CAST(doc_id % 13 AS VARCHAR) || chr(10) ||
       |  text || chr(10) ||
       |  'tri ' || CAST(doc_id // 3 AS VARCHAR) || chr(10) ||
       |  'quint ' || CAST(doc_id // 5 AS VARCHAR) || chr(10) ||
       |  'rare ' || CAST(doc_id AS VARCHAR) || chr(10) ||
       |  '(c) example corp' AS text
       | FROM documents),
       |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
       |l AS (SELECT doc_id, unnest(ls) AS line,
       |        unnest(range(len(ls))) AS idx FROM l0),
       |lk AS (SELECT doc_id, idx, line, trim(line) AS key FROM l),
       |b AS (SELECT key FROM
       |       (SELECT DISTINCT key, doc_id FROM lk WHERE key <> '')
       |      GROUP BY key HAVING count(*) >= $minDocs),
       |f AS (SELECT lk.doc_id, lk.idx, lk.line,
       |        (b.key IS NOT NULL) AS is_b
       |      FROM lk LEFT JOIN b ON lk.key = b.key)
       |SELECT doc_id,
       | coalesce(string_agg(CASE WHEN NOT is_b THEN line END,
       |                     chr(10) ORDER BY idx), '') AS text,
       | CAST(count(*) AS BIGINT) AS n_lines,
       | CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM f GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Span-level exact-substring dedup (Lee et al. 2021 style)
  // ------------------------------------------------------------------

  /** Per-document duplicated-span summary at token-w-gram granularity —
    * the span-level complement to the doc-level dedup family: a w-token
    * window is DUPLICATED when the identical token sequence occurs
    * anywhere else in the corpus (another doc, or a second time in the
    * same doc — self-repetition is memorizable too). This is the
    * "exact substring" dedup of Lee et al., Deduplicating Training Data
    * Makes Language Models Better (2021), at fixed window width rather
    * than via a suffix array — the standard distributed realization.
    *
    * Output, one row per document that has at least one duplicated
    * window: `n_dup_grams` (duplicated window starts), `dup_tokens`
    * (size of the UNION of the [pos, pos+w) intervals — equal-width
    * intervals make this closed-form: the first window contributes w,
    * each next sorted start contributes min(w, gap)), `n_spans`
    * (maximal merged runs; adjacent windows — gap exactly w — merge,
    * since their token ranges are contiguous).
    *
    * Windows are keyed by xxhash64 of the space-joined tokens (tokens
    * never contain whitespace, so the join is injective): at corpus
    * scale the shuffle moves 8-byte fingerprints, never w-token
    * strings. A 64-bit fingerprint collides with probability ~G²/2⁶⁴
    * for G distinct grams — for the oracle's corpus G < 10⁶, so the
    * string-keyed DuckDB replica is exact in practice; at 10¹² docs
    * you'd accept the ~10⁻⁴ per-pair false-merge or widen to 128-bit.
    *
    * Scale shape: explodes inside codegen (rows = token count, the
    * irreducible unit of this op); the census is a partial-aggregated
    * groupBy on the fingerprint (hot boilerplate grams collapse
    * map-side); the dup filter joins back on the fingerprint (skew-
    * splittable equi-join — see the inline note); then ONE exchange on
    * doc_id that the lag-window and the final aggregate share. */
  def duplicateSpans(docs: DataFrame, w: Int = 15): DataFrame = {
    require(w >= 2, "window width must be >= 2")
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= w)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ts")) - w),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("ts"), i + 1, lit(w))))
            .as("g"))))
        .as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    // Occurrence census via groupBy + join-back, NOT a window count:
    // a universal boilerplate gram ("click here to subscribe …" in
    // every page) is a guaranteed hot key at corpus scale, and a
    // window over g would pin ALL its occurrences into one reducer
    // with no remedy (AQE cannot split window partitions). The
    // groupBy's partial aggregation collapses the hot gram to one row
    // per map task before the shuffle, and the join-back is a plain
    // equi-join AQE's skew-join splitting can cut. The gram explode is
    // recomputed for each side — at 10^12 docs recompute IS the plan
    // (persisting the exploded corpus is not).
    val dupG = grams.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("g"))
    val dupPos = grams.join(dupG, Seq("g"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(byDoc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(when(col("gap").isNull, lit(w))
          .otherwise(least(lit(w), col("gap"))).cast("long"))
          .as("dup_tokens"),
        sum(when(col("gap").isNull || col("gap") > w, 1L).otherwise(0L))
          .as("n_spans"))
  }

  /** First-principles DuckDB replica of [[duplicateSpans]] over the
    * raw `documents` table — windows keyed by the gram STRING (see the
    * fingerprint note above), same lag/least interval math. */
  def duplicateSpansOracleSql(w: Int = 15): String =
    s"""WITH toks AS (
       | SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'),
       |    x -> len(x) > 0) AS ts
       | FROM documents),
       |g AS (
       | SELECT doc_id, i AS pos,
       |  array_to_string(list_slice(ts, i + 1, i + $w), ' ') AS gram
       | FROM toks, unnest(range(0, len(ts) - $w + 1)) AS t(i)
       | WHERE len(ts) >= $w),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
       |p AS (
       | SELECT g.doc_id, g.pos,
       |  g.pos - lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos)
       |    AS gap
       | FROM g JOIN dup USING (gram))
       |SELECT doc_id,
       | CAST(count(*) AS BIGINT) AS n_dup_grams,
       | CAST(sum(CASE WHEN gap IS NULL THEN $w
       |               ELSE least($w, gap) END) AS BIGINT) AS dup_tokens,
       | CAST(sum(CASE WHEN gap IS NULL OR gap > $w THEN 1
       |               ELSE 0 END) AS BIGINT) AS n_spans
       |FROM p GROUP BY doc_id""".stripMargin

  /** Near-dup cluster-size observability: log2-bucket histogram of
    * the survivor clusters ([[survivors]] output) — the table a dedup
    * operator watches for pathological mega-clusters (boilerplate
    * sinks, SEO farms) before they eat the corpus. Bucket = binary
    * digit count of the cluster size (pure integer, no float log2 —
    * the quantile-sketch rule); per bucket: clusters, docs, max size,
    * min representative as witness. Two partial-agg rollups over the
    * already-computed survivor table; output O(log max-size) rows. */
  def clusterStats(surv: DataFrame): DataFrame =
    surv.groupBy(col("rep_id")).agg(count(lit(1)).as("sz"))
      .select(col("rep_id"), col("sz"),
        length(bin(col("sz"))).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_size"), min(col("rep_id")).as("min_rep"))

  /** LSH banding-recall sweep — "measure, don't guess" for the (b, r)
    * choice, the dedup analog of the ANN recall harness: ground truth
    * is the EXACT gram-set Jaccard (the quantity minhash estimates —
    * [[gramSet]], same [[gramHash]] grams the signatures minimize
    * over) on an audit-bounded universe (doc_id < auditMax, quadratic
    * BY DESIGN — the simhash-cap-audit precedent), and each threshold
    * row reports how many true pairs the production banding
    * ([[minhashLsh]] at est-threshold 0, same restricted corpus)
    * actually surfaced. Threshold tests are all-integer
    * (inter·1000 ≥ uni·t) — no IEEE in any decision.
    *
    * Scale shape: audit arm is explicitly bounded; the banding arm is
    * the production pipeline unchanged; truth pairs localCheckpoint
    * (answer-sized) before the 5-way threshold explode. */
  def thresholdSweep(docs: DataFrame, auditMax: Long = 800L,
                     thresholds: Seq[Int] = Seq(200, 350, 500, 650, 800),
                     k: Int = 64, bands: Int = 16, shingleWidth: Int = 3,
                     bucketCap: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bounded = docs.filter(col("doc_id") < auditMax)
    val tMin = thresholds.min
    // truth arm (audit-bounded by contract: auditMax docs): gram sets
    // collect to the driver and broadcast — a bounded model-sized
    // payload, the LSH-query-side discipline — and the O(auditMax²)
    // pair pass runs a primitive MERGE intersection over the sorted
    // gram arrays. The previous crossJoin + array_intersect shape
    // rebuilt a hash set per pair (1.5+ s of the query at sf0.1 for
    // the same counts).
    val gramArr: Array[(Long, Array[Long])] = bounded
      .select(col("doc_id").cast("long"), lower(col("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, gramSet(t, shingleWidth)) })
      .collect().sortBy(_._1)
    val gB = spark.sparkContext.broadcast(gramArr)
    val truth = spark.createDataset(gramArr.indices.toSeq)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val g = gB.value
        it.flatMap { ai =>
          val (aId, ga) = g(ai)
          Iterator.range(ai + 1, g.length).flatMap { bi =>
            val (bId, gb) = g(bi)
            // sorted-distinct merge intersection — same counts as
            // size(array_intersect(ga, gb)) on these arrays
            var i = 0; var j = 0; var inter = 0L
            while (i < ga.length && j < gb.length) {
              if (ga(i) < gb(j)) i += 1
              else if (ga(i) > gb(j)) j += 1
              else { inter += 1; i += 1; j += 1 }
            }
            val uni = ga.length.toLong + gb.length.toLong - inter
            if (inter * 1000 >= uni * tMin) Iterator.single((aId, bId, inter, uni))
            else Iterator.empty
          }
        }
      }
      .toDF("a_id", "b_id", "inter", "uni")
      .localCheckpoint(false)
    val cand = minhashLsh(bounded, k, bands, threshold = 0.0,
        shingleWidth, bucketCap)
      .select(col("a_id"), col("b_id"), lit(1L).as("caught"))
    val flagged = truth.join(cand, Seq("a_id", "b_id"), "left")
      .withColumn("caught", coalesce(col("caught"), lit(0L)))
    thresholds.toDF("t_permille").crossJoin(flagged)
      .filter(col("inter") * 1000 >= col("uni") * col("t_permille"))
      .groupBy(col("t_permille"))
      .agg(count(lit(1)).as("n_truth"), sum(col("caught")).as("n_caught"))
      .select(col("t_permille").cast("long").as("t_permille"),
        col("n_truth"), col("n_caught"),
        expr("n_caught * 1000 div n_truth").as("recall_permille"))
  }
}
