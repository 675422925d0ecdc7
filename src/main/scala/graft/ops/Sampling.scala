package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sampling / mixing operators — the stage AFTER filtering and
  * dedup in a training-data pipeline: cap any one host's contribution,
  * sample each stratum down to a token budget, build the tokenizer
  * vocabulary, and report the resulting mix.
  *
  * Design rules shared by every operator here:
  *  - determinism is a hard requirement (a training set must be
  *    reproducible run-to-run and engine-to-engine), so "random"
  *    sampling uses a fixed multiplicative hash of doc_id — a total
  *    order both Spark and the DuckDB oracle compute bit-exactly —
  *    never rand()/sample(), whose draws are partitioning-dependent;
  *  - all aggregates are integer (token/char counts) so cumulative
  *    sums are order-independent and hash-stable across engines;
  *  - each operator is one window or one aggregation over keys that
  *    are ALREADY the natural partitioning of a crawl corpus
  *    (source/host, lang) — a single hash shuffle each at 100 TB, no
  *    driver-side collection anywhere.
  */
object Sampling {

  /** Deterministic per-doc shuffle key: Knuth multiplicative hash over
    * the LOW 31 BITS of the id. The mask is what makes the arithmetic
    * overflow-free on BOTH engines for any Long id: (2^31-1) *
    * 2654435761 ≈ 5.7e18 < Long.Max, whereas the unmasked product
    * overflows past id ≈ 3.47e9 — silently wrapping in non-ANSI Spark
    * while DuckDB raises, breaking engine-exactness exactly where it
    * matters. Ids beyond 2^31 alias into the same key space, which is
    * harmless for a sampling order (doc_id tiebreak keeps the total
    * order total). */
  private[ops] val KnuthA = 2654435761L
  private[ops] val KnuthM = 4294967296L
  private[ops] val IdMask = 2147483648L // 2^31
  def shuffleKey(id: Column): Column =
    pmod(pmod(id, lit(IdMask)) * lit(KnuthA), lit(KnuthM))

  /** Per-host document cap: keep at most `k` docs per `source`, best
    * quality first (doc_id ascending as the tie-break — quality is a
    * 4-decimal score, so ties are common and MUST be broken
    * deterministically). The standard anti-SEO-spam / domain-diversity
    * pass: one row_number window partitioned by host.
    *
    * Scale shape: a single hash shuffle on `source`; hosts are the
    * natural unit of crawl locality, and per-partition top-k needs no
    * global sort. A pathological mega-host makes one hot partition —
    * at 100 TB pair this with a pre-aggregated per-host count and
    * AQE skew splitting (the window itself only ever keeps k rows per
    * host in the output, so the skew is read-side, not state-side). */
  def hostCap(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    // quality is attached in the scan projection (withQuality keeps
    // input columns) — ONE corpus pass, no self-join on doc_id
    TextAnalysis.withQuality(docs.select(col("doc_id"), col("source"), col("text")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"), col("quality"), col("rn"))
  }

  /** Token-budget stratified sampling: within each (lang, source)
    * stratum, order docs by the deterministic shuffle key and keep
    * docs while the running token total stays within `budget` — how a
    * training mix ("x tokens of lang A from source B") is actually
    * materialized. Inclusive running sum: a doc is kept iff the
    * budget survives INCLUDING it, so the output never exceeds the
    * budget (and a single over-budget head doc drops its whole
    * stratum — the caller sizes budgets above the max doc length).
    *
    * Scale shape: one shuffle on (lang, source) + a running sum —
    * integer-exact, order fixed by (key, doc_id). No global sort, no
    * driver state; strata process independently. */
  def tokenBudgetSample(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("k").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // token count and shuffle key both live in the scan projection —
    // ONE corpus pass, no tokenStats self-join (mixReport pattern)
    docs.select(col("doc_id"), col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        shuffleKey(col("doc_id")).as("k"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** Vocabulary build: global token counts, top `n` by (count desc,
    * token asc) — a total order, so the LIMIT is deterministic. The
    * classic map-side-combine aggregation: partial counts collapse
    * per partition before the single shuffle, and the ordered LIMIT
    * is a TakeOrdered (per-partition top-n, driver merge of n rows
    * per partition — no global sort materialization). */
  def vocabulary(docs: DataFrame, n: Int): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(n)

  /** Corpus length profile: EXACT discrete quantiles (p50/p90/p99 of
    * doc length) per source, via rank arithmetic — the value at row
    * ceil(p*n) in (n_chars, doc_id) order. No interpolation and no
    * sketch, so Spark and the DuckDB oracle agree bit-for-bit (Spark's
    * percentile_approx and DuckDB's quantile would not); doc_id breaks
    * length ties so ranks are total.
    *
    * Scale shape: ONE hash shuffle on source; both window passes
    * (row_number, per-partition count) and the final aggregation reuse
    * that partitioning. Rank-based quantiles need no global sort —
    * this is how you profile a 100 TB corpus without collecting it. */
  def lengthProfile(docs: DataFrame): DataFrame = {
    val byLen = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val part = Window.partitionBy(col("source"))
    def at(p: Double, name: String) =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("n_chars"))).as(name)
    docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("rn", row_number().over(byLen).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .groupBy(col("source"))
      .agg(at(0.5, "p50"), at(0.9, "p90"), at(0.99, "p99"),
        max(col("n_chars")).as("max_chars"),
        count(lit(1)).as("n_docs"))
  }

  /** CCNet-style quality bucketing: within each language, rank
    * documents by the composite quality score (ties broken by doc_id —
    * the score is a 4-decimal rounding, so ties are common) and cut
    * the ranking into three equal-depth terciles `head`/`middle`/`tail`.
    * This is the standard perplexity-bucket shape from CCNet (Wenzek
    * et al. 2020): downstream mixes typically train on head+middle and
    * hold out tail. ntile is used (not percent_rank thresholds)
    * because its bucket-size rule — first (n mod 3) buckets take the
    * extra row — is identical and exactly specified in both engines,
    * so the assignment is engine-exact with zero float comparisons.
    *
    * Scale shape: ONE hash shuffle on lang; the quality signals are
    * computed in the scan projection (codegen, no self-join) and the
    * ntile window reuses the lang partitioning. Languages process
    * independently — precisely how CCNet shards its buckets. */
  def qualityBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    TextAnalysis.withQuality(docs.select(col("doc_id"), col("lang"), col("text")))
      .withColumn("tile", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("quality"),
        when(col("tile") === 1L, lit("head"))
          .when(col("tile") === 2L, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Training-mix report: per (lang, source) document/token/char
    * totals — the table a data-mixing decision is made from. Integer
    * sums only (means and ratios are the consumer's division — they
    * survive engine round-trips exactly). One partial-agg shuffle on
    * a low-cardinality key; output is vocabulary-sized. */
  def mixReport(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))

  /** Leakage-safe train/validation split: the split key is the HOST,
    * not the document. An iid doc-level split leaks — intra-site
    * near-duplicates (templated pages, syndicated articles) straddle
    * the boundary and validation scores train-adjacent content; the
    * standard fix is to split on the dedup unit, so every page of a
    * host lands on ONE side. bucket = FNV-1a-64(host) mod 1000
    * (unsigned); bucket < valPermille → 'val'. The hash is of the key
    * STRING, so the assignment is stable across runs, engines and
    * corpus growth (adding hosts never reassigns existing ones).
    *
    * Scale shape: pure per-row kernel map over the scan — no shuffle,
    * no host table, no driver state; 10^12 docs cost one projection.
    * expectation: valPermille/1000 of HOSTS (and of docs only insofar
    * as host sizes average out — report the realized doc fraction from
    * the output, don't assume it). */
  def hostDisjointSplit(docs: DataFrame, valPermille: Int = 100): DataFrame = {
    require(valPermille > 0 && valPermille < 1000,
      "valPermille must split both ways")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("host").cast("string"))
      .as[(Long, String)]
      .map { case (id, host) =>
        val bucket = java.lang.Long.remainderUnsigned(
          Dedup.hash64(host, 0, host.length), 1000L)
        (id, host, bucket, if (bucket < valPermille) "val" else "train")
      }
      .toDF("doc_id", "host", "bucket", "split")
  }

  /** DuckDB replica of [[hostDisjointSplit]] over hosts derived as
    * host{doc_id % 13}.example (the corpus's synthetic host scheme):
    * the FNV-1a fold runs in HUGEINT mod 2^64 via list_reduce — the
    * MinhashOracle machinery on a new surface. */
  def hostSplitOracleSql(valPermille: Int): String = {
    val off = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
    val fnvStep = SimhashOracle.mulmod(
      SimhashOracle.xor64("h", "c"), "1099511628211")
    s"""WITH d AS (SELECT doc_id,
       |  'host' || CAST(doc_id % 13 AS VARCHAR) || '.example' AS host
       | FROM documents),
       |hb AS (SELECT doc_id, host,
       |  CAST(list_reduce(
       |    list_prepend(CAST('$off' AS HUGEINT),
       |      list_transform(split(host, ''),
       |        x -> CAST(unicode(x) AS HUGEINT))),
       |    (h, c) -> $fnvStep) % 1000 AS BIGINT) AS bucket
       | FROM d)
       |SELECT doc_id, host, bucket,
       | CASE WHEN bucket < $valPermille THEN 'val' ELSE 'train' END AS split
       |FROM hb""".stripMargin
  }

  /** Overlapping passage chunks — the context-window chunker every
    * training/RAG pipeline runs after filtering: split each doc into
    * windows of `chunkTokens` whitespace tokens advancing by
    * stride = chunkTokens - overlap, so consecutive chunks share
    * `overlap` tokens and no token is lost. Exact edge semantics
    * (stated so the oracle can restate them): docs with zero tokens
    * produce no chunks; n <= chunkTokens produces exactly one chunk;
    * otherwise nChunks = 1 + ceil((n - chunkTokens)/stride) — the
    * last chunk may be shorter but never empty. chunk_text re-joins
    * the token slice with single spaces (tokenization is lossy by
    * design; chunks feed a tokenizer, not a renderer).
    *
    * Scale shape: pure per-row compute — split, integer arithmetic,
    * sequence+explode fan-out (~n/stride rows per doc), slice +
    * array_join — all built-in codegen expressions, ZERO Exchange;
    * shards embarrassingly at any corpus size. */
  def chunk(docs: DataFrame, chunkTokens: Int = 64,
            overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap vs $chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("n_chunks", expr(
        s"CASE WHEN n <= $chunkTokens THEN 1 " +
        s"ELSE 1 + ((n - $chunkTokens + ${stride - 1}) div $stride) END"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), col("chunk_id") * stride + 1, lit(chunkTokens))
          .as("sl"))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        size(col("sl")).as("n_chunk_tokens"),
        array_join(col("sl"), " ").as("chunk_text"))
  }

  /** DuckDB replica of [[chunk]] — same closed-form chunk-count
    * arithmetic, DuckDB 1-based inclusive list slicing. */
  def chunkOracleSql(chunkTokens: Int = 64, overlap: Int = 16): String = {
    val s = chunkTokens - overlap
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'),
       |              x -> len(x) > 0) AS toks
       | FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |c AS (SELECT doc_id, toks,
       |  CASE WHEN n <= $chunkTokens THEN 1
       |   ELSE 1 + (n - $chunkTokens + ${s - 1}) // $s END AS n_chunks
       | FROM n),
       |x AS (SELECT doc_id, toks,
       |  unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM c),
       |sl AS (SELECT doc_id, chunk_id,
       |  toks[chunk_id * $s + 1 : chunk_id * $s + $chunkTokens] AS sl
       | FROM x)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(len(sl) AS INT) AS n_chunk_tokens,
       |  array_to_string(sl, ' ') AS chunk_text
       |FROM sl""".stripMargin
  }

  /** Crawl-budget apportionment by the largest-remainder (Hamilton)
    * method: divide an integer budget of B crawl slots across hosts
    * proportionally to their token mass, EXACTLY — sum(quota) == B
    * always, no float rounding drift. base_h = (B·w_h) div W;
    * the R = B − Σbase leftover slots go to the R largest remainders
    * ((B·w_h) mod W, ties broken host-asc) — deterministic integer
    * arithmetic end to end, so the oracle restates it verbatim.
    *
    * Scale shape: one partial-aggregated host rollup; W and R are two
    * driver-read SCALARS (a 1-row aggregate — never data); the top-R
    * remainder selection is orderBy+limit (TakeOrderedAndProject —
    * each map task keeps R rows) + one broadcast semi-join, NOT a
    * partitionless window over all hosts. Overflow note: B·w_h must
    * fit a Long — at 10^12-token corpora pre-scale w to kilotokens.
    */
  def crawlBudget(docs: DataFrame, budget: Long): DataFrame = {
    val w = docs.groupBy(col("source").as("host"))
      .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
        .as("tokens_w"))
    hamilton(w, budget)
  }

  /** The largest-remainder core shared by [[crawlBudget]] and
    * [[mixAnneal]]: apportion `budget` slots over a (host, tokens_w)
    * table. Same scale shape as documented on crawlBudget — the input
    * collapses to |hosts| rows first; W and R are 1-row driver
    * scalars; top-R is TakeOrderedAndProject + broadcast semi-join. */
  private[graft] def hamilton(weights: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = weights.localCheckpoint(false) // |hosts| rows
    val totW = w.agg(sum(col("tokens_w"))).collect()(0).getLong(0)
    require(totW > 0, "corpus has no weight mass")
    val based = w.select(col("host"), col("tokens_w"),
      expr(s"tokens_w * ${budget}L div ${totW}L").as("base"),
      expr(s"(tokens_w * ${budget}L) % ${totW}L").as("rem"))
      .localCheckpoint(false)
    val sumBase = based.agg(sum(col("base"))).collect()(0).getLong(0)
    val r = (budget - sumBase).toInt
    val topR = based.orderBy(col("rem").desc, col("host").asc)
      .limit(r).select(col("host"))
    based.join(broadcast(topR.withColumn("extra", lit(1L))),
        Seq("host"), "left")
      .select(col("host"), col("tokens_w"), col("base"),
        coalesce(col("extra"), lit(0L)).as("extra"),
        (col("base") + coalesce(col("extra"), lit(0L))).as("quota"))
  }

  /** Two-phase training-mixture schedule (the pretrain → anneal
    * pattern: a final high-quality phase re-weights the mix): phase
    * `pretrain` apportions its token budget by RAW token mass; phase
    * `anneal` apportions by QUALITY-GATED mass — each doc's tokens
    * enter the anneal weight ×3 when quality ≥ 0.7, ×1 in [0.4, 0.7),
    * ×0 below (integer multipliers on the 4-dp-rounded score, so the
    * weights stay exact longs). Both phases use the SAME Hamilton
    * largest-remainder core — sum(quota) == budget holds exactly per
    * phase.
    *
    * Scale shape: ONE corpus pass computes both weight columns
    * (quality is a per-row projection), one partial-agg host rollup,
    * then two |hosts|-sized apportionments unioned. */
  def mixAnneal(docs: DataFrame, pretrainBudget: Long,
      annealBudget: Long): DataFrame = {
    val scored = TextAnalysis.withQuality(
      docs.select(col("source"), col("text")))
    val toks = size(TextAnalysis.tokens(col("text"))).cast("long")
    val mult = when(col("quality") >= 0.7, 3L)
      .when(col("quality") >= 0.4, 1L).otherwise(0L)
    val w = scored.groupBy(col("source").as("host"))
      .agg(sum(toks).as("pre_w"), sum(toks * mult).as("ann_w"))
      .localCheckpoint(false) // |hosts| rows; quality computed ONCE
    val pre = hamilton(
      w.select(col("host"), col("pre_w").as("tokens_w")), pretrainBudget)
      .select(lit("pretrain").as("phase"), col("host"), col("tokens_w"),
        col("base"), col("extra"), col("quota"))
    val ann = hamilton(
      w.select(col("host"), col("ann_w").as("tokens_w")), annealBudget)
      .select(lit("anneal").as("phase"), col("host"), col("tokens_w"),
        col("base"), col("extra"), col("quota"))
    pre.unionAll(ann)
  }

  /** Leakage-safe train/val/test split census. The split key is the
    * doc's EXACT-DUP CLUSTER (md5 text fingerprint), not the doc:
    * bucket = [[shuffleKey]](cluster representative = min doc_id)
    * mod 10 → 0-7 train / 8 val / 9 test, so duplicated text can
    * never straddle splits (the eval-contamination failure mode of
    * per-doc hashing). The census quantifies exactly that risk: per
    * split, `n_straddle_naive` counts this split's multi-doc clusters
    * that a NAIVE per-doc hash split would have scattered across ≥ 2
    * splits.
    *
    * Scale shape: one fp-keyed partial-agg shuffle builds the cluster
    * table, the fp join back is co-partitioned (no second exchange of
    * the corpus), the per-(fp, split) rollup reuses the same
    * partitioning, and the final groupBy collapses to 3 rows. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    def splitOf(bucket: Column): Column =
      when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
    // materialize (doc_id, fp) ONCE: fp has two consumers (cluster
    // build + join back) and md5 reads the TEXT column — without the
    // barrier the corpus text is scanned and hashed twice. 48 B/row
    // beats a second 100-TB text read.
    val fp = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint(false)
    val clusters = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("rep_id"))
    val tagged = fp.join(clusters, "fp").select(col("fp"),
      splitOf(pmod(shuffleKey(col("rep_id")), lit(10L))).as("split"),
      splitOf(pmod(shuffleKey(col("doc_id")), lit(10L))).as("naive_split"))
    tagged.groupBy(col("fp"), col("split"))
      .agg(count(lit(1)).as("nd"),
        countDistinct(col("naive_split")).as("n_naive"))
      .groupBy(col("split"))
      .agg(sum(col("nd")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("n_naive") > 1, 1L).otherwise(0L))
          .as("n_straddle_naive"))
  }

  /** DuckDB replica of [[splitLeakage]] — same md5 clustering, same
    * Knuth bucket arithmetic (ids are positive, so plain % matches
    * pmod), same census. */
  def splitLeakageOracleSql(table: String = "documents"): String =
    s"""WITH fp AS (SELECT doc_id, md5(text) AS fp FROM $table),
       |cl AS (SELECT fp, min(doc_id) AS rep_id FROM fp GROUP BY fp),
       |b AS (SELECT f.doc_id, f.fp,
       |  ((rep_id % $IdMask) * $KnuthA) % $KnuthM % 10 AS cb,
       |  ((f.doc_id % $IdMask) * $KnuthA) % $KnuthM % 10 AS nb
       | FROM fp f JOIN cl USING (fp)),
       |s AS (SELECT fp,
       |  CASE WHEN cb < 8 THEN 'train' WHEN cb = 8 THEN 'val'
       |       ELSE 'test' END AS split,
       |  CASE WHEN nb < 8 THEN 'train' WHEN nb = 8 THEN 'val'
       |       ELSE 'test' END AS naive_split
       | FROM b),
       |per AS (SELECT fp, split, CAST(count(*) AS BIGINT) AS nd,
       |          count(DISTINCT naive_split) AS n_naive
       |        FROM s GROUP BY fp, split)
       |SELECT split, CAST(sum(nd) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(CASE WHEN n_naive > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_straddle_naive
       |FROM per GROUP BY split""".stripMargin

  /** DuckDB replica of [[mixAnneal]]. `qualitySql` is the shared
    * per-doc quality query keyed by (doc_id, source) — passed in by
    * the caller so there is a single source of truth for the score.
    * Already-stripped SQL is CONCATENATED, never re-stripMargin'd. */
  def mixAnnealOracleSql(qualitySql: String, pretrainBudget: Long,
      annealBudget: Long): String = {
    def ham(wcol: String, budget: Long, phase: String): String =
      s"""w_$phase AS (SELECT host, $wcol AS tokens_w FROM hw),
         |b_$phase AS (SELECT host, tokens_w,
         |  tokens_w * $budget // (SELECT sum(tokens_w) FROM w_$phase)
         |    AS base,
         |  (tokens_w * $budget) % (SELECT sum(tokens_w) FROM w_$phase)
         |    AS rem
         | FROM w_$phase),
         |r_$phase AS (SELECT $budget - CAST(sum(base) AS BIGINT) AS r
         |             FROM b_$phase),
         |rk_$phase AS (SELECT host, row_number()
         |    OVER (ORDER BY rem DESC, host ASC) AS rk FROM b_$phase),
         |out_$phase AS (SELECT '$phase' AS phase, b.host,
         |  CAST(b.tokens_w AS BIGINT) AS tokens_w,
         |  CAST(b.base AS BIGINT) AS base,
         |  CAST(CASE WHEN rk.rk <= (SELECT r FROM r_$phase)
         |       THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |  CAST(b.base + CASE WHEN rk.rk <= (SELECT r FROM r_$phase)
         |       THEN 1 ELSE 0 END AS BIGINT) AS quota
         | FROM b_$phase b JOIN rk_$phase rk ON b.host = rk.host)"""
        .stripMargin
    val header =
      """t AS (SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '[\s\x0b]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS toks FROM documents),
        |hw AS (SELECT source AS host,
        |  CAST(sum(toks) AS BIGINT) AS pre_w,
        |  CAST(sum(toks * (CASE WHEN quality >= 0.7 THEN 3
        |                        WHEN quality >= 0.4 THEN 1
        |                        ELSE 0 END)) AS BIGINT) AS ann_w
        | FROM q JOIN t USING (doc_id) GROUP BY source)""".stripMargin
    "WITH q AS (\n" + qualitySql + "\n),\n" + header + ",\n" +
      ham("pre_w", pretrainBudget, "pretrain") + ",\n" +
      ham("ann_w", annealBudget, "anneal") + "\n" +
      "SELECT * FROM out_pretrain UNION ALL SELECT * FROM out_anneal"
  }

  /** DuckDB replica of [[crawlBudget]] — the driver-scalar R becomes
    * a scalar subquery; the top-R selection is the rank formulation
    * (independent wording of the same largest-remainder rule). */
  def crawlBudgetOracleSql(budget: Long): String =
    s"""WITH w AS (SELECT source AS host,
       |  CAST(sum(len(list_filter(
       |    string_split_regex(lower(text), '[\\s\\x0b]+'),
       |    x -> len(x) > 0))) AS BIGINT) AS tokens_w
       | FROM documents GROUP BY source),
       |tw AS (SELECT CAST(sum(tokens_w) AS BIGINT) AS totw FROM w),
       |b AS (SELECT host, tokens_w,
       |  tokens_w * $budget // (SELECT totw FROM tw) AS base,
       |  (tokens_w * $budget) % (SELECT totw FROM tw) AS rem
       | FROM w),
       |r AS (SELECT $budget - CAST(sum(base) AS BIGINT) AS r FROM b),
       |rk AS (SELECT host, row_number()
       |    OVER (ORDER BY rem DESC, host ASC) AS rk FROM b)
       |SELECT b.host, b.tokens_w, CAST(b.base AS BIGINT) AS base,
       |  CAST(CASE WHEN rk.rk <= (SELECT r FROM r) THEN 1 ELSE 0 END
       |       AS BIGINT) AS extra,
       |  CAST(b.base + CASE WHEN rk.rk <= (SELECT r FROM r)
       |       THEN 1 ELSE 0 END AS BIGINT) AS quota
       |FROM b JOIN rk ON b.host = rk.host""".stripMargin

  /** Training-export shard assignment: give every doc a GLOBAL
    * position in the deterministic shuffle order ([[shuffleKey]],
    * doc_id) and cut the sequence into fixed-size shards — the
    * "shuffle once, then shard" step that materializes a training
    * set as numbered files with a reproducible read order.
    *
    * The position is [[GlobalRank.positions]] over (k, doc_id), never
    * `row_number() OVER (ORDER BY ...)`: a partitionless window moves
    * the corpus through ONE task. doc_id breaks the ties of the hash,
    * so (pos, shard) are exactly reproducible.
    *
    * Output: (doc_id, k, pos, shard, pos_in_shard); positions
    * 0-based, shard = pos div shardSize. */
  def shardAssign(docs: DataFrame, shardSize: Long,
                  nPartitions: Int = 32): DataFrame = {
    require(shardSize > 0, "shardSize must be positive")
    val keyed = docs
      .select(col("doc_id").cast("long"), shuffleKey(col("doc_id")).as("k"))
    GlobalRank.positions(keyed, Seq(col("k"), col("doc_id")), nPartitions)
      .select(col("doc_id"), col("k"), col("pos"),
        expr(s"pos div ${shardSize}L").as("shard"),
        (col("pos") % shardSize).as("pos_in_shard"))
  }

  /** Concat-and-chunk sequence packing (the GPT-style training layout):
    * documents are concatenated token-wise in the deterministic shuffle
    * order (shuffleKey, doc_id) and cut into fixed `seqLen`-token
    * training sequences; each doc maps to the half-open token interval
    * [tok_start, tok_start + n_tokens) of the virtual concatenated
    * stream. Output per (non-empty) doc: its token count, global start
    * offset, first/last sequence index, offset within the first
    * sequence, and how many sequences it straddles — everything a
    * sharded pretraining loader needs to materialize any sequence
    * without ever building the concatenated stream.
    *
    * Scale shape: tok_start is [[GlobalRank.positions]] over the
    * shuffle order with weight n_tokens — a weighted zipWithIndex. No
    * partitionless window, no join; driver traffic is P longs. All
    * outputs are exact integers.
    */
  def pack(docs: DataFrame, seqLen: Long,
           nPartitions: Int = 32): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val sized = docs
      .select(col("doc_id").cast("long"), shuffleKey(col("doc_id")).as("k"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
    val (first, last) = (s"pos div ${seqLen}L", s"(pos + n_tokens - 1) div ${seqLen}L")
    GlobalRank.positions(sized, Seq(col("k"), col("doc_id")), nPartitions,
        weight = col("n_tokens"))
      .selectExpr("doc_id", "n_tokens", "pos AS tok_start",
        s"$first AS seq_start", s"pos % ${seqLen}L AS off_in_seq",
        s"$last AS seq_end", s"$last - $first + 1 AS n_seqs")
  }

  /** Deterministic weighted source interleaving (stride scheduling —
    * the classic proportional-share scheduler applied to training-data
    * mixing): source s with weight w emits its k-th document at
    * virtual time (k+1)·(STRIDE/w), and the global training order is
    * the merge of all sources by (virtual time, source, k). Exact
    * integer keys (STRIDE is a common multiple of all weights), so the
    * schedule is reproducible anywhere and any prefix of the merged
    * order contains each source in proportion to its weight ±1 — the
    * property a data-mixing curriculum actually needs, stated without
    * floats.
    *
    * Weights here: 1 + (source index mod 4) over the src{N} names —
    * deterministic, spread over 1..4, STRIDE = 12. Within a source,
    * documents are ordered by the corpus shuffle key.
    *
    * Scale shape: one hash shuffle per-source for the rank window,
    * then the global enumeration is [[GlobalRank.positions]] — no
    * partitionless window. */
  def interleave(docs: DataFrame, nPartitions: Int = 32): DataFrame = {
    val stride = 12L
    val w = lit(1L) + substring(col("source"), 4, 10).cast("long") % 4
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(shuffleKey(col("doc_id")).asc, col("doc_id").asc)
    val keyed = docs
      .select(col("doc_id").cast("long"), col("source"))
      .withColumn("k", row_number().over(bySrc).cast("long") - 1)
      .withColumn("skey", (col("k") + 1) * (lit(stride) / w).cast("long"))
    GlobalRank.positions(keyed, Seq(col("skey"), col("source"), col("k")),
      nPartitions)
  }

  /** DuckDB oracle for [[interleave]] — the SPEC as one global
    * row_number over (virtual time, source, k). */
  def interleaveOracleSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hk
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) - 1 AS k
      |  FROM d),
      |j AS (
      |  SELECT doc_id, source, k,
      |    (k + 1) * (12 // (1 + CAST(substring(source, 4) AS BIGINT) % 4)) AS skey
      |  FROM r)
      |SELECT doc_id, source, k, skey,
      |  row_number() OVER (ORDER BY skey, source, k) - 1 AS pos
      |FROM j""".stripMargin

  /** DuckDB oracle for [[pack]] — the SPEC as one window prefix sum
    * over the same (shuffleKey, doc_id) order and the same tokenizer
    * (the engine proves its distributed two-pass computes the same
    * function without the global window). */
  def packOracleSql(seqLen: Long): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS k,
       |    CAST(len(list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n
       |  FROM documents),
       |p AS (
       |  -- DuckDB's sum(BIGINT) widens to HUGEINT (floats after the
       |  -- pandas hop) — cast the prefix sum back down
       |  SELECT doc_id, n,
       |    CAST(COALESCE(sum(n) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
       |  FROM d WHERE n > 0)
       |SELECT doc_id, n AS n_tokens, s AS tok_start,
       |  s // $seqLen AS seq_start, s % $seqLen AS off_in_seq,
       |  (s + n - 1) // $seqLen AS seq_end,
       |  (s + n - 1) // $seqLen - s // $seqLen + 1 AS n_seqs
       |FROM p""".stripMargin

  /** DuckDB replica of [[shardAssign]] — the oracle states the SPEC
    * (a global row_number over the shuffle order), the engine proves
    * its distributed two-pass computes the same function. */
  def shardAssignOracleSql(shardSize: Long): String =
    s"""WITH d AS (SELECT doc_id,
       |  ((doc_id % 2147483648) * 2654435761) % 4294967296 AS k
       | FROM documents),
       |p AS (SELECT doc_id, k,
       |  row_number() OVER (ORDER BY k, doc_id) - 1 AS pos FROM d)
       |SELECT doc_id, k, pos, pos // $shardSize AS shard,
       |  pos % $shardSize AS pos_in_shard
       |FROM p""".stripMargin

  /** Heaps-law vocabulary growth census: distinct vocabulary and total
    * token count after each of `buckets` corpus prefixes (prefix k =
    * docs with doc_id < ceil(n·k/buckets)). The V(n) ≈ K·n^β curve
    * this table traces is how you SIZE a tokenizer's vocabulary and
    * predict OOV rates before paying for the full-corpus BPE run —
    * at 100 TB you fit β on the censused prefixes, you don't re-count.
    *
    * Everything is exact integer arithmetic:
    *  - a token's earliest containing prefix is k = fd·b div n + 1
    *    (fd = first doc_id; fd < ceil(n·k/b) ⟺ fd·b < n·k ⟺
    *    k > fd·b/n), an integer `div` on both engines — no float
    *    ratio whose floor could straddle an exact multiple;
    *  - per-prefix NEW-token and token-mass counts aggregate
    *    distributively (map-side combine, one shuffle each on token /
    *    interval id), and only the `buckets`-row histograms reach the
    *    driver for the running sum — the cumulative join stays in the
    *    oracle arm.
    *
    * Output: (checkpoint, docs_prefix, total_tokens, distinct_tokens),
    * one row per prefix. Requires dense doc_ids 0..n-1 (the corpus
    * contract established by shardAssign/pack). */
  def heapsCensus(docs: DataFrame, buckets: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.count()
    require(n >= buckets, s"corpus smaller than buckets=$buckets")
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val newByK = toks.groupBy(col("token"))
      .agg(min(col("doc_id")).as("fd"))
      .select((expr(s"fd * $buckets div ${n}L") + 1L).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val massByK = docs
      .select((expr(s"doc_id * $buckets div ${n}L") + 1L).as("k"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("k")).agg(sum(col("nt")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var vocab = 0L
    var mass = 0L
    val rows = (1 to buckets).map { k =>
      vocab += newByK.getOrElse(k.toLong, 0L)
      mass += massByK.getOrElse(k.toLong, 0L)
      (k.toLong, (n * k + buckets - 1) / buckets, mass, vocab)
    }
    rows.toDF("checkpoint", "docs_prefix", "total_tokens", "distinct_tokens")
  }

  /** Mergeable log2-bucket histogram of document length — the
    * DDSketch idea (Masson et al., VLDB 2019) with γ = 2 and integer
    * buckets, which makes it DETERMINISTIC and engine-exact: bucket 0
    * holds v = 0 and bucket b ≥ 1 holds v ∈ [2^(b−1), 2^b − 1], i.e.
    * b = the value's binary digit count (`length(bin(v))` — pure
    * integer, no float log2 whose boundary rounding differs between
    * engines).
    *
    * Why a sketch when [[lengthProfile]] is exact: the profile's
    * rank windows shuffle the corpus. This histogram's state is AT
    * MOST 65 rows PER MAP TASK forever (the value domain bounds it,
    * not the data — the HLL register argument), partials combine
    * below the single Exchange, and two days' sketches merge by
    * adding counts — the shape you actually monitor a growing 100 TB
    * corpus with. The price is the γ = 2 relative-error bound: the
    * true quantile is inside [lo, hi] with hi < 2·max(lo,1). */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(length(col("text")).cast("long").as("v"))
      .groupBy(when(col("v") === 0L, lit(0L))
        .otherwise(length(bin(col("v"))).cast("long")).as("bucket"))
      .agg(count(lit(1)).as("bucket_docs"))

  /** Quantile report from [[lengthHistogram]], self-audited: for each
    * requested percentile, the sketch's bucket bounds [lo, hi] AND the
    * exact rank-arithmetic value, with `in_bounds` proving the error
    * contract on this corpus. rank = ceil(n·p/100) in pure integer
    * arithmetic; the picked bucket is the first whose cumulative count
    * reaches the rank (min over an inequality join against the ≤65-row
    * cumulative histogram — the only BNLJ here is tiny-by-domain, the
    * web_hits 1-row-renorm shape).
    *
    * The exact arm is the AUDIT, not the production path: its census
    * has one row per distinct length (answer-domain-sized, like
    * corpus_url_cardinality's exact_distinct arm) and its cumsum runs
    * in a single bounded partition. Production consumers at 10^12 docs
    * read the sketch columns; the audit arm is what makes the sketch's
    * claim checkable here. */
  def quantileSketch(docs: DataFrame, pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100), "pcts in 1..100")
    val spark = docs.sparkSession
    import spark.implicits._
    val vals = docs.select(length(col("text")).cast("long").as("v"))
    val bounds = (0 to 63).map { b =>
      val lo = if (b == 0) 0L else 1L << (b - 1)
      val hi = if (b == 0) 0L else if (b == 63) Long.MaxValue else (1L << b) - 1L
      (b.toLong, lo, hi)
    }.toDF("bucket", "lo", "hi")
    val wb = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = lengthHistogram(docs)
      .withColumn("cum_docs", sum(col("bucket_docs")).over(wb))
    val ranks = pcts.map(_.toLong).toDF("q_pct")
      .crossJoin(broadcast(vals.agg(count(lit(1)).as("n_docs"))))
      .select(col("q_pct"), col("n_docs"),
        expr("(n_docs * q_pct + 99) div 100").as("q_rank"))
    val pick = ranks.join(cum, cum("cum_docs") >= ranks("q_rank"))
      .groupBy(col("q_pct"), col("n_docs"), col("q_rank"))
      .agg(min(col("bucket")).as("bucket"))
      .join(cum, Seq("bucket")).join(bounds, Seq("bucket"))
    val wv = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val census = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum_v", sum(col("c")).over(wv))
    val exact = ranks.join(census, census("cum_v") >= ranks("q_rank"))
      .groupBy(col("q_pct")).agg(min(col("v")).as("exact_chars"))
    pick.join(exact, Seq("q_pct"))
      .select(col("q_pct"), col("n_docs"), col("q_rank"), col("bucket"),
        col("lo"), col("hi"), col("bucket_docs"), col("cum_docs"),
        col("exact_chars"),
        when(col("exact_chars").between(col("lo"), col("hi")), lit(1L))
          .otherwise(lit(0L)).as("in_bounds"))
  }

  /** Pad-waste census for length-bucketed batching: if every doc is
    * padded to the next power-of-two token length (the standard
    * dynamic-batching bucket rule), how many pad tokens does each
    * bucket burn? The table a batching decision is made from — read
    * next to [[pack]] (concat-and-chunk), whose waste is zero but
    * whose docs straddle sequence boundaries; this census prices the
    * alternative. All-integer: padded length for n ≥ 2 is 2^(binary
    * digit count of n−1) via a 63-row broadcast bounds join (no float
    * log2/pow); n ∈ {0, 1} pad to themselves. One partial-agg shuffle
    * on the bucket key — output is O(distinct buckets) forever. */
  def padWaste(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bounds = (0 to 62).map(d => (d.toLong, 1L << d)).toDF("d", "pow")
    docs.select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .withColumn("d", when(col("n") <= 1L, lit(0L))
        .otherwise(length(bin(col("n") - 1L)).cast("long")))
      .join(broadcast(bounds), Seq("d"))
      .withColumn("padded", when(col("n") <= 1L, col("n")).otherwise(col("pow")))
      .groupBy(col("padded").as("padded_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("real_tokens"),
        sum(col("padded")).as("padded_tokens"),
        sum(col("padded") - col("n")).as("pad_tokens"))
  }

  /** DuckDB replica of [[padWaste]] — next-pow2 stated as min-over a
    * doubling table (no bin() parity assumption). */
  def padWasteOracleSql: String =
    s"""WITH RECURSIVE pow2(d, v) AS (
       |  SELECT 0, CAST(1 AS BIGINT)
       |  UNION ALL SELECT d + 1, v * 2 FROM pow2 WHERE d < 62),
       |tok AS (SELECT
       |    len(list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> len(x) > 0)) AS n
       |  FROM documents),
       |pad AS (SELECT n, CASE WHEN n <= 1 THEN n
       |    ELSE (SELECT min(v) FROM pow2 WHERE v >= n) END AS padded
       |  FROM tok)
       |SELECT padded AS padded_len,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS real_tokens,
       |  CAST(sum(padded) AS BIGINT) AS padded_tokens,
       |  CAST(sum(padded - n) AS BIGINT) AS pad_tokens
       |FROM pad GROUP BY 1""".stripMargin

  /** DuckDB replica of [[quantileSketch]]: bucket bounds by recursive
    * doubling (no log2, no bin() parity assumption), assignment by
    * range join, same integer ceil-rank rule. */
  def quantileSketchOracleSql(pcts: Seq[Int] = Seq(50, 90, 99)): String = {
    val vs = pcts.map(p => s"($p)").mkString(", ")
    s"""WITH RECURSIVE pow2(bucket, lo, hi) AS (
       |  SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  UNION ALL SELECT bucket + 1,
       |    CASE WHEN bucket = 0 THEN 1 ELSE lo * 2 END,
       |    CASE WHEN bucket = 0 THEN 1 ELSE hi * 2 + 1 END
       |  FROM pow2 WHERE bucket < 63),
       |vals AS (SELECT len(text) AS v FROM documents),
       |hist AS (SELECT p.bucket, count(*) AS bucket_docs
       |  FROM vals JOIN pow2 p ON vals.v BETWEEN p.lo AND p.hi GROUP BY 1),
       |cum AS (SELECT bucket, bucket_docs,
       |    CAST(sum(bucket_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs
       |  FROM hist),
       |ranks AS (SELECT CAST(q.q_pct AS BIGINT) AS q_pct,
       |    CAST(t.n_docs AS BIGINT) AS n_docs,
       |    CAST((t.n_docs * q.q_pct + 99) // 100 AS BIGINT) AS q_rank
       |  FROM (VALUES $vs) q(q_pct), (SELECT count(*) AS n_docs FROM vals) t),
       |pick AS (SELECT r.q_pct, r.n_docs, r.q_rank,
       |    CAST(min(c.bucket) AS BIGINT) AS bucket
       |  FROM ranks r JOIN cum c ON c.cum_docs >= r.q_rank GROUP BY 1, 2, 3),
       |census AS (SELECT v, count(*) AS c FROM vals GROUP BY 1),
       |ccum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum_v
       |  FROM census),
       |exact AS (SELECT r.q_pct, min(cc.v) AS exact_chars
       |  FROM ranks r JOIN ccum cc ON cc.cum_v >= r.q_rank GROUP BY 1)
       |SELECT p.q_pct, p.n_docs, p.q_rank, p.bucket, b.lo, b.hi,
       |  c.bucket_docs, c.cum_docs, e.exact_chars,
       |  CAST(CASE WHEN e.exact_chars BETWEEN b.lo AND b.hi
       |    THEN 1 ELSE 0 END AS BIGINT) AS in_bounds
       |FROM pick p JOIN cum c ON c.bucket = p.bucket
       |JOIN pow2 b ON b.bucket = p.bucket
       |JOIN exact e ON e.q_pct = p.q_pct""".stripMargin
  }

  /** DuckDB replica of [[heapsCensus]] — the cumulative form stated
    * directly as inequality joins against the prefix bounds. */
  def heapsOracleSql(buckets: Int = 8): String =
    s"""WITH n AS (SELECT count(*) AS n FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> len(x) > 0)) AS token
       |  FROM documents),
       |firsts AS (SELECT token, min(doc_id) AS fd FROM toks GROUP BY 1),
       |chk AS (SELECT g.k AS k, (n.n * g.k + ${buckets - 1}) // $buckets AS docs_prefix
       |  FROM generate_series(1, $buckets) g(k), n),
       |doclen AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1),
       |dv AS (SELECT c.k, count(*) AS distinct_tokens
       |  FROM chk c JOIN firsts f ON f.fd < c.docs_prefix GROUP BY 1),
       |tt AS (SELECT c.k, sum(d.nt) AS total_tokens
       |  FROM chk c JOIN doclen d ON d.doc_id < c.docs_prefix GROUP BY 1)
       |SELECT c.k AS checkpoint, CAST(c.docs_prefix AS BIGINT) AS docs_prefix,
       |  CAST(tt.total_tokens AS BIGINT) AS total_tokens,
       |  CAST(dv.distinct_tokens AS BIGINT) AS distinct_tokens
       |FROM chk c JOIN tt ON tt.k = c.k JOIN dv ON dv.k = c.k""".stripMargin

  // ---------------------------------------------------------------
  // Per-epoch Feistel shuffle (reproducible training order, re-keyed
  // every epoch)
  // ---------------------------------------------------------------

  private val FeistelRounds = 3
  private val FeistelA = 2654435761L // Knuth multiplier, shared w/ shuffleKey
  private val Mask32 = 0xFFFFFFFFL
  private val Mask16 = 0xFFFFL

  /** Round-key base for Feistel round `r` under `seed`; the epoch term
    * is added as a COLUMN (epochs are data, not literals). All three
    * odd 32-bit constants are the classic murmur/xxhash finalizer
    * multipliers — any odd constants work, these are just well-mixed. */
  private def feistelRoundBase(seed: Long, r: Int): Long =
    ((seed + 1) * 2654435769L + r * 3266489917L) & Mask32

  /** 32-bit, 3-round Feistel permutation of `id` keyed by (seed,
    * epoch): split into 16-bit halves, round = (L,R) → (R, (L+F(R))
    * mod 2^16) with F(R) = ((R·A + rk) mod 2^32) >> 16 — modular-ADD
    * combiner (no xor; identical operator set in DuckDB), so every
    * round is invertible and the whole map is a BIJECTION on
    * [0, 2^32). Products stay ≤ 65535·A + 2^32 ≈ 1.8e14 ≪ 2^63: the
    * arithmetic is overflow-free exact-long on both engines. Ids
    * outside the 32-bit domain raise (a silent mask would break the
    * bijection and the dense-position contract downstream). */
  private[ops] def feistelKey(id: Column, epoch: Column,
                              seed: Long): Column = {
    val guarded = when(id < 0L || id > Mask32,
      raise_error(concat(lit("epochOrder: doc_id outside the 32-bit " +
        "Feistel domain: "), id.cast("string")))).otherwise(id)
    var l = shiftright(guarded, 16).bitwiseAND(lit(Mask16))
    var r = guarded.bitwiseAND(lit(Mask16))
    for (rnd <- 0 until FeistelRounds) {
      val rk = (lit(feistelRoundBase(seed, rnd)) +
        epoch.cast("long") * lit(2246822519L)).bitwiseAND(lit(Mask32))
      val f = shiftright((r * lit(FeistelA) + rk).bitwiseAND(lit(Mask32)), 16)
      val nr = (l + f).bitwiseAND(lit(Mask16))
      l = r
      r = nr
    }
    (shiftleft(l, 16) + r).as("key")
  }

  /** Per-epoch training order: every epoch e ∈ [0, epochs) gets its
    * OWN deterministic full-corpus shuffle — position = dense rank of
    * the epoch-keyed Feistel permutation of doc_id. This is the
    * "reshuffle every epoch, reproducibly" step of a pretraining
    * loader: rerunning the job (any cluster size, any partitioning)
    * reproduces the exact same epoch orders, and no rand() ever runs.
    *
    * Why a Feistel network and not the [[shuffleKey]] hash: the hash
    * ALIASES ids ≥ 2^31 (harmless for sampling, but two docs can share
    * a key), while the Feistel map is a bijection on [0, 2^32) — keys
    * are collision-free BY CONSTRUCTION, so the shuffle order needs no
    * tiebreak column and re-keying by epoch is free (the epoch enters
    * the round keys, giving an independent-looking permutation per
    * epoch from the same arithmetic).
    *
    * Scale shape: the epoch fan-out is a zero-shuffle explode (E·N
    * rows of 3 longs — the TEXT never fans out); the only exchange is
    * the range partition on (epoch, key); dense per-epoch positions
    * are [[GlobalRank.positions]] grouped by epoch (P·E counts to the
    * driver, never data). No partitionless window, no join. Output:
    * (epoch, doc_id, key, pos) with pos dense 0..N−1 per epoch. */
  def epochOrder(docs: DataFrame, epochs: Int = 3, seed: Long = 17L,
                 nPartitions: Int = 32): DataFrame = {
    require(epochs > 0, "epochs must be positive")
    val keyed = docs
      .select(col("doc_id").cast("long"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .select(col("epoch"), col("doc_id"),
        feistelKey(col("doc_id"), col("epoch"), seed))
    GlobalRank.positions(keyed, Seq(col("key")), nPartitions,
      group = col("epoch"))
  }

  // ---------------------------------------------------------------
  // Resharding churn census (consistent-hash ring vs mod-N)
  // ---------------------------------------------------------------

  /** Vnode position on the 2^32 ring for (shard, vnode) — the inner
    * mix is masked to 2^31 BEFORE the Knuth multiply so the product
    * stays ≤ 2^31·A ≈ 5.7e18 < Long.Max on both engines (the
    * [[shuffleKey]] overflow lesson applied to a two-arg hash). */
  private[ops] def vnodeHash(shard: Long, vnode: Long): Long =
    (((shard * 2654435769L + vnode * 2246822519L + 40503L) & 0x7FFFFFFFL)
      * FeistelA) & Mask32

  /** Sorted packed ring for `nShards`×`vnodes`: packed = (vh << 20) |
    * (shard << 12) | vnode, so sorting packed IS sorting (vh, shard,
    * vnode) and probing with pt << 20 finds the first vnode with
    * vh ≥ pt (the vnode/shard bits of the probe are zero). */
  private[ops] def packedRing(nShards: Int, vnodes: Int): Array[Long] = {
    val a = new Array[Long](nShards * vnodes)
    var i = 0
    var s = 0
    while (s < nShards) {
      var w = 0
      while (w < vnodes) {
        a(i) = (vnodeHash(s, w) << 20) | (s.toLong << 12) | w.toLong
        i += 1; w += 1
      }
      s += 1
    }
    java.util.Arrays.sort(a)
    a
  }

  /** Owning shard of ring position `pt`: binary search for the first
    * vnode clockwise at-or-after pt, wrapping to the ring's first. */
  private[ops] def ringOwner(ring: Array[Long], pt: Long): Int = {
    val idx = java.util.Arrays.binarySearch(ring, pt << 20)
    val at = if (idx >= 0) idx else -idx - 1 // insertion point
    val hit = if (at == ring.length) 0 else at // wrap
    ((ring(hit) >> 12) & 0xFFL).toInt
  }

  /** Resharding-churn census: when a corpus bucketed into `nOld`
    * shards regrows to `nNew`, what fraction of documents MOVE under
    * (a) naive mod-N placement vs (b) a consistent-hash ring with
    * `vnodes` virtual nodes per shard? Mod-N reshuffles nearly
    * everything (a doc stays only when pt%nOld == pt%nNew); the ring
    * moves ≈ 1 − nOld/nNew of the corpus — THE reason bucket-count
    * changes on a 100 TB Iceberg table are rewrites of every file
    * under scheme (a) but incremental under (b). The census measures
    * both on the actual id population, plus the resulting occupancy
    * spread (max/min load over OCCUPIED new shards).
    *
    * Ring semantics (classic Karger): doc point pt = [[shuffleKey]];
    * owner = shard of the first vnode at or clockwise-after pt in
    * (vh, shard, vnode) order, wrapping to the ring's first vnode.
    * Ties (equal vh across vnodes) break deterministically by
    * (shard, vnode) — same order both engines.
    *
    * Scale shape: both rings are GENERATED INSIDE the kernel from the
    * closed-form vnode hash (nShards·vnodes entries — no broadcast,
    * no join, no shuffle to build them); per doc the owner is a
    * binary search in the packed sorted ring array; the only
    * exchanges are two partial-aggregated shuffles over ≤ 2·nNew
    * census keys. Output: 2 rows (scheme ∈ {mod, ring}). */
  def reshardChurn(docs: DataFrame, nOld: Int = 8, nNew: Int = 10,
                   vnodes: Int = 64): DataFrame = {
    require(nOld > 0 && nNew > 0 && nOld != nNew, "need two shard counts")
    require(math.max(nOld, nNew) <= 256 && vnodes <= 4096,
      "packed ring key holds shard<2^8, vnode<2^12")
    val spark = docs.sparkSession
    import spark.implicits._
    val pts = docs.select(shuffleKey(col("doc_id").cast("long")).as("pt"))
    val (o, n, v) = (nOld, nNew, vnodes)
    val placed = pts.as[Long].mapPartitions { it =>
      val ringOld = packedRing(o, v) // built ONCE per partition
      val ringNew = packedRing(n, v)
      it.flatMap { pt =>
        val mo = (pt % o).toInt; val mn = (pt % n).toInt
        val ro = ringOwner(ringOld, pt); val rn = ringOwner(ringNew, pt)
        Iterator(("mod", mn, if (mo != mn) 1L else 0L),
                 ("ring", rn, if (ro != rn) 1L else 0L))
      }
    }.toDF("scheme", "shard_new", "moved")
    placed.groupBy(col("scheme"), col("shard_new"))
      .agg(count(lit(1)).as("c"), sum(col("moved")).as("mv"))
      .groupBy(col("scheme"))
      .agg(sum(col("c")).as("n_docs"), sum(col("mv")).as("n_moved"),
        max(col("c")).as("max_load_new"), min(col("c")).as("min_load_new"))
      .select(col("scheme"), col("n_docs"), col("n_moved"),
        expr("(n_moved * 1000) div n_docs").as("moved_permille"),
        col("max_load_new"), col("min_load_new"))
  }

  /** DuckDB replica of [[reshardChurn]] — vnode table from the same
    * closed-form hash over range()×range(); ring ownership stated as
    * the argmin of the wrapped clockwise distance (vh − pt + 2^32) mod
    * 2^32 with the identical (shard, vnode) tie order (equal distance
    * ⟺ equal vh, so the orders agree with the engine's packed sort);
    * the oracle arm may cross-join docs×vnodes — the ENGINE never
    * does. */
  def reshardChurnOracleSql(nOld: Int = 8, nNew: Int = 10,
                            vnodes: Int = 64): String =
    s"""WITH pts AS (SELECT doc_id,
       |  ((doc_id % $IdMask) * $KnuthA) % $KnuthM AS pt FROM documents),
       |vn AS (SELECT s.s AS shard, w.w AS vnode,
       |  (((s.s * 2654435769 + w.w * 2246822519 + 40503) & 2147483647)
       |    * $FeistelA) & $Mask32 AS vh
       |  FROM range(0, ${math.max(nOld, nNew)}) s(s), range(0, $vnodes) w(w)),
       |own_old AS (SELECT doc_id, shard FROM (
       |  SELECT p.doc_id, v.shard, row_number() OVER (PARTITION BY p.doc_id
       |    ORDER BY (v.vh - p.pt + $KnuthM) % $KnuthM, v.shard, v.vnode) AS rn
       |  FROM pts p, vn v WHERE v.shard < $nOld) WHERE rn = 1),
       |own_new AS (SELECT doc_id, shard FROM (
       |  SELECT p.doc_id, v.shard, row_number() OVER (PARTITION BY p.doc_id
       |    ORDER BY (v.vh - p.pt + $KnuthM) % $KnuthM, v.shard, v.vnode) AS rn
       |  FROM pts p, vn v WHERE v.shard < $nNew) WHERE rn = 1),
       |u AS (
       |  SELECT 'mod' AS scheme, pt % $nNew AS shard_new,
       |    CASE WHEN pt % $nOld <> pt % $nNew THEN 1 ELSE 0 END AS moved
       |  FROM pts
       |  UNION ALL
       |  SELECT 'ring', o2.shard,
       |    CASE WHEN o1.shard <> o2.shard THEN 1 ELSE 0 END
       |  FROM own_old o1 JOIN own_new o2 USING (doc_id)),
       |per AS (SELECT scheme, shard_new, count(*) AS c, sum(moved) AS mv
       |  FROM u GROUP BY 1, 2)
       |SELECT scheme, CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(sum(mv) AS BIGINT) AS n_moved,
       |  CAST((sum(mv) * 1000) // sum(c) AS BIGINT) AS moved_permille,
       |  CAST(max(c) AS BIGINT) AS max_load_new,
       |  CAST(min(c) AS BIGINT) AS min_load_new
       |FROM per GROUP BY 1""".stripMargin

  /** DuckDB replica of [[epochOrder]] — the three Feistel rounds
    * unrolled as chained CTEs over the identical &/>>/<< long
    * arithmetic; dense positions via a per-epoch window (fine in the
    * oracle arm; the engine proves its distributed two-pass computes
    * the same function). */
  def epochOrderOracleSql(epochs: Int = 3, seed: Long = 17L): String = {
    def round(i: Int, in: String): String =
      s"""s${i + 1} AS (SELECT epoch, doc_id, r AS l,
         |  (l + ((((r * $FeistelA) +
         |     ((${feistelRoundBase(seed, i)} + epoch * 2246822519) & $Mask32))
         |     & $Mask32) >> 16)) & $Mask16 AS r FROM $in)""".stripMargin
    s"""WITH ep AS (SELECT CAST(e AS BIGINT) AS epoch FROM range(0, $epochs) t(e)),
       |s0 AS (SELECT epoch, doc_id,
       |  (doc_id >> 16) & $Mask16 AS l, doc_id & $Mask16 AS r
       |  FROM documents, ep),
       |${round(0, "s0")},
       |${round(1, "s1")},
       |${round(2, "s2")},
       |k AS (SELECT epoch, doc_id, (l << 16) + r AS key FROM s3)
       |SELECT CAST(epoch AS INT) AS epoch, doc_id, key,
       |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY key) - 1
       |    AS BIGINT) AS pos
       |FROM k""".stripMargin
  }

  /** Shuffle-QUALITY census over the Feistel epoch order — does the
    * shuffle actually break source runs? Per epoch: adjacent training
    * positions sharing a source, vs the natural doc_id-order baseline
    * (epoch −1). A well-mixed order sits at ≈ Σ(share_s²) of
    * adjacency (the random-mix expectation); a sorted-by-source
    * corpus reads ≈ 1000 permille in the baseline row and collapses
    * after shuffling; a round-robin corpus reads 0 and RISES to the
    * random level — either direction, the census says whether the
    * epoch order behaves like a random permutation.
    *
    * Scale shape: adjacency by SELF-JOIN on (epoch, pos + 1) — never
    * a window partitioned only by epoch (each epoch partition would
    * hold the whole corpus); positions come from [[epochOrder]]'s
    * two-pass enumeration; one co-partitioned join + per-epoch
    * rollup. */
  def shuffleAdjacency(docs: DataFrame, epochs: Int = 3,
                       seed: Long = 17L): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val t = epochOrder(docs, epochs, seed)
      .select(col("epoch"), col("doc_id"), col("pos"))
      .join(src, Seq("doc_id"))
      .select(col("epoch"), col("pos"), col("source"))
      .localCheckpoint(false) // both sides of the adjacency join
    val adj = t.select(col("epoch"), col("pos"), col("source").as("s1"))
      .join(t.select(col("epoch"), (col("pos") - 1).as("pos"),
        col("source").as("s2")), Seq("epoch", "pos"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_adjacent"),
        sum(when(col("s1") === col("s2"), 1L).otherwise(0L))
          .as("n_same_source"))
    val nat = src.select(col("doc_id").as("k"), col("source").as("s1"))
      .join(src.select((col("doc_id") - 1).as("k"),
        col("source").as("s2")), Seq("k"))
      .agg(count(lit(1)).as("n_adjacent"),
        sum(when(col("s1") === col("s2"), 1L).otherwise(0L))
          .as("n_same_source"))
      .select(lit(-1).as("epoch"), col("n_adjacent"),
        col("n_same_source"))
    adj.unionByName(nat)
      .select(col("epoch"), col("n_adjacent"), col("n_same_source"),
        expr("n_same_source * 1000 div n_adjacent").as("same_permille"))
  }

  /** DuckDB oracle for [[shuffleAdjacency]] — the epochOrder replay
    * joined to sources, adjacency as the same pos+1 self-join, plus
    * the doc_id+1 natural baseline. */
  def shuffleAdjacencyOracleSql(epochs: Int = 3, seed: Long = 17L): String =
    "WITH eo AS (" + epochOrderOracleSql(epochs, seed) + "),\n" +
      """t AS (SELECT eo.epoch, eo.pos, d.source
        |      FROM eo JOIN documents d USING (doc_id)),
        |adj AS (
        |  SELECT a.epoch, CAST(count(*) AS BIGINT) AS n_adjacent,
        |    CAST(sum(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_same_source
        |  FROM t a JOIN t b ON a.epoch = b.epoch AND b.pos = a.pos + 1
        |  GROUP BY a.epoch),
        |nat AS (
        |  SELECT CAST(-1 AS INT) AS epoch,
        |    CAST(count(*) AS BIGINT) AS n_adjacent,
        |    CAST(sum(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_same_source
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |u AS (SELECT * FROM adj UNION ALL SELECT * FROM nat)
        |SELECT epoch, n_adjacent, n_same_source,
        |  CAST(n_same_source * 1000 // n_adjacent AS BIGINT)
        |    AS same_permille
        |FROM u""".stripMargin

  /** Data-constrained epoch allocation (the Muennighoff-style repeat
    * schedule): when the token budget exceeds one pass over the data,
    * which sources get a 2nd/3rd/... epoch? Each epoch of source s
    * costs tokens(s) and yields utility tokens(s) >> (e−1) — dyadic
    * diminishing returns, exact longs, no exp() (the freshnessBudget
    * discipline). Utility DENSITY (utility/cost = 2^−(e−1)) is equal
    * within an epoch level, so the greedy order is fully determined:
    * epoch level ascending, utility (= tokens) descending within a
    * level, source ascending on ties. The allocation is the
    * FIRST-FIT-PREFIX policy — take candidates in that order while the
    * running cost stays ≤ budget and STOP at the first overflow (the
    * layout a streaming packer produces; later smaller items are NOT
    * back-filled — documented, and pinned by the spec's skip case).
    *
    * `budget` defaults to 12/5 of one full pass (exact integer
    * arithmetic on the driver-scalar total), so every source gets two
    * epochs and the third level genuinely binds mid-level.
    *
    * Scale shape: the corpus collapses to the |sources|-row token
    * rollup FIRST (one partial-agg shuffle); the epoch grid is
    * |sources|·maxEpochs rows, so the single unpartitioned cumsum
    * window runs on a BOUNDED table (the AUC/term-sketch argument);
    * output joins back to the rollup only. All-long arithmetic. */
  def epochAllocation(docs: DataFrame, maxEpochs: Int = 4,
                      budgetNum: Long = 12L, budgetDen: Long = 5L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.groupBy(col("source"))
      .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
        .as("toks"))
      .localCheckpoint(false) // |sources| rows; two consumers
    val total = toks.agg(sum(col("toks"))).collect()(0).getLong(0)
    val budget = total * budgetNum / budgetDen // exact driver scalar
    val grid = toks.crossJoin(
        (1 to maxEpochs).toDF("epoch").select(col("epoch").cast("int")))
      .select(col("source"), col("toks"), col("epoch"),
        expr("shiftright(toks, epoch - 1)").as("utility"))
    val ordered = Window
      .orderBy(col("epoch").asc, col("toks").desc, col("source").asc)
    val taken = grid
      .withColumn("cum", sum(col("toks")).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("overflowed",
        max(when(col("cum") > budget, col("cum")).otherwise(lit(null)))
          .over(ordered.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .filter(col("overflowed").isNull) // stop at FIRST overflow
      .groupBy(col("source"))
      .agg(count(lit(1)).as("epochs_taken"),
        sum(col("utility")).as("utility_sum"))
    toks.join(taken, Seq("source"), "left")
      .select(col("source"), col("toks"),
        coalesce(col("epochs_taken"), lit(0L)).as("epochs_taken"),
        (col("toks") * coalesce(col("epochs_taken"), lit(0L)))
          .as("tokens_used"),
        coalesce(col("utility_sum"), lit(0L)).as("utility_sum"))
  }

  /** DuckDB replica of [[epochAllocation]] — same rollup, grid,
    * greedy order, prefix cumsum, first-overflow stop. */
  def epochAllocationOracleSql(maxEpochs: Int = 4, budgetNum: Long = 12L,
                               budgetDen: Long = 5L): String =
    s"""WITH toks AS (
       |  SELECT source, CAST(sum(len(list_filter(
       |    string_split_regex(lower(text), '[\\s\\x0b]+'),
       |    x -> len(x) > 0))) AS BIGINT) AS toks
       |  FROM documents GROUP BY source),
       |b AS (SELECT CAST(sum(toks) AS BIGINT) * $budgetNum // $budgetDen
       |      AS budget FROM toks),
       |grid AS (
       |  SELECT t.source, t.toks, e.g AS epoch,
       |    t.toks >> (e.g - 1) AS utility
       |  FROM toks t, generate_series(1, $maxEpochs) e(g)),
       |c AS (
       |  SELECT *, sum(toks) OVER w AS cum
       |  FROM grid
       |  WINDOW w AS (ORDER BY epoch ASC, toks DESC, source ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |pre AS (
       |  SELECT * FROM c
       |  WHERE cum <= (SELECT budget FROM b)
       |    AND NOT EXISTS (SELECT 1 FROM c c2
       |      WHERE c2.cum > (SELECT budget FROM b)
       |        AND (c2.epoch < c.epoch OR (c2.epoch = c.epoch
       |          AND (c2.toks > c.toks OR (c2.toks = c.toks
       |            AND c2.source < c.source))))) ),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS epochs_taken,
       |    CAST(sum(utility) AS BIGINT) AS utility_sum
       |  FROM pre GROUP BY source)
       |SELECT t.source, t.toks,
       |  CAST(coalesce(a.epochs_taken, 0) AS BIGINT) AS epochs_taken,
       |  CAST(t.toks * coalesce(a.epochs_taken, 0) AS BIGINT) AS tokens_used,
       |  CAST(coalesce(a.utility_sum, 0) AS BIGINT) AS utility_sum
       |FROM toks t LEFT JOIN agg a ON t.source = a.source""".stripMargin
}
