package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl-snapshot operators: the incremental-ingestion primitives a
  * recurring crawl pipeline runs between snapshots. */
object Crawl {

  /** Snapshot delta: classify every url across two crawl snapshots as
    * added / removed / changed / unchanged by comparing content
    * fingerprints. Inputs are (url, fp) tables — the fingerprint
    * column is the CALLER's choice (md5 here in the driver query for
    * DuckDB oracle parity; xxhash64 at production scale — the operator
    * is agnostic).
    *
    * Scale shape: ONE full-outer equi-join on url — with both
    * snapshots bucketed by url-hash (the layout ExtractJob already
    * writes), this is a zero-shuffle sort-merge join per bucket; the
    * incremental re-extraction workload is then `status IN ('added',
    * 'changed')`, typically a few percent of the crawl. No driver
    * state, no window, AQE handles host-skewed url spaces.
    *
    * CONTRACT: each snapshot must be url-unique (one row per url — a
    * snapshot, not a raw re-crawl log). Duplicate urls fan out through
    * the full-outer join; run first-seen dedup (ExtractStreamJob
    * .dedupFirstSeen or Dedup.exact on url) upstream if needed. */
  def delta(prev: DataFrame, cur: DataFrame): DataFrame = {
    // Presence is carried by explicit marker columns, NOT by fp
    // nullness: a snapshot row whose fingerprint is legitimately NULL
    // (e.g. md5 of NULL text) must still count as present, and
    // changed-ness uses null-safe equality — otherwise a prev-only url
    // with NULL fp would misclassify as 'added' and poison the
    // worklist.
    val p = prev.select(col("url"), col("fp").as("__fp_prev"),
      lit(true).as("__in_prev"))
    val c = cur.select(col("url"), col("fp").as("__fp_cur"),
      lit(true).as("__in_cur"))
    p.join(c, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("__in_prev").isNull, "added")
          .when(col("__in_cur").isNull, "removed")
          .when(!(col("__fp_prev") <=> col("__fp_cur")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Per-status counts of [[delta]] — the snapshot health report. */
  def deltaSummary(prev: DataFrame, cur: DataFrame): DataFrame =
    delta(prev, cur).groupBy(col("status")).agg(count(lit(1)).as("n_urls"))

  /** Snapshot collapse (CDX-style): consolidate a raw re-crawl LOG —
    * many fetches per url over time, columns (url, warc_ts, fp) — into
    * one row per url: fetch count, distinct content versions, first/
    * last fetch time, the fingerprint of the LATEST fetch, and a churn
    * flag (content changed at least once). This is the batch
    * complement of [[delta]]: delta diffs two url-unique snapshots;
    * collapse is what MAKES a url-unique snapshot out of the raw log.
    *
    * Latest-fetch selection is max over (warc_ts, fp) lexicographic
    * order, so ties on warc_ts break deterministically on fp (a raw
    * crawl log CAN carry two fetches of one url in the same second).
    * The pair is packed as zero-padded-19-digit-ts || fp and max'd as
    * ONE string: string order == (ts, fp) order for the non-negative
    * epoch timestamps a crawl log carries (contract: warc_ts >= 0).
    * Plan note (measured, `Perf plans`): any non-fixed-width aggregation
    * BUFFER — a struct-max OR this string-max — drops the whole
    * aggregate to SortAggregate; with a NUMERIC fp (the production
    * choice: xxhash64) every buffer is fixed-width and the identical
    * shape plans as HashAggregate with partials below both exchanges.
    * The md5-string fp here is the DuckDB-oracle-parity instance.
    * Either way a window row_number would be worse: a second shuffle
    * and hot urls pinned into one reducer.
    *
    * Scale shape: ONE hash shuffle on url with partial aggregation
    * below it (count/min/max/struct-max all combine map-side); the
    * count(DISTINCT fp) plans as the standard two-level expand — one
    * row per distinct (url, fp) moves, never the raw log. url is the
    * natural bucket key of a crawl corpus, so on a bucketed layout
    * the whole collapse is shuffle-free. */
  def collapse(log: DataFrame): DataFrame =
    log.groupBy(col("url")).agg(
      count(lit(1)).as("n_fetches"),
      countDistinct(col("fp")).as("n_versions"),
      min(col("warc_ts")).as("first_ts"),
      max(col("warc_ts")).as("last_ts"),
      max(concat(lpad(col("warc_ts").cast("string"), 19, "0"),
        col("fp"))).as("_latest_packed"))
      .select(col("url"), col("n_fetches"), col("n_versions"),
        col("first_ts"), col("last_ts"),
        expr("substr(_latest_packed, 20)").as("latest_fp"),
        (col("n_versions") > lit(1L)).as("churn"))

  /** Deterministic synthetic re-crawl log over documents: doc d is
    * fetched 1 + d%3 times at warc_ts = 1700000000 + 97d + 86400k;
    * fetches k>0 of docs d ≡ 0 (mod 4) carry edited content (" v<k>"
    * suffix), so the corpus has urls with 1-3 fetches and 1-3
    * versions in every combination. md5 fingerprints for oracle
    * parity. [[fetchLogOracleSql]] states the same log. */
  def syntheticFetchLog(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.select(
      concat(lit("https://"), col("source"), lit("/doc"),
        d.cast("string")).as("url"),
      col("text"), d.as("doc_id"))
      .select(col("url"), col("text"), col("doc_id"),
        explode(sequence(lit(0), (d % 3).cast("int"))).as("k"))
      .select(col("url"),
        (lit(1700000000L) + col("doc_id") * 97 + col("k") * 86400)
          .as("warc_ts"),
        md5(when(col("k") > 0 && col("doc_id") % 4 === 0,
          concat(col("text"), lit(" v"), col("k").cast("string")))
          .otherwise(col("text"))).as("fp"))
  }

  /** Closed-form SQL for [[syntheticFetchLog]]. */
  def fetchLogOracleSql: String =
    """WITH f AS (SELECT doc_id, text,
      |  'https://' || source || '/doc' || CAST(doc_id AS VARCHAR) AS url,
      |  unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS k
      | FROM documents)
      |SELECT url,
      |  1700000000 + doc_id * 97 + k * 86400 AS warc_ts,
      |  md5(CASE WHEN k > 0 AND doc_id % 4 = 0
      |      THEN text || ' v' || CAST(k AS VARCHAR) ELSE text END) AS fp
      |FROM f""".stripMargin

  /** Content-addressed corpus MANIFEST: per-bucket order-independent
    * fingerprints of a url-unique snapshot — the integrity check two
    * clusters (or a cluster and its replica/backup) compare to verify
    * a 10^12-row table replicated byte-exactly WITHOUT moving data:
    * ship the |buckets|-row manifest, not the corpus, and diff.
    *
    * Per row: two independent 64-bit hashes of `url NUL fp`
    * (FNV-1a → splitmix64, second lane offset by the golden ratio —
    * the bloomPositions construction). Per bucket (FNV(url) mod
    * nBuckets — the ExtractJob layout convention): row count + the
    * BIT-XOR of each lane. XOR is commutative/associative, so the
    * fold is partitioning- and order-independent by construction —
    * and it cannot overflow, which matters under ANSI mode where a
    * wrap-around SUM fold would throw. Two independent lanes because
    * a single 64-bit xor can be cancelled by coordinated row pairs;
    * colliding both lanes simultaneously requires breaking the mixer.
    *
    * Scale shape: one per-row kernel projection + ONE partial-agg
    * shuffle on bucket (xor combines map-side); output is
    * nBuckets rows. */
  def manifest(snapshot: DataFrame, nBuckets: Int = 64): DataFrame = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    snapshot.select(col("url").cast("string"), col("fp").cast("string"))
      .as[(String, String)]
      .mapPartitions(_.map { case (url, fp) =>
        val b = java.lang.Long.remainderUnsigned(
          Dedup.hash64(url, 0, url.length), nBuckets).toInt
        val s = url + "\u0000" + fp
        val h = Dedup.hash64(s, 0, s.length)
        (b, Dedup.mix64(h), Dedup.mix64(h + ManifestGold))
      })
      .toDF("bucket", "h1", "h2")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h1)").as("xor1"),
        expr("bit_xor(h2)").as("xor2"))
  }

  private[ops] val ManifestGold = 0xc2b2ae3d27d4eb4fL

  /** DuckDB replica of [[manifest]] over `snapSql` (url, fp rows):
    * HUGEINT FNV+splitmix replay per lane, signed-BIGINT bit_xor. */
  def manifestOracleSql(snapSql: String, nBuckets: Int = 64): String = {
    import SimhashOracle.{mulmod, xor64}
    val M = "18446744073709551616"
    val off = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
    val gold = java.lang.Long.toUnsignedString(ManifestGold)
    val sm1 = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L)
    val sm2 = java.lang.Long.toUnsignedString(0xbf58476d1ce4e5b9L)
    val sm3 = java.lang.Long.toUnsignedString(0x94d049bb133111ebL)
    val fnvStep = mulmod(xor64("h", "c"), "1099511628211")
    def fnv(expr: String) =
      s"""list_reduce(list_prepend(CAST('$off' AS HUGEINT),
         |      list_transform(string_split($expr, ''),
         |        x -> CAST(unicode(x) AS HUGEINT))),
         |    (h, c) -> $fnvStep)""".stripMargin
    val tail =
      s"""rh AS (SELECT
         |  CAST(${fnv("url")} % $nBuckets AS INT) AS bucket,
         |  ${fnv("url || chr(0) || fp")} AS h
         | FROM snap),
         |lanes AS (SELECT bucket, unnest([0, 1]) AS i, h FROM rh),
         |z0 AS (SELECT bucket, i,
         |  (h + i * CAST('$gold' AS HUGEINT) + CAST('$sm1' AS HUGEINT)) % $M AS z
         | FROM lanes),
         |z1 AS (SELECT bucket, i, ${mulmod(xor64("z", s"z // ${1L << 30}"), sm2)} AS z FROM z0),
         |z2 AS (SELECT bucket, i, ${mulmod(xor64("z", s"z // ${1L << 27}"), sm3)} AS z FROM z1),
         |zf AS (SELECT bucket, i,
         |  CAST(CASE WHEN ${xor64("z", s"z // ${1L << 31}")} >= 9223372036854775808
         |       THEN ${xor64("z", s"z // ${1L << 31}")} - $M
         |       ELSE ${xor64("z", s"z // ${1L << 31}")} END AS BIGINT) AS v
         | FROM z2)
         |SELECT bucket,
         |  CAST(count(*) / 2 AS BIGINT) AS n_rows,
         |  bit_xor(v) FILTER (i = 0) AS xor1,
         |  bit_xor(v) FILTER (i = 1) AS xor2
         |FROM zf GROUP BY bucket""".stripMargin
    s"WITH snap AS ($snapSql),\n$tail"
  }

  /** CDC MERGE (Iceberg `MERGE INTO` / Delta upsert semantics over a
    * url-unique snapshot): apply a change batch to the base snapshot
    * and return the new snapshot plus a per-row audit action.
    *
    * Inputs:
    *  - `base`:    (url, warc_ts, fp)      — one row per url, the
    *    current latest-state snapshot ([[collapse]]'s output shape);
    *  - `changes`: (url, warc_ts, op, fp)  — a CDC batch, op IN
    *    ('upsert','delete'); the batch MAY carry several changes per
    *    url (a day's crawl touches hot urls repeatedly).
    *
    * Semantics (all deterministic, all stated in the oracle too):
    *  1. The batch is first collapsed to ONE winning change per url:
    *     max (warc_ts, op, fp) lexicographically — so a same-timestamp
    *     upsert beats a same-timestamp delete ('u' > 'd'), and
    *     same-(ts,op) ties break on fp. Packed-string max, exactly the
    *     [[collapse]] trick (fixed-width 19-digit ts + fixed 6-char op).
    *  2. LATE-ARRIVAL GUARD: a winning change only applies when its
    *     warc_ts >= the base row's warc_ts — a delayed partition of an
    *     old crawl must never regress published state. Equal ts: the
    *     change wins (re-publishing the same fetch is idempotent).
    *  3. Actions: base-only → 'kept'; stale change → 'kept_late';
    *     applied upsert over existing → 'updated'; upsert of an absent
    *     url → 'inserted'; applied delete → row absent from output;
    *     delete of an absent url → no-op (absent).
    *
    * Output: (url, warc_ts, fp, action), url-unique.
    *
    * Scale shape: one partial-aggregated hash shuffle to collapse the
    * batch (all buffers the packed-max — see the [[collapse]] plan
    * note) + one full-outer equi-join on url. On the bucketed-by-
    * url-hash layout ExtractJob writes, BOTH sides are storage-
    * partitioned on the join key, so at 10^12 rows this is the
    * bucket-local merge Iceberg's copy-on-write MERGE performs —
    * only the change batch (small) ever moves. No window over the
    * base table, no driver state. */
  def mergeUpsert(base: DataFrame, changes: DataFrame): DataFrame = {
    val packed = concat(lpad(col("warc_ts").cast("string"), 19, "0"),
      col("op"), coalesce(col("fp"), lit("")))
    val win = changes
      .groupBy(col("url")).agg(max(packed).as("_w"))
      .select(col("url"),
        expr("substr(_w, 1, 19)").cast("long").as("__c_ts"),
        expr("substr(_w, 20, 6)").as("__c_op"),
        // fp was coalesced into the pack; an empty tail means the
        // winning change carried NULL fp (delete rows usually do)
        when(length(expr("substr(_w, 26)")) > 0, expr("substr(_w, 26)"))
          .as("__c_fp"))
    val b = base.select(col("url"), col("warc_ts").as("__b_ts"),
      col("fp").as("__b_fp"), lit(true).as("__in_base"))
    b.join(win, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("__in_base").isNull,
          when(col("__c_op") === "upsert", "inserted"))       // delete-of-absent → NULL
          .when(col("__c_op").isNull, "kept")                 // base-only
          .when(col("__c_ts") < col("__b_ts"), "kept_late")   // stale change
          .when(col("__c_op") === "upsert", "updated")
          .as("action"),                                      // applied delete → NULL
        col("__b_ts"), col("__b_fp"), col("__c_ts"), col("__c_fp"))
      .filter(col("action").isNotNull)
      .select(col("url"),
        when(col("action").isin("inserted", "updated"), col("__c_ts"))
          .otherwise(col("__b_ts")).as("warc_ts"),
        when(col("action").isin("inserted", "updated"), col("__c_fp"))
          .otherwise(col("__b_fp")).as("fp"),
        col("action"))
  }

  /** Deterministic synthetic CDC batch over documents, exercising
    * every [[mergeUpsert]] path against the [[collapse]]d snapshot of
    * [[syntheticFetchLog]] (base warc_ts live around 1.7e9):
    *  - d%3==1 → fresh upsert at ts 19e8+d (applies: 'updated');
    *  - d%3==2 → STALE upsert at ts 1e6+d (ignored: 'kept_late');
    *  - d%5==0 → delete at ts 189e7+d (applies unless outvoted);
    *    for d%15 ∈ {10, 5·(3k+1)} the SAME url also carries the
    *    fresh upsert, whose higher ts wins the batch collapse — a
    *    delete outvoted inside the batch;
    *  - d%7==0 → second upsert at ts 191e7+d (outvotes everything);
    *  - d%11==0 → upsert of a NEW url on new.example ('inserted');
    *  - d%13==0 → delete of an absent ghost.example url (no-op). */
  def syntheticChangeBatch(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val url = concat(lit("https://"), col("source"), lit("/doc"),
      d.cast("string"))
    val up1 = docs.filter(d % 3 === 1).select(url.as("url"),
      (lit(1900000000L) + d).as("warc_ts"), lit("upsert").as("op"),
      md5(concat(col("text"), lit(" v9"))).as("fp"))
    val stale = docs.filter(d % 3 === 2).select(url.as("url"),
      (lit(1000000L) + d).as("warc_ts"), lit("upsert").as("op"),
      md5(concat(col("text"), lit(" old"))).as("fp"))
    val del = docs.filter(d % 5 === 0).select(url.as("url"),
      (lit(1890000000L) + d).as("warc_ts"), lit("delete").as("op"),
      lit(null: String).as("fp"))
    val up2 = docs.filter(d % 7 === 0).select(url.as("url"),
      (lit(1910000000L) + d).as("warc_ts"), lit("upsert").as("op"),
      md5(concat(col("text"), lit(" v10"))).as("fp"))
    val ins = docs.filter(d % 11 === 0).select(
      concat(lit("https://new.example/doc"), d.cast("string")).as("url"),
      (lit(1800000000L) + d).as("warc_ts"), lit("upsert").as("op"),
      md5(concat(col("text"), lit(" new"))).as("fp"))
    val ghost = docs.filter(d % 13 === 0).select(
      concat(lit("https://ghost.example/doc"), d.cast("string")).as("url"),
      (lit(1800000000L) + d).as("warc_ts"), lit("delete").as("op"),
      lit(null: String).as("fp"))
    up1.unionAll(stale).unionAll(del).unionAll(up2).unionAll(ins)
      .unionAll(ghost)
  }

  /** Closed-form SQL for [[syntheticChangeBatch]]. */
  def changeBatchOracleSql: String =
    """SELECT 'https://' || source || '/doc' || CAST(doc_id AS VARCHAR) AS url,
      |  1900000000 + doc_id AS warc_ts, 'upsert' AS op, md5(text || ' v9') AS fp
      | FROM documents WHERE doc_id % 3 = 1
      |UNION ALL
      |SELECT 'https://' || source || '/doc' || CAST(doc_id AS VARCHAR),
      |  1000000 + doc_id, 'upsert', md5(text || ' old')
      | FROM documents WHERE doc_id % 3 = 2
      |UNION ALL
      |SELECT 'https://' || source || '/doc' || CAST(doc_id AS VARCHAR),
      |  1890000000 + doc_id, 'delete', NULL
      | FROM documents WHERE doc_id % 5 = 0
      |UNION ALL
      |SELECT 'https://' || source || '/doc' || CAST(doc_id AS VARCHAR),
      |  1910000000 + doc_id, 'upsert', md5(text || ' v10')
      | FROM documents WHERE doc_id % 7 = 0
      |UNION ALL
      |SELECT 'https://new.example/doc' || CAST(doc_id AS VARCHAR),
      |  1800000000 + doc_id, 'upsert', md5(text || ' new')
      | FROM documents WHERE doc_id % 11 = 0
      |UNION ALL
      |SELECT 'https://ghost.example/doc' || CAST(doc_id AS VARCHAR),
      |  1800000000 + doc_id, 'delete', NULL
      | FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** DuckDB replica of [[mergeUpsert]] over `baseSql`/`batchSql`.
    * Independent wording: the batch collapse is a row_number window
    * (ORDER BY warc_ts DESC, op DESC, fp DESC NULLS LAST) instead of
    * the engine's packed-string max — same total order, different
    * machinery — and the merge is a CASE over a FULL OUTER join. */
  def mergeUpsertOracleSql(baseSql: String, batchSql: String): String =
    """WITH base AS (%BASE%), batch AS (%BATCH%),
      |win AS (
      | SELECT url, warc_ts AS c_ts, op AS c_op, fp AS c_fp FROM (
      |  SELECT *, row_number() OVER (PARTITION BY url
      |    ORDER BY warc_ts DESC, op DESC, fp DESC NULLS LAST) AS rn
      |  FROM batch) WHERE rn = 1),
      |merged AS (
      | SELECT coalesce(base.url, win.url) AS url,
      |  base.warc_ts AS b_ts, base.fp AS b_fp, win.c_ts, win.c_op, win.c_fp,
      |  CASE WHEN base.url IS NULL THEN
      |         CASE WHEN win.c_op = 'upsert' THEN 'inserted' END
      |       WHEN win.c_op IS NULL THEN 'kept'
      |       WHEN win.c_ts < base.warc_ts THEN 'kept_late'
      |       WHEN win.c_op = 'upsert' THEN 'updated'
      |  END AS action
      | FROM base FULL OUTER JOIN win ON base.url = win.url)
      |SELECT url,
      |  CASE WHEN action IN ('inserted','updated') THEN c_ts ELSE b_ts END AS warc_ts,
      |  CASE WHEN action IN ('inserted','updated') THEN c_fp ELSE b_fp END AS fp,
      |  action
      |FROM merged WHERE action IS NOT NULL""".stripMargin
      .replace("%BASE%", baseSql).replace("%BATCH%", batchSql)

  /** DuckDB replica of [[collapse]] over `logSql` — the latest fetch
    * is restated as max(fp) among max-warc_ts rows (join-back
    * formulation) vs the engine's single-pass struct-max: independent
    * wording of the same tie-break. */
  def collapseOracleSql(logSql: String): String =
    """WITH log AS (%LOG%),
      |g AS (SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
      |  CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
      |  min(warc_ts) AS first_ts, max(warc_ts) AS last_ts
      | FROM log GROUP BY url),
      |m AS (SELECT url, max(warc_ts) AS mt FROM log GROUP BY url),
      |l AS (SELECT log.url, max(log.fp) AS latest_fp FROM log
      |      JOIN m ON log.url = m.url AND log.warc_ts = m.mt
      |      GROUP BY log.url)
      |SELECT g.url, g.n_fetches, g.n_versions, g.first_ts, g.last_ts,
      |  l.latest_fp, g.n_versions > 1 AS churn
      |FROM g JOIN l ON g.url = l.url""".stripMargin
      .replace("%LOG%", logSql)

  /** Freshness-weighted crawl-budget apportionment: each url's token
    * mass decays DYADICALLY with the age of its latest fetch —
    * weight = tokens · 2^(K − min(age_bucket, K)) with age_bucket =
    * (corpus_max_ts − last_ts) div `halfLifeSecs` — and the integer
    * crawl budget is Hamilton-apportioned over hosts by the decayed
    * mass ([[Sampling.hamilton]]: sum(quota) == budget exactly). The
    * recency re-weighting a recurring crawl runs so fresh hosts take
    * budget from stale ones; powers of two keep every weight an
    * EXACT long (no exp()/IEEE in the mass), with decay floored at
    * 2^0 beyond K buckets so stale mass stays visible.
    *
    * Scale shape: one url collapse (partial-agg shuffle on url — the
    * natural bucket key, shuffle-free on a bucketed layout), one
    * equi-join back to the doc token projection, one host rollup;
    * corpus_max_ts and the Hamilton W/R are 1-row driver SCALARS.
    * Output per host: raw vs decayed mass, url count, and the exact
    * quota split (base + largest-remainder extra). */
  def freshnessBudget(docs: DataFrame, budget: Long,
                      halfLifeSecs: Long = 43200L,
                      maxBuckets: Int = 8): DataFrame = {
    val log = syntheticFetchLog(docs)
    val snap = collapse(log).select(col("url"), col("last_ts"))
    val parsed = snap.select(
      regexp_extract(col("url"), "https://([^/]+)/", 1).as("host"),
      regexp_extract(col("url"), "/doc(\\d+)$", 1).cast("long").as("doc_id"),
      col("last_ts"))
    val maxTs = parsed.agg(max(col("last_ts"))).collect()(0).getLong(0)
    val toks = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("toks"))
    val hostW = parsed.join(toks, "doc_id")
      .select(col("host"), col("toks"),
        expr(s"least((${maxTs}L - last_ts) div ${halfLifeSecs}L, " +
          s"${maxBuckets}L)").as("bucket"))
      .groupBy(col("host"))
      .agg(sum(expr(s"toks * shiftleft(1L, " +
          s"cast($maxBuckets - bucket AS int))")).as("tokens_w"),
        sum(col("toks")).as("raw_tokens"),
        count(lit(1)).as("n_urls"))
    Sampling.hamilton(hostW.select(col("host"), col("tokens_w")), budget)
      .join(hostW.select(col("host"), col("raw_tokens"), col("n_urls")),
        "host")
      .select(col("host"), col("n_urls"), col("raw_tokens"),
        col("tokens_w"), col("base"), col("extra"), col("quota"))
  }

  /** DuckDB replica of [[freshnessBudget]] — the fetch-log closed
    * form, the url collapse, the identical dyadic decay (`<<` on
    * exact longs), and the rank formulation of largest-remainder
    * (crawlBudgetOracleSql's independent wording). */
  def freshnessBudgetOracleSql(budget: Long, halfLifeSecs: Long = 43200L,
                               maxBuckets: Int = 8): String =
    s"""WITH lg AS (${fetchLogOracleSql}),
       |snap AS (SELECT url, max(warc_ts) AS last_ts FROM lg GROUP BY url),
       |p AS (SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
       |  CAST(regexp_extract(url, '/doc(\\d+)$$', 1) AS BIGINT) AS doc_id,
       |  last_ts FROM snap),
       |mx AS (SELECT max(last_ts) AS m FROM p),
       |t AS (SELECT doc_id, CAST(len(list_filter(
       |    string_split_regex(lower(text), '[\\s\\x0b]+'),
       |    x -> len(x) > 0)) AS BIGINT) AS toks FROM documents),
       |wgt AS (SELECT p.host, t.toks,
       |  least(((SELECT m FROM mx) - p.last_ts) // $halfLifeSecs,
       |    $maxBuckets) AS bucket
       |  FROM p JOIN t USING (doc_id)),
       |w AS (SELECT host,
       |  CAST(sum(toks * (1 << ($maxBuckets - bucket))) AS BIGINT)
       |    AS tokens_w,
       |  CAST(sum(toks) AS BIGINT) AS raw_tokens,
       |  CAST(count(*) AS BIGINT) AS n_urls
       |  FROM wgt GROUP BY host),
       |tw AS (SELECT CAST(sum(tokens_w) AS BIGINT) AS totw FROM w),
       |b AS (SELECT host, tokens_w,
       |  tokens_w * $budget // (SELECT totw FROM tw) AS base,
       |  (tokens_w * $budget) % (SELECT totw FROM tw) AS rem
       | FROM w),
       |r AS (SELECT $budget - CAST(sum(base) AS BIGINT) AS r FROM b),
       |rk AS (SELECT host, row_number()
       |    OVER (ORDER BY rem DESC, host ASC) AS rk FROM b)
       |SELECT b.host, w.n_urls, w.raw_tokens, b.tokens_w,
       |  CAST(b.base AS BIGINT) AS base,
       |  CAST(CASE WHEN rk.rk <= (SELECT r FROM r) THEN 1 ELSE 0 END
       |       AS BIGINT) AS extra,
       |  CAST(b.base + CASE WHEN rk.rk <= (SELECT r FROM r)
       |       THEN 1 ELSE 0 END AS BIGINT) AS quota
       |FROM b JOIN rk ON b.host = rk.host JOIN w ON w.host = b.host""".stripMargin
}
