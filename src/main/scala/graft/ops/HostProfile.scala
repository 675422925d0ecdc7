package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-level (domain-level) corpus profiling — the reputation rollup
  * large-scale web pipelines run BEFORE per-page filtering (C4 and
  * RefinedWeb both gate on domain lists; a host whose pages are all
  * boilerplate or near-empty is cheaper to drop wholesale than to
  * score page by page).
  *
  * All signals are exact integers plus a single final IEEE division
  * (mean tokens/page), and the block flags compare via integer
  * cross-multiplication — no float thresholds — so the DuckDB oracle
  * replicates the rollup bit-exactly.
  */
object HostProfile {

  /** Per-host rollup over a (url, text) page table:
    *
    *  - `n_pages`, `n_tokens`, `n_chars`: exact counts/sums;
    *  - `n_distinct_texts`: distinct md5(text) — at corpus scale you
    *    distinct a 16-byte fingerprint, never the text itself;
    *  - `dup_pages` = n_pages − n_distinct_texts (within-host exact
    *    duplication, the parked/templated-domain signal);
    *  - `mean_tokens` = n_tokens / n_pages (one IEEE division of two
    *    exact integers — bit-reproducible across engines);
    *  - `high_dup`: dup_pages·5 > n_pages (dup rate > 20%);
    *  - `thin_content`: n_chars < n_pages·100 (mean < 100 chars);
    *  - `blocked` = high_dup OR thin_content.
    *
    * Scale shape (10^12 pages): one pass computes per-page scalars
    * (host, token count, length, fingerprint) inside whole-stage
    * codegen, then a single partial-aggregated shuffle on host. The
    * distinct count rides the same exchange as a two-level aggregate
    * (Spark plans count(distinct) via expand + re-aggregate on the
    * SAME host key — no extra wide shuffle). Host cardinality is
    * ~10^7-10^8 in a real crawl: tiny next to the page table, no skew
    * worry beyond the few mega-hosts AQE already splits. */
  def hostProfile(pages: DataFrame): DataFrame = {
    val perPage = pages.select(
      regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"),
      length(col("text")).cast("long").as("n_ch"),
      md5(col("text")).as("fp"))
    perPage.groupBy(col("host")).agg(
      count(lit(1)).as("n_pages"),
      sum(col("n_toks")).as("n_tokens"),
      sum(col("n_ch")).as("n_chars"),
      countDistinct(col("fp")).as("n_distinct_texts"))
      .select(col("host"), col("n_pages"), col("n_tokens"), col("n_chars"),
        col("n_distinct_texts"),
        (col("n_pages") - col("n_distinct_texts")).as("dup_pages"),
        (col("n_tokens").cast("double") / col("n_pages").cast("double"))
          .as("mean_tokens"),
        ((col("n_pages") - col("n_distinct_texts")) * 5 > col("n_pages"))
          .as("high_dup"),
        (col("n_chars") < col("n_pages") * 100).as("thin_content"))
      .withColumn("blocked", col("high_dup") || col("thin_content"))
  }

  /** Deterministic host-differentiated page corpus over `documents`:
    * doc d lives at https://host{d%13}.example/doc{d}; host 3 serves
    * thin content (first 40 chars — an affiliate/stub farm), host 7 is
    * a parked/templated domain (every page the same banner text), all
    * other hosts serve the document text unchanged. ASCII-only corpus,
    * so substr/length agree between engines. Pure column expressions —
    * stays in whole-stage codegen. */
  def syntheticHostPages(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val h = d % 13
    docs.select(
      concat(lit("https://host"), h.cast("string"), lit(".example/doc"),
        d.cast("string")).as("url"),
      when(h === 3, substring(col("text"), 1, 40))
        .when(h === 7, lit("subscribe to our newsletter now"))
        .otherwise(col("text")).as("text"))
  }

  /** Closed-form DuckDB replica of
    * hostProfile(syntheticHostPages(documents)). */
  def hostProfileOracleSql: String =
    """WITH p AS (
      | SELECT 'host' || CAST(doc_id % 13 AS VARCHAR) || '.example' AS host,
      |  CASE WHEN doc_id % 13 = 3 THEN substr(text, 1, 40)
      |       WHEN doc_id % 13 = 7 THEN 'subscribe to our newsletter now'
      |       ELSE text END AS text
      | FROM documents),
      |s AS (
      | SELECT host,
      |  CAST(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'),
      |    x -> len(x) > 0)) AS BIGINT) AS n_toks,
      |  CAST(length(text) AS BIGINT) AS n_ch,
      |  md5(text) AS fp
      | FROM p),
      |g AS (
      | SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_ch) AS BIGINT) AS n_chars,
      |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts
      | FROM s GROUP BY host)
      |SELECT host, n_pages, n_tokens, n_chars, n_distinct_texts,
      | n_pages - n_distinct_texts AS dup_pages,
      | CAST(n_tokens AS DOUBLE) / CAST(n_pages AS DOUBLE) AS mean_tokens,
      | (n_pages - n_distinct_texts) * 5 > n_pages AS high_dup,
      | n_chars < n_pages * 100 AS thin_content,
      | ((n_pages - n_distinct_texts) * 5 > n_pages
      |   OR n_chars < n_pages * 100) AS blocked
      |FROM g""".stripMargin

  /** Crawl-concentration KPI: the Gini coefficient of per-host token
    * mass — the one-number answer to "is this corpus a few mega-hosts
    * or a diverse crawl?" (0 = perfectly even, (n−1)/n = one host owns
    * everything). Computed from the rank-weighted identity
    *
    *   G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)
    *
    * with x₍ᵢ₎ ascending (ties ordered by host — the i·x sum is
    * invariant under tie order, the fixed order just makes the
    * intermediate rows deterministic). Numerator and denominator are
    * EXACT longs; the division is the single IEEE op, so DuckDB
    * matches bit-for-bit.
    *
    * Scale shape: the corpus collapses in one partial-agg shuffle to
    * |hosts| rows; the global ascending rank is
    * [[GlobalRank.positions]] + 1, NEVER a partitionless window:
    * |hosts| is 10⁸ at web scale. The final aggregate is one row.
    * Long arithmetic holds to Σ i·x ≲ 9·10¹⁸
    * (e.g. 10⁸ hosts × 10⁹ avg tokens needs the documented decimal
    * escape hatch). */
  def hostGini(docs: DataFrame, nPartitions: Int = 32): DataFrame = {
    val w = docs.groupBy(col("source").as("host"))
      .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("x"))
    val ranked = GlobalRank.positions(w, Seq(col("x"), col("host")), nPartitions)
      .select(col("x"), (col("pos") + 1L).as("rank"))
    ranked.agg(
        count(lit(1)).as("n_hosts"),
        sum(col("x")).as("total_tokens"),
        sum(col("x") * col("rank")).as("rank_weighted"))
      .select(col("n_hosts"), col("total_tokens"), col("rank_weighted"),
        ((lit(2L) * col("rank_weighted") -
          (col("n_hosts") + 1L) * col("total_tokens")).cast("double") /
         (col("n_hosts") * col("total_tokens")).cast("double")).as("gini"))
  }

  /** DuckDB replica of [[hostGini]] — same rollup, rank via window
    * (fine in the oracle arm), same exact-long identity and single
    * division. */
  def hostGiniOracleSql(table: String = "documents"): String =
    s"""WITH w AS (SELECT source AS host,
       |  CAST(sum(len(list_filter(
       |    string_split_regex(lower(text), '[\\s\\x0b]+'),
       |    x -> len(x) > 0))) AS BIGINT) AS x
       | FROM $table GROUP BY source),
       |r AS (SELECT host, x,
       |  CAST(row_number() OVER (ORDER BY x, host) AS BIGINT) AS rank
       | FROM w)
       |SELECT CAST(count(*) AS BIGINT) AS n_hosts,
       |  CAST(sum(x) AS BIGINT) AS total_tokens,
       |  CAST(sum(x * rank) AS BIGINT) AS rank_weighted,
       |  CAST(2 * sum(x * rank) - (count(*) + 1) * sum(x) AS DOUBLE)
       |    / CAST(count(*) * sum(x) AS DOUBLE) AS gini
       |FROM r""".stripMargin
}
