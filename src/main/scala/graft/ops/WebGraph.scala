package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Web-graph analytics: anchor/out-link extraction from raw HTML and
  * link-graph algorithms (degrees, PageRank) over the extracted edge
  * table — the post-extraction layer a crawl corpus pipeline runs to
  * rank hosts/pages (crawl prioritization, quality priors for training
  * data selection à la Common Crawl's host-level ranks).
  *
  * Scale notes (100 TB corpus, ~10^11 edges):
  *  - anchor extraction is per-row kernel work over the pages scan —
  *    embarrassingly parallel, no shuffle;
  *  - the edge table is the unit of reuse: write it bucketed by `src`
  *    so degree aggregation is shuffle-free and each PageRank
  *    iteration's src-side join is co-located; the per-iteration
  *    shuffle on `dst` (contribution aggregation) is irreducible and
  *    is THE cost — partial aggregation (map-side combine on dst)
  *    keeps it proportional to distinct dst per partition;
  *  - ranks are Long micro-units (integer arithmetic end to end), so
  *    per-node sums are order-independent — results are bit-identical
  *    across any partitioning/parallelism, and the DuckDB oracle can
  *    replicate them exactly (same trick as Multimodal's dyadic sums);
  *  - iterative lineage MUST be truncated per round (localCheckpoint)
  *    — persist() leaves the logical plan doubling per iteration.
  */
object WebGraph {

  /** One extracted anchor: page url, resolved target url, the anchor's
    * visible text (tags stripped, whitespace collapsed), and whether
    * the href was relative before resolution. */
  final case class AnchorEdge(src: String, dst: String, anchor: String,
                              is_rel: Boolean)

  // ------------------------------------------------------------------
  // Anchor scanner (per-row kernel)
  // ------------------------------------------------------------------

  /** Extract all `<a href=...>text</a>` anchors from one HTML page.
    *
    * Robustness contract (crawl HTML, not valid XHTML):
    *  - tag name matched case-insensitively (`<a`/`<A`) and only when
    *    followed by a boundary (whitespace or `>`), so `<abbr>` and
    *    `<area>` never match;
    *  - href value may be double-quoted, single-quoted, or unquoted
    *    (terminated by whitespace/`>`);
    *  - `<a>` without an href (named anchors) yields no edge;
    *  - anchor text is the inner content up to the first
    *    case-insensitive `</a`, with nested tags stripped and runs of
    *    whitespace collapsed to single spaces;
    *  - unterminated markup at EOF is dropped, never thrown on.
    *
    * Resolution: absolute (contains "://") kept as-is; protocol-relative
    * `//host/p` gets the base's scheme; root-relative `/p` gets the
    * base's scheme+host; other relative forms resolve against the
    * base's directory. Fragment-only and empty hrefs yield no edge. */
  def anchors(base: String, html: String): Seq[AnchorEdge] = {
    val out = new ArrayBuffer[AnchorEdge]()
    val n = html.length
    var i = 0
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0 || lt + 1 >= n) { i = n }
      else {
        val c1 = html.charAt(lt + 1)
        val isA = (c1 == 'a' || c1 == 'A') &&
          (lt + 2 >= n || isBoundary(html.charAt(lt + 2)))
        if (!isA) { i = lt + 1 }
        else {
          val gt = html.indexOf('>', lt + 2)
          if (gt < 0) { i = n } // unterminated open tag at EOF
          else {
            val href = findHref(html, lt + 2, gt)
            val close = indexOfCloseA(html, gt + 1)
            val end = if (close < 0) n else close
            if (href != null && href.nonEmpty && href.charAt(0) != '#') {
              val text = innerText(html, gt + 1, end)
              val isRel = !href.contains("://")
              out += AnchorEdge(base, resolve(base, href), text, isRel)
            }
            // resume after </a> (or at the unterminated tail's end)
            i = if (close < 0) n
                else html.indexOf('>', close) match {
                  case -1 => n
                  case g  => g + 1
                }
          }
        }
      }
    }
    out.toSeq
  }

  private def isBoundary(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '>' || c == '/'

  /** Find the href attribute value inside `[from, to)` (the attribute
    * region of an open tag); null when absent. */
  private def findHref(html: String, from: Int, to: Int): String =
    attrValue(html, from, to, "href")

  /** Generalized attribute-value scan inside `[from, to)` (an open
    * tag's attribute region): `name` matched case-insensitively at an
    * attribute boundary; the value may be double-quoted, single-quoted
    * or unquoted (terminated by whitespace / region end); null when
    * the attribute is absent. */
  private[ops] def attrValue(html: String, from: Int, to: Int,
                             name: String): String = {
    val n = name.length
    var i = from
    while (i + n <= to) {
      var k = 0
      while (k < n && (html.charAt(i + k) | 0x20) == name.charAt(k)) k += 1
      if (k == n && (i == from || isAttrBoundary(html.charAt(i - 1)))) {
        var j = i + n
        while (j < to && isWs(html.charAt(j))) j += 1
        if (j < to && html.charAt(j) == '=') {
          j += 1
          while (j < to && isWs(html.charAt(j))) j += 1
          if (j >= to) return null
          val q = html.charAt(j)
          if (q == '"' || q == '\'') {
            val e = html.indexOf(q, j + 1)
            return if (e < 0 || e > to) html.substring(j + 1, to)
                   else html.substring(j + 1, e)
          } else {
            var e = j
            while (e < to && !isWs(html.charAt(e))) e += 1
            return html.substring(j, e)
          }
        }
      }
      i += 1
    }
    null
  }

  private[ops] def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  private def isAttrBoundary(c: Char): Boolean = isWs(c)

  /** First case-insensitive `</a` at or after `from`, with a boundary
    * after the name (so `</abbr>` never matches); -1 when absent. */
  private def indexOfCloseA(html: String, from: Int): Int = {
    var i = from
    val n = html.length
    while (i + 2 < n) {
      if (html.charAt(i) == '<' && html.charAt(i + 1) == '/' &&
          (html.charAt(i + 2) | 0x20) == 'a' &&
          (i + 3 >= n || isBoundary(html.charAt(i + 3))))
        return i
      i += 1
    }
    -1
  }

  /** Inner text of `[from, to)`: nested tags dropped, whitespace runs
    * collapsed to one space, trimmed, character entities decoded
    * (named: amp/lt/gt/quot/apos + nbsp-as-whitespace; numeric:
    * decimal and hex, incl. supplementary planes via surrogate pairs).
    * A decoded '<' is literal text, never re-parsed as markup; an
    * unrecognized or unterminated entity stays verbatim (crawl HTML is
    * full of bare ampersands). */
  private[ops] def innerText(html: String, from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    var inTag = false
    var pendingWs = false
    def emit(s: String): Unit = {
      if (pendingWs) { sb.append(' '); pendingWs = false }
      sb.append(s)
    }
    while (i < to) {
      val c = html.charAt(i)
      if (inTag) { if (c == '>') inTag = false; i += 1 }
      else if (c == '<') { inTag = true; i += 1 }
      else if (isWs(c)) { if (sb.length > 0) pendingWs = true; i += 1 }
      else if (c == '&') {
        val semi = {
          var j = i + 1
          val lim = math.min(to, i + 11)
          while (j < lim && html.charAt(j) != ';') j += 1
          if (j < lim && j > i + 1) j else -1
        }
        val dec = if (semi < 0) null
                  else decodeEntity(html.substring(i + 1, semi))
        if (dec == null) { emit("&"); i += 1 }
        else {
          if (dec == " ") { if (sb.length > 0) pendingWs = true }
          else emit(dec)
          i = semi + 1
        }
      } else { emit(String.valueOf(c)); i += 1 }
    }
    sb.toString
  }

  /** Decode one entity NAME (no '&'/';'): the five XML-named entities
    * + nbsp, and numeric forms; null when unrecognized/invalid. */
  private[ops] def decodeEntity(name: String): String = name match {
    case "amp"  => "&"
    case "lt"   => "<"
    case "gt"   => ">"
    case "quot" => "\""
    case "apos" => "'"
    case "nbsp" => " "
    case _ if name.length > 1 && name.charAt(0) == '#' =>
      try {
        val cp =
          if (name.charAt(1) == 'x' || name.charAt(1) == 'X')
            Integer.parseInt(name.substring(2), 16)
          else Integer.parseInt(name.substring(1), 10)
        if (cp <= 0 || cp > 0x10ffff ||
            (cp >= 0xd800 && cp <= 0xdfff)) null
        else new String(Character.toChars(cp))
      } catch { case _: NumberFormatException => null }
    case _ => null
  }

  /** Resolve `href` against `base` (scheme://host/path...). */
  private[ops] def resolve(base: String, href: String): String = {
    if (href.contains("://")) return href
    val schemeEnd = base.indexOf("://")
    if (schemeEnd < 0) return href // base not absolute: keep as-is
    val scheme = base.substring(0, schemeEnd)
    if (href.startsWith("//")) return scheme + ":" + href
    val hostEnd0 = base.indexOf('/', schemeEnd + 3)
    val hostEnd = if (hostEnd0 < 0) base.length else hostEnd0
    if (href.startsWith("/")) return base.substring(0, hostEnd) + href
    // path-relative: against the base's directory
    val lastSlash = base.lastIndexOf('/')
    val dirEnd = if (lastSlash > hostEnd) lastSlash else hostEnd
    base.substring(0, dirEnd) + "/" + href
  }

  // ------------------------------------------------------------------
  // URL canonicalization (crawl-frontier dedup primitive)
  // ------------------------------------------------------------------

  /** Canonicalize an absolute URL. Rule set (each documented because
    * the oracle must predict the exact output):
    *  1. scheme and authority lowercased (path/query case preserved);
    *  2. default ports stripped (http:80, https:443 — others kept);
    *  3. fragment removed;
    *  4. dot segments resolved per RFC 3986 §5.2.4 ("." dropped, ".."
    *     pops, never past the root); consecutive path slashes collapse
    *     (crawl-canonicalizer choice, stricter than the RFC);
    *  5. empty path becomes "/";
    *  6. a trailing bare "?" (empty query) is dropped.
    * Non-absolute inputs (no "://") are returned untouched — resolve
    * them against a base with [[anchors]]' machinery first. */
  def normalizeUrl(url: String): String = {
    val si = url.indexOf("://")
    if (si < 0) return url
    val scheme = url.substring(0, si).toLowerCase
    val rest = url.substring(si + 3)
    val frag = rest.indexOf('#')
    val noFrag = if (frag < 0) rest else rest.substring(0, frag)
    val slash = noFrag.indexOf('/')
    val qMark = noFrag.indexOf('?')
    val authEnd =
      if (slash >= 0 && (qMark < 0 || slash < qMark)) slash
      else if (qMark >= 0) qMark
      else noFrag.length
    val auth = noFrag.substring(0, authEnd).toLowerCase
    val authNoPort =
      if (scheme == "http" && auth.endsWith(":80")) auth.dropRight(3)
      else if (scheme == "https" && auth.endsWith(":443")) auth.dropRight(4)
      else auth
    val pathAndQuery = noFrag.substring(authEnd)
    val qi = pathAndQuery.indexOf('?')
    val path = if (qi < 0) pathAndQuery else pathAndQuery.substring(0, qi)
    val query = if (qi < 0) "" else pathAndQuery.substring(qi + 1)
    val normPath = if (path.isEmpty) "/" else removeDotSegments(path)
    val q = if (query.isEmpty) "" else "?" + query
    scheme + "://" + authNoPort + normPath + q
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over an absolute path. */
  private def removeDotSegments(path: String): String = {
    val segs = new ArrayBuffer[String]()
    var trailingSlash = path.endsWith("/")
    var i = 1 // path starts with '/'
    val n = path.length
    while (i <= n) {
      val next = path.indexOf('/', i)
      val end = if (next < 0) n else next
      val seg = path.substring(i, end)
      seg match {
        case "." => trailingSlash = true
        case ".." =>
          trailingSlash = true
          if (segs.nonEmpty) segs.remove(segs.length - 1)
        case "" => // consecutive slashes collapse via trailingSlash
        case s =>
          segs += s
          trailingSlash = path.startsWith("/", end)
      }
      i = end + 1
    }
    if (segs.isEmpty) "/"
    else "/" + segs.mkString("/") + (if (trailingSlash) "/" else "")
  }

  /** (doc_id, url) → (doc_id, url_raw, url_norm): per-row kernel map,
    * no shuffle — at crawl scale this runs inside the frontier scan
    * and feeds exact dedup / Crawl.delta on the canonical key. */
  def normalizeUrls(urls: DataFrame): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    urls.select(col("doc_id").cast("long"), col("url").cast("string"))
      .as[(Long, String)]
      .map { case (id, u) => (id, u, normalizeUrl(u)) }
      .toDF("doc_id", "url_raw", "url_norm")
  }

  /** Deterministic messy-URL corpus over documents: variant v = d%6
    * applies one canonicalization hazard (case, default port, dot
    * segments, fragment, bare query); every variant canonicalizes to
    * the plain form, which the oracle states in closed form. */
  def messyUrls(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val host = concat(lit("host"), (d % 13).cast("string"), lit(".example"))
    val hostUp = concat(lit("HOST"), (d % 13).cast("string"), lit(".Example"))
    val doc = concat(lit("/doc"), d.cast("string"))
    val raw = when(d % 6 === 0, concat(lit("https://"), host, doc))
      .when(d % 6 === 1, concat(lit("HTTPS://"), hostUp, doc))
      .when(d % 6 === 2, concat(lit("https://"), host, lit(":443"), doc))
      .when(d % 6 === 3, concat(lit("https://"), host, lit("/a/.."), doc))
      .when(d % 6 === 4, concat(lit("https://"), host, doc, lit("#sec1")))
      .otherwise(concat(lit("https://"), host, doc, lit("?")))
    docs.select(d.as("doc_id"), raw.as("url"))
  }

  /** Deterministic param-bearing url corpus, doc_id % 5 variants:
    * id+utm_source / utm_campaign+gclid / page / fbclid+id / none. */
  private[graft] def paramUrls(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val base = concat(lit("https://host"), (d % 13).cast("string"),
      lit(".example/doc"), d.cast("string"))
    docs.select(d.as("doc_id"),
      when(d % 5 === 0, concat(base, lit("?id="), d.cast("string"),
          lit("&utm_source=news")))
        .when(d % 5 === 1, concat(base,
          lit("?utm_campaign=spring&gclid=g"), d.cast("string")))
        .when(d % 5 === 2, concat(base, lit("?page=2")))
        .when(d % 5 === 3, concat(base, lit("?fbclid=f"), d.cast("string"),
          lit("&id="), d.cast("string")))
        .otherwise(base).as("url"))
  }

  /** Query-parameter census — the crawl-frontier canonicalization
    * planning table: per parameter NAME, how many urls carry it, how
    * many DISTINCT values it takes (1 distinct value over many urls =
    * a constant decoration; distinct-per-url = an identifier), and
    * whether it is a known tracking parameter (utm_*, gclid, fbclid —
    * the strip list). Real query-string parsing with built-ins
    * (regexp_extract + split + explode), one partial-agg shuffle on
    * the param name. */
  def urlParamCensus(urls: DataFrame): DataFrame = {
    val qs = regexp_extract(col("url"), "\\?(.*)$", 1)
    urls.select(explode(split(qs, "&")).as("kv"))
      .filter(col("kv") =!= "")
      .select(split(col("kv"), "=").getItem(0).as("param"),
        split(col("kv"), "=").getItem(1).as("value"))
      .groupBy(col("param"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("value")).as("n_distinct_values"))
      .select(col("param"), col("n_urls"), col("n_distinct_values"),
        (col("param").startsWith("utm_") ||
          col("param").isin("gclid", "fbclid")).cast("long")
          .as("is_tracking"))
  }

  /** Closed-form oracle for urlParamCensus(paramUrls(documents)) —
    * per-param counts derived from the variant arithmetic, never
    * re-parsed. */
  def urlParamsOracleSql: String =
    """WITH n AS (SELECT
      |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |  CAST(sum(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(sum(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(sum(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
      |  FROM documents)
      |SELECT 'id' AS param, n0 + n3 AS n_urls,
      |  n0 + n3 AS n_distinct_values, CAST(0 AS BIGINT) AS is_tracking FROM n
      |UNION ALL SELECT 'utm_source', n0, CAST(1 AS BIGINT),
      |  CAST(1 AS BIGINT) FROM n
      |UNION ALL SELECT 'utm_campaign', n1, CAST(1 AS BIGINT),
      |  CAST(1 AS BIGINT) FROM n
      |UNION ALL SELECT 'gclid', n1, n1, CAST(1 AS BIGINT) FROM n
      |UNION ALL SELECT 'page', n2, CAST(1 AS BIGINT),
      |  CAST(0 AS BIGINT) FROM n
      |UNION ALL SELECT 'fbclid', n3, n3, CAST(1 AS BIGINT) FROM n""".stripMargin

  /** Closed-form oracle for normalizeUrls(messyUrls(documents)). */
  def messyUrlsOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |  'host' || CAST(doc_id % 13 AS VARCHAR) || '.example' AS host,
      |  'HOST' || CAST(doc_id % 13 AS VARCHAR) || '.Example' AS host_up,
      |  '/doc' || CAST(doc_id AS VARCHAR) AS pth
      | FROM documents)
      |SELECT doc_id,
      | CASE doc_id % 6
      |  WHEN 0 THEN 'https://' || host || pth
      |  WHEN 1 THEN 'HTTPS://' || host_up || pth
      |  WHEN 2 THEN 'https://' || host || ':443' || pth
      |  WHEN 3 THEN 'https://' || host || '/a/..' || pth
      |  WHEN 4 THEN 'https://' || host || pth || '#sec1'
      |  ELSE 'https://' || host || pth || '?' END AS url_raw,
      | 'https://' || host || pth AS url_norm
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // Edge extraction over a pages table
  // ------------------------------------------------------------------

  /** (url, html) pages → (src, dst, anchor, is_rel) edge rows, one per
    * extracted anchor. Pure per-row flatMap over the scan — no shuffle;
    * at corpus scale write the result bucketed by `src` for the graph
    * ops below. */
  def extractAnchors(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("url").cast("string"), col("html").cast("string"))
      .as[(String, String)]
      .flatMap { case (u, h) => anchors(u, h) }
      .toDF()
  }

  // ------------------------------------------------------------------
  // Graph reports
  // ------------------------------------------------------------------

  /** Distinct-edge out/in degree per node (self-loops dropped, like
    * [[pageRankInt]]). One shuffle per side on the group key, then an
    * equi-join on url — all broadcast/bucket-friendly. */
  def degrees(edges: DataFrame): DataFrame = {
    val e = distinctEdges(edges)
    val outd = e.groupBy(col("src").as("url"))
      .agg(count(lit(1)).as("out_deg"))
    val ind = e.groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("in_deg"))
    outd.join(ind, Seq("url"), "full_outer")
      .select(col("url"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** The (src, dst) edge set with self-loops dropped and multi-edges
    * collapsed: the cleanup every rank and degree operator starts from. */
  private[graft] def distinctEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  /** Every url of an edge table, once: the union of srcs and dsts. */
  private[graft] def nodeSet(e: DataFrame): DataFrame =
    e.select(col("src").as("url"))
      .union(e.select(col("dst").as("url"))).distinct()

  /** Out-in degree-assortativity SUFFICIENT STATISTICS over the
    * directed edge set: per edge (u→v), x = out-degree(u), y =
    * in-degree(v); output the exact-long moments (n, Σx, Σy, Σxy,
    * Σx², Σy²) plus the derived integer Pearson pieces
    * cov_n = n·Σxy − Σx·Σy and var*_n = n·Σx² − (Σx)² — NO division,
    * NO sqrt anywhere (r = cov_n / √(varx_n·vary_n) is one downstream
    * float if anyone wants it; shipping the exact integers keeps the
    * row hash-comparable and lets two days' stats merge by adding
    * moments). Negative assortativity is the hub-to-leaf signature
    * crawl frontiers exploit; positive flags link farms linking farms.
    *
    * Scale shape: edge list deduped once and localCheckpoint'd (ids
    * only — the three consumers would otherwise re-parse the corpus),
    * two partial-agg degree rollups, two equi-joins back (degree
    * tables ≪ edges; AQE broadcasts them), ONE 1-row aggregate.
    * Long moments are safe to ~10^9 edges with degrees ≤ 10^4;
    * beyond that the same query runs on DECIMAL(38,0) unchanged. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = distinctEdges(edges).localCheckpoint(false)
    val outd = e.groupBy(col("src")).agg(count(lit(1)).as("x"))
    val ind = e.groupBy(col("dst")).agg(count(lit(1)).as("y"))
    e.join(outd, Seq("src")).join(ind, Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
      .select(col("n_edges"), col("sum_x"), col("sum_y"), col("sum_xy"),
        col("sum_x2"), col("sum_y2"),
        (col("n_edges") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .as("cov_n"),
        (col("n_edges") * col("sum_x2") - col("sum_x") * col("sum_x"))
          .as("varx_n"),
        (col("n_edges") * col("sum_y2") - col("sum_y") * col("sum_y"))
          .as("vary_n"))
  }

  /** DuckDB replica of [[assortativity]] over `edgesSql` — same dedup,
    * degree rollups, edge-join, and integer moment algebra. */
  def assortativityOracleSql(edgesSql: String): String =
    """WITH raw_e AS (%EDGES%),
      |e AS (SELECT DISTINCT src, dst FROM raw_e WHERE src <> dst),
      |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY src),
      |ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY dst),
      |j AS (SELECT o.x, i.y
      |      FROM e JOIN outd o USING (src) JOIN ind i USING (dst)),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |  CAST(sum(x * x) AS BIGINT) AS sum_x2,
      |  CAST(sum(y * y) AS BIGINT) AS sum_y2 FROM j)
      |SELECT n_edges, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
      |  CAST(n_edges * sum_xy - sum_x * sum_y AS BIGINT) AS cov_n,
      |  CAST(n_edges * sum_x2 - sum_x * sum_x AS BIGINT) AS varx_n,
      |  CAST(n_edges * sum_y2 - sum_y * sum_y AS BIGINT) AS vary_n
      |FROM s""".stripMargin.replace("%EDGES%", edgesSql)

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007) for
    * community detection — the coarser cousin of connected components:
    * labels start as the vertex id; each round every vertex adopts its
    * neighbors' MOST FREQUENT label (tie: lexicographically smallest),
    * all vertices updating simultaneously from the previous round's
    * labels. Synchronous + total tie order = fully deterministic (the
    * async variant is run-order dependent and un-oracle-able), at the
    * cost of possible 2-cycles — `rounds` is a fixed hyperparameter,
    * not a convergence loop (so not a [[Fixpoint]] loop). Isolated
    * vertices keep their own label.
    *
    * Scale shape per round: one join of the undirected edge table
    * against the (vertex, label) table + one partial-aggregated count
    * + one per-vertex window argmax — all on the same vertex
    * partitioning; labels localCheckpoint per round (the persist()
    * plan-growth trap). O(rounds) passes, never materializing
    * anything bigger than the edge list. */
  def communities(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val e = distinctEdges(edges)
    // LAZY checkpoints (round 6): fixed round count, no partial
    // action — the whole LPA chain materializes in one job DAG at the
    // caller's action instead of 2 + rounds sequential blocking jobs.
    val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .toDF("v", "nb")
      .localCheckpoint(false)
    val nodes = und.select(col("v").as("url")).distinct()
      .localCheckpoint(false)
    var labels = nodes.select(col("url"), col("url").as("lbl"))
      .localCheckpoint(false)
    val byV = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v"))
      .orderBy(col("c").desc, col("lbl").asc)
    for (_ <- 1 to rounds) {
      val winner = und
        .join(labels.select(col("url").as("nb"), col("lbl")), Seq("nb"))
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byV))
        .filter(col("rn") === 1)
        .select(col("v").as("url"), col("lbl").as("wlbl"))
      labels = labels
        .join(winner, Seq("url"), "left")
        .select(col("url"), coalesce(col("wlbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    labels.toDF("url", "community")
  }

  /** DuckDB replica of [[communities]] — `rounds` UNROLLED as chained
    * CTEs over the closed-form edge list (substitute %EDGES%). */
  def communitiesOracleSql(rounds: Int = 3): String = {
    val head =
      """e0 AS (SELECT DISTINCT src, dst FROM (%EDGES%) WHERE src <> dst),
        |und AS (SELECT DISTINCT v, nb FROM (
        |  SELECT src AS v, dst AS nb FROM e0
        |  UNION ALL SELECT dst, src FROM e0)),
        |nodes AS (SELECT DISTINCT v AS url FROM und),
        |l0 AS (SELECT url, url AS lbl FROM nodes)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         | SELECT und.v, l.lbl, count(*) AS c
         | FROM und JOIN l${i - 1} l ON und.nb = l.url GROUP BY 1, 2),
         |w$i AS (SELECT v, lbl FROM (
         |  SELECT v, lbl, row_number() OVER (PARTITION BY v
         |    ORDER BY c DESC, lbl ASC) AS rn FROM c$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         | SELECT n.url, coalesce(w$i.lbl, p.lbl) AS lbl
         | FROM nodes n
         | LEFT JOIN w$i ON n.url = w$i.v
         | JOIN l${i - 1} p ON n.url = p.url)""".stripMargin
    }.mkString(",\n")
    s"WITH $head,\n$iters\n" +
      s"SELECT url, lbl AS community FROM l$rounds"
  }

  /** Integer PageRank over the (src, dst) edge table.
    *
    * Semantics (fixed-point, replicated bit-exactly by
    * [[pageRankOracleSql]]):
    *  - ranks are Long micro-units at `scale` total initial mass;
    *  - self-loops dropped, multi-edges collapsed (DISTINCT);
    *  - node set = union of srcs and dsts; an edge set with no node
    *    left (none, or self-loops only) is rejected;
    *  - init r0 = scale div n; per iteration each node emits
    *    r div outdeg along every out-edge, and
    *    r' = (15*(scale div n)) div 100 + (85 * sum(in-contribs)) div 100;
    *  - dangling-node mass leaks (not redistributed) — the standard
    *    simplification; documented so both sides agree.
    *
    * Integer division truncates toward zero on both engines for these
    * non-negative operands, and Long sums commute — the result is
    * independent of partitioning, parallelism, and visit order.
    * `scale` must satisfy 85*scale < Long.MaxValue (scale ≤ ~1e17).
    * One global chain of [[rankChains]], which gives the per-round
    * shape. */
  def pageRankInt(edges: DataFrame, iterations: Int,
                  scale: Long = 1000000000000L): DataFrame =
    rankChains(edges, Seq("pr" -> None), iterations, scale)

  /** The integer power iteration behind [[pageRankInt]],
    * [[pageRankSeeded]] and [[spamMass]]. Each chain is an output
    * column and its teleport set: every node (None) or the given seed
    * urls. All chains share one edge cleanup, one node set and one
    * out-degree table; each round is ONE [[rankRound]] for all of them
    * and one checkpoint — several aggregates over one join, LMFAO's
    * layered-aggregate idea. A chain's arithmetic is the one it would
    * do alone, so running chains together changes no integer.
    *
    * A global chain's init and base are literals; only a seeded chain
    * joins a flag column onto the node set (once, before the loop).
    * The node and seed counts are one job. Lazy checkpoints: the round
    * count is fixed (no convergence test, so not a [[Fixpoint]] loop),
    * so every round materializes exactly once inside the caller's
    * action — one job DAG, not `iterations` driver-blocking jobs — and
    * the edge table's exchange is reused across rounds. */
  private[graft] def rankChains(edges: DataFrame,
                                chains: Seq[(String, Option[DataFrame])],
                                iterations: Int, scale: Long): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(scale > 0 && scale <= Long.MaxValue / 85,
      "scale must keep 85*rank within Long")
    val e = distinctEdges(edges).localCheckpoint(false)
    val nodes = chains.foldLeft(nodeSet(e)) {
      case (df, (c, Some(seeds))) =>
        df.join(seeds.select(col("url")).distinct()
          .select(col("url"), lit(true).as(s"seed_$c")), Seq("url"), "left")
      case (df, _) => df
    }.localCheckpoint(false)
    val seeded = chains.collect { case (c, Some(_)) => c }
    val sizes = nodes.agg(count(lit(1)),
      seeded.map(c => count(col(s"seed_$c"))): _*).collect()(0)
    val n = sizes.getLong(0)
    require(n > 0,
      "rankChains: empty edge set (no nodes to rank once self-loops are dropped)")
    // per chain: initial rank and per-round teleport base, over `nodes`
    val teleports = chains.map { case (c, seeds) =>
      if (seeds.isEmpty) {
        val init = scale / n
        (c, lit(init), lit(15L * init / 100L))
      } else {
        val nS = sizes.getLong(1 + seeded.indexOf(c))
        require(nS > 0, "no seed url is present in the edge set's node universe")
        val init = scale / nS
        val isSeed = col(s"seed_$c").isNotNull
        (c, when(isSeed, lit(init)).otherwise(lit(0L)),
          when(isSeed, lit(15L * init / 100L)).otherwise(lit(0L)))
      }
    }
    val outdeg = e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")).localCheckpoint(false)
    val bases = teleports.map { case (c, _, base) => c -> base }
    var ranks = nodes.select(
      col("url") +: teleports.map { case (c, init, _) => init.as(c) }: _*)
    for (_ <- 1 to iterations)
      ranks = rankRound(e, outdeg, nodes, ranks, bases).localCheckpoint(false)
    ranks
  }

  /** One [[rankChains]] round before its checkpoint (exposed so `Perf
    * plans` can audit the per-iteration shape): edges⋈ranks⋈outdeg on
    * src, ONE partial-aggregated shuffle on dst summing every chain's
    * `rank div outdeg`, one left join back to the node set, then per
    * chain r' = base + (85 * Σ contribs) div 100. `bases` pairs each
    * rank column of `ranks` with its teleport base over `nodes`. */
  private[graft] def rankRound(e: DataFrame, outdeg: DataFrame,
                               nodes: DataFrame, ranks: DataFrame,
                               bases: Seq[(String, Column)]): DataFrame = {
    val sums = bases.map { case (c, _) => sum(col(s"c_$c")).as(s"contrib_$c") }
    val contribs = e
      .join(ranks.withColumnRenamed("url", "src"), Seq("src"))
      .join(outdeg, Seq("src"))
      .select(col("dst").as("url") +:
        bases.map { case (c, _) => expr(s"$c div outdeg").as(s"c_$c") }: _*)
      .groupBy(col("url")).agg(sums.head, sums.tail: _*)
    nodes.join(contribs, Seq("url"), "left")
      .select(col("url") +: bases.map { case (c, base) =>
        (base + expr(s"(85 * coalesce(contrib_$c, 0L)) div 100")).as(c) }: _*)
  }

  /** DuckDB replica of [[pageRankInt]] as flat CTE stages (the
    * MinhashOracle pattern — textual nesting explodes, staged CTEs
    * stay linear). `edgesSql` must yield (src, dst). */
  def pageRankOracleSql(edgesSql: String, iterations: Int,
                        scale: Long = 1000000000000L): String = {
    // edgesSql is substituted AFTER stripMargin: its lines may begin
    // with the SQL concat operator `||`, which stripMargin would
    // otherwise truncate to a single `|` (margin eats the first pipe)
    val head =
      s"""WITH raw_e AS (%EDGES%),
         |e AS (SELECT DISTINCT src, dst FROM raw_e WHERE src <> dst),
         |nodes AS (SELECT src AS url FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |       FROM e GROUP BY src),
         |r0 AS (SELECT url, (SELECT CAST($scale // n AS BIGINT) FROM nn) AS pr
         |       FROM nodes)""".stripMargin.replace("%EDGES%", edgesSql)
    val iters = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS url,
         |  CAST(sum(r${i - 1}.pr // od.outdeg) AS BIGINT) AS contrib
         | FROM e JOIN r${i - 1} ON e.src = r${i - 1}.url
         |        JOIN od ON e.src = od.src
         | GROUP BY e.dst),
         |r$i AS (SELECT nodes.url,
         |  CAST((SELECT (15 * ($scale // n)) // 100 FROM nn)
         |   + (85 * coalesce(c$i.contrib, 0)) // 100 AS BIGINT) AS pr
         | FROM nodes LEFT JOIN c$i ON nodes.url = c$i.url)""".stripMargin
    }
    (head +: iters).mkString(",\n") + s"\nSELECT url, pr FROM r$iterations"
  }

  // ------------------------------------------------------------------
  // Seeded PageRank (TrustRank-style) — integer fixed point
  // ------------------------------------------------------------------

  /** Seeded PageRank (the TrustRank family, Gyöngyi et al. VLDB'04):
    * identical recursion to [[pageRankInt]] except the teleport mass
    * lands ONLY on the seed set — trust flows out from hand-picked
    * reputable hosts, so link farms far from any seed decay to ~0
    * instead of collecting the uniform teleport floor. This is the
    * standard spam-demotion complement to the global rank.
    *
    * Semantics (bit-exactly replicated by [[trustRankOracleSql]]):
    *  - edge cleanup and node universe as in [[pageRankInt]];
    *  - seeds = DISTINCT input urls ∩ node universe (absent seeds are
    *    ignored; at least one must survive);
    *  - init r0 = scale div nSeeds on seeds, 0 elsewhere;
    *  - per iteration r' = seedBase + (85 * Σ in-contribs) div 100,
    *    where seedBase = (15*(scale div nSeeds)) div 100 on seeds and
    *    0 elsewhere; contributions are r div outdeg per out-edge;
    *  - dangling mass leaks, exactly as the global kernel.
    *
    * With seeds == the full node universe this reduces term-for-term
    * to [[pageRankInt]] (asserted in WebGraphSpec). All arithmetic is
    * truncating Long division + commutative Long sums → bit-exact at
    * any parallelism. One seeded chain of [[rankChains]]: the
    * [[pageRankInt]] round shape plus one seed-flag join before the
    * loop. */
  def pageRankSeeded(edges: DataFrame, seeds: DataFrame, iterations: Int,
                     scale: Long = 1000000000000L): DataFrame =
    rankChains(edges, Seq("trust" -> Some(seeds)), iterations, scale)

  /** Spam-mass census (Gyöngyi/Garcia-Molina/Pedersen): the share of
    * a page's PageRank that does NOT come with trust — pages whose
    * rank is boosted by link spam score high, trusted-neighborhood
    * pages score ~0. Runs the [[pageRankInt]] global chain and the
    * [[pageRankSeeded]] seed-only chain as two columns of ONE
    * [[rankChains]] pass, aligns their totals exactly, and reports
    * spam_mass_permille = (p·Tt − t·Tp)·1000 div (p·Tt) floored at 0
    * — where p/t are the ranks down-scaled by `div` so every product
    * stays within long (p ≤ scale/div = 10^7, Tt ≤ 10^7, product
    * ≤ 10^14, ·1000 ≤ 10^17). All-integer; the floors are identical
    * both engines.
    *
    * Scale shape: one rank pass for both chains (no join of two rank
    * tables); totals are driver scalars over its checkpointed last
    * round. */
  def spamMass(edges: DataFrame, seeds: DataFrame, iterations: Int = 5,
               div: Long = 100000L): DataFrame = {
    val ranks = rankChains(edges, Seq("pr" -> None, "trust" -> Some(seeds)),
      iterations, 1000000000000L)
      .select(col("url"), col("pr"), col("trust"),
        expr(s"pr div ${div}L").as("p"), expr(s"trust div ${div}L").as("t"))
    val tot = ranks.agg(sum(col("p")), sum(col("t"))).collect()(0)
    val (tp, tt) = (tot.getLong(0), tot.getLong(1))
    ranks.select(col("url"), col("pr"), col("trust"),
      expr(s"CASE WHEN p = 0 OR p * ${tt}L <= t * ${tp}L THEN 0L " +
        s"ELSE (p * ${tt}L - t * ${tp}L) * 1000 div (p * ${tt}L) END")
        .as("spam_mass_permille"))
  }

  /** DuckDB oracle for [[spamMass]] — the two full rank replicas as
    * scoped subqueries plus the identical down-scale/align/permille
    * integer algebra. */
  def spamMassOracleSql(edgesSql: String, seedsSql: String,
                        iterations: Int = 5, div: Long = 100000L): String =
    "WITH prt AS (SELECT * FROM (" +
      pageRankOracleSql(edgesSql, iterations) + ") x),\n" +
      "trt AS (SELECT * FROM (" +
      trustRankOracleSql(edgesSql, seedsSql, iterations) + ") y),\n" +
      s"""j AS (SELECT prt.url, prt.pr, trt.trust,
         |  prt.pr // $div AS p, trt.trust // $div AS t
         |  FROM prt JOIN trt ON prt.url = trt.url),
         |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp,
         |  CAST(sum(t) AS BIGINT) AS tt FROM j)
         |SELECT url, pr, trust,
         |  CAST(CASE WHEN p = 0
         |    OR p * (SELECT tt FROM tot) <= t * (SELECT tp FROM tot) THEN 0
         |   ELSE (p * (SELECT tt FROM tot) - t * (SELECT tp FROM tot)) * 1000
         |     // (p * (SELECT tt FROM tot)) END AS BIGINT)
         |   AS spam_mass_permille
         |FROM j""".stripMargin

  /** DuckDB replica of [[pageRankSeeded]] (staged flat CTEs). `edgesSql`
    * yields (src, dst); `seedsSql` yields (url). */
  def trustRankOracleSql(edgesSql: String, seedsSql: String,
                         iterations: Int,
                         scale: Long = 1000000000000L): String = {
    val head =
      s"""WITH raw_e AS (%EDGES%),
         |e AS (SELECT DISTINCT src, dst FROM raw_e WHERE src <> dst),
         |nodes AS (SELECT src AS url FROM e UNION SELECT dst FROM e),
         |raw_s AS (%SEEDS%),
         |sd AS (SELECT DISTINCT raw_s.url FROM raw_s
         |       JOIN nodes ON raw_s.url = nodes.url),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sd),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |       FROM e GROUP BY src),
         |fl AS (SELECT nodes.url,
         |  CASE WHEN sd.url IS NOT NULL
         |   THEN (SELECT (15 * ($scale // n)) // 100 FROM ns)
         |   ELSE 0 END AS base,
         |  sd.url IS NOT NULL AS is_seed
         | FROM nodes LEFT JOIN sd ON nodes.url = sd.url),
         |r0 AS (SELECT url,
         |  CASE WHEN is_seed THEN (SELECT $scale // n FROM ns)
         |   ELSE 0 END AS trust
         | FROM fl)""".stripMargin
        .replace("%EDGES%", edgesSql).replace("%SEEDS%", seedsSql)
    val iters = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS url,
         |  CAST(sum(r${i - 1}.trust // od.outdeg) AS BIGINT) AS contrib
         | FROM e JOIN r${i - 1} ON e.src = r${i - 1}.url
         |        JOIN od ON e.src = od.src
         | GROUP BY e.dst),
         |r$i AS (SELECT fl.url,
         |  CAST(fl.base + (85 * coalesce(c$i.contrib, 0)) // 100
         |   AS BIGINT) AS trust
         | FROM fl LEFT JOIN c$i ON fl.url = c$i.url)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT url, trust FROM r$iterations"
  }

  /** Deterministic seed set over the synthetic web: every doc with
    * doc_id % mod == 0 (its canonical url). The driver's TrustRank row
    * seeds on these; [[syntheticSeedsSql]] states the same set. */
  def syntheticSeeds(docs: DataFrame, mod: Long): DataFrame = {
    val d = col("doc_id")
    docs.filter(d % mod === 0)
      .select(concat(lit("https://host"), (d % 13).cast("string"),
        lit(".example/doc"), d.cast("string")).as("url"))
  }

  /** Closed-form SQL for [[syntheticSeeds]]. */
  def syntheticSeedsSql(mod: Long): String =
    s"""SELECT 'https://host' || CAST(doc_id % 13 AS VARCHAR)
       |  || '.example/doc' || CAST(doc_id AS VARCHAR) AS url
       | FROM documents WHERE doc_id % $mod = 0""".stripMargin

  // ------------------------------------------------------------------
  // Co-citation / bibliographic coupling (Small 1973, Kessler 1963)
  // ------------------------------------------------------------------

  /** Shared pair-mining core: for each group key, emit ordered value
    * pairs and count groups per pair. Groups larger than `maxDegree`
    * are DROPPED ENTIRELY before the pair join — the skew guard that
    * makes this safe at crawl scale: pair fan-out is quadratic in
    * group size, so one 100k-link hub page (or one url cited by every
    * page of a mirror farm) would otherwise emit 5·10^9 rows from a
    * single key. Dropping (rather than sampling) keeps the semantics
    * exact and oracle-stateable: "pairs among keys of degree ≤ cap". */
  private def pairCounts(edges: DataFrame, key: String, value: String,
                         minCount: Long, maxDegree: Long): DataFrame = {
    val e = distinctEdges(edges)
      .select(col(key).as("k"), col(value).as("v"))
    val ok = e.groupBy(col("k")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDegree).select(col("k"))
    val kept = e.join(ok, Seq("k")) // degree cap BEFORE the quadratic join
    kept.as("x").join(kept.as("y"), Seq("k"))
      .filter(col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Co-citation strength (Small 1973): how many distinct pages cite
    * BOTH a and b — the classic "related pages" signal; pages
    * co-cited often are topically close even with no direct link.
    * Output (a, b, cocite) with a < b, cocite ≥ `minCount`; citing
    * pages with out-degree > `maxOutDegree` are excluded (skew guard,
    * see [[pairCounts]]). Self-loops and duplicate edges dropped. */
  def coCitation(edges: DataFrame, minCount: Long = 2,
                 maxOutDegree: Long = 64): DataFrame =
    pairCounts(edges, "src", "dst", minCount, maxOutDegree)
      .withColumnRenamed("n", "cocite")

  /** Bibliographic coupling (Kessler 1963): how many distinct pages
    * a and b BOTH cite — the out-link mirror of co-citation, strong
    * for clustering near-duplicate/boilerplate-heavy sites that link
    * to the same resources. Output (a, b, coupling) with a < b;
    * targets with in-degree > `maxInDegree` are excluded. */
  def bibCoupling(edges: DataFrame, minCount: Long = 2,
                  maxInDegree: Long = 64): DataFrame =
    pairCounts(edges, "dst", "src", minCount, maxInDegree)
      .withColumnRenamed("n", "coupling")

  /** DuckDB replica of [[coCitation]] / [[bibCoupling]] over `edgesSql`
    * (src, dst): same cleanup, cap, ordered-pair count. */
  def pairCountsOracleSql(edgesSql: String, key: String, value: String,
                          outCol: String, minCount: Long,
                          maxDegree: Long): String =
    s"""WITH raw_e AS (%EDGES%),
       |e AS (SELECT DISTINCT $key AS k, $value AS v FROM raw_e
       |      WHERE src <> dst),
       |ok AS (SELECT k FROM e GROUP BY k HAVING count(*) <= $maxDegree),
       |kept AS (SELECT e.k, e.v FROM e JOIN ok ON e.k = ok.k)
       |SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS $outCol
       |FROM kept x JOIN kept y ON x.k = y.k AND x.v < y.v
       |GROUP BY 1, 2 HAVING count(*) >= $minCount""".stripMargin
      .replace("%EDGES%", edgesSql)

  // ------------------------------------------------------------------
  // Weakly connected components of the url link graph
  // ------------------------------------------------------------------

  /** Weakly connected components over the (src, dst) url edge table —
    * the standard crawl-analytics grouping (mirror clusters, walled
    * gardens, the web's bow-tie structure). Every url that appears in
    * any edge (self-loops included) comes back labeled with the
    * LEXICOGRAPHIC MIN url of its component.
    *
    * Implementation: deterministic dictionary encode — dense ids are
    * the urls' [[GlobalRank.positions]] in url order (distributed; a
    * window row_number would single-partition) — then the pinned
    * star-contraction kernel [[Dedup.components]] (O(log n) rounds,
    * per-round localCheckpoint, size-gated driver union-find), then
    * ids map back. Sorted assignment makes the kernel's min-ID label
    * exactly the min-URL label, so output is independent of
    * partitioning and needs no hash replication in the oracle.
    *
    * Scale note: the dictionary encode costs one range exchange over
    * the vertex set (plus a P-row count) + two hash joins over edges —
    * the same shape every production WCC (GraphFrames, GraphX bridge)
    * pays to densify ids; at 10^12 edges you'd bucket both tables by
    * url first. */
  def weaklyConnected(edges: DataFrame, maxIter: Int = 50,
                      driverSolveMaxEdges: Long = 200000L): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    // not pinned again: each use re-streams positions' pinned layout
    val ids = GlobalRank.positions(nodeSet(e), Seq(col("url")),
        spark.sparkContext.defaultParallelism)
      .select(col("url"), col("pos").as("id"))
    val pairs = e
      .join(ids.select(col("url").as("src"), col("id").as("a_id")), Seq("src"))
      .join(ids.select(col("url").as("dst"), col("id").as("b_id")), Seq("dst"))
      .select(col("a_id"), col("b_id"))
    val comp = Dedup.components(pairs, maxIter, driverSolveMaxEdges)
    comp
      .join(ids.select(col("id"), col("url")), Seq("id"))
      .join(ids.select(col("id").as("comp"), col("url").as("comp_url")),
        Seq("comp"))
      .select(col("url"), col("comp_url").as("comp"))
  }

  /** Sparse deterministic block graph over documents: doc d links to
    * doc (d div B)*B + (d*7 + 3) % B inside its own B-doc block. With
    * B = 25 the in-block map x → 7x+3 (mod 25) is an affine
    * permutation (gcd(7,25)=1) of order 4 with one fixed point, so
    * each full block splits into 6 four-cycles + 1 self-loop — 7
    * components per block, non-trivial at every SF. The fixed point's
    * self-loop also pins the "vertex with only a self-loop still gets
    * labeled" contract. [[blockEdgesOracleSql]] states the same edges. */
  def syntheticBlockEdges(docs: DataFrame, block: Int = 25): DataFrame = {
    val d = col("doc_id")
    def urlOf(id: Column): Column =
      concat(lit("https://host"), (id % 13).cast("string"),
        lit(".example/doc"), id.cast("string"))
    val tgt = (d - d % block) + (d * 7 + 3) % block // blockStart + perm(d)
    docs.select(urlOf(d).as("src"), urlOf(tgt).as("dst"))
  }

  /** Closed-form SQL for [[syntheticBlockEdges]]. */
  def blockEdgesOracleSql(block: Int = 25): String =
    s"""SELECT 'https://host' || CAST(doc_id % 13 AS VARCHAR)
       |    || '.example/doc' || CAST(doc_id AS VARCHAR) AS src,
       |  'https://host'
       |    || CAST(((doc_id - doc_id % $block)
       |             + (doc_id * 7 + 3) % $block) % 13 AS VARCHAR)
       |    || '.example/doc'
       |    || CAST((doc_id - doc_id % $block)
       |            + (doc_id * 7 + 3) % $block AS VARCHAR) AS dst
       | FROM documents""".stripMargin

  /** DuckDB replica of [[weaklyConnected]]: recursive min-url
    * reachability over the symmetric closure. `edgesSql` yields
    * (src, dst). */
  def weaklyConnectedOracleSql(edgesSql: String): String =
    """WITH RECURSIVE raw_e AS (%EDGES%),
      |edges AS (SELECT src, dst FROM raw_e
      |          UNION SELECT dst, src FROM raw_e),
      |reach(id, r) AS (
      | SELECT src, src FROM edges
      | UNION
      | SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      |comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
      |SELECT id AS url, rep AS comp FROM comp""".stripMargin
      .replace("%EDGES%", edgesSql)

  // ------------------------------------------------------------------
  // Link reciprocity per source host (link-farm / webspam signal)
  // ------------------------------------------------------------------

  /** Per-source-host link reciprocity: of a host's distinct non-self
    * page-level out-edges, how many are reciprocated (the reversed
    * edge dst→src also exists)? Link farms and mutual-admiration rings
    * show reciprocity far above the organic web's, so this is a
    * classic webspam demotion feature (TrustRank-era link-spam
    * literature). Output per host: n_edges, n_recip, recip_ppm =
    * (n_recip·10^6) div n_edges — integer arithmetic end to end, so
    * the oracle can restate it exactly.
    *
    * Implementation: dedup edges, then ONE self-equi-join on the
    * composite (src, dst) = (dst, src) key (left_semi — only
    * membership matters), then a host rollup. Both join sides shuffle
    * on the same composite key (co-located when the edge table is
    * bucketed on it); counts partial-aggregate below their Exchange.
    * No driver state, no cartesian; hub skew is AQE-splittable
    * because the join key is the full edge, not a single vertex. */
  def reciprocity(edges: DataFrame): DataFrame = {
    // checkpoint the deduped edge set: it feeds BOTH the total rollup
    // and both sides of the semi-join — without the barrier the whole
    // upstream (anchor extraction at corpus scale) runs three times
    val e = distinctEdges(edges).localCheckpoint(false)
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val host = regexp_extract(col("src"), "^https://([^/]+)", 1)
    val tot = e.groupBy(host.as("host"))
      .agg(count(lit(1)).as("n_edges"))
    val rec = recip.groupBy(host.as("host"))
      .agg(count(lit(1)).as("n_recip"))
    tot.join(rec, Seq("host"), "left")
      .select(col("host"), col("n_edges"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        expr("coalesce(n_recip, 0L) * 1000000L div n_edges")
          .as("recip_ppm"))
  }

  /** Deterministic planted link farm: docs 0..ring-1 map to pages on
    * the single host farm.example arranged in a MUTUAL ring — every
    * edge p_d → p_{(d+1) mod ring} exists in both directions. Unioned
    * with the organic synthetic web it gives [[reciprocity]] a
    * positive class: farm.example scores exactly 10^6 ppm while
    * organic hosts sit near zero. [[farmEdgesOracleSql]] states the
    * same edges in closed form. */
  def syntheticFarmEdges(docs: DataFrame, ring: Int = 12): DataFrame = {
    val d = col("doc_id")
    def u(id: Column): Column =
      concat(lit("https://farm.example/p"), id.cast("string"))
    val fwd = docs.filter(d < ring)
      .select(u(d).as("src"), u((d + 1) % ring).as("dst"))
    val bwd = docs.filter(d < ring)
      .select(u((d + 1) % ring).as("src"), u(d).as("dst"))
    fwd.union(bwd)
  }

  /** Closed-form SQL for [[syntheticFarmEdges]]. */
  def farmEdgesOracleSql(ring: Int = 12): String =
    s"""SELECT 'https://farm.example/p' || CAST(doc_id AS VARCHAR) AS src,
       |  'https://farm.example/p' || CAST((doc_id + 1) % $ring AS VARCHAR) AS dst
       | FROM documents WHERE doc_id < $ring
       |UNION ALL
       |SELECT 'https://farm.example/p' || CAST((doc_id + 1) % $ring AS VARCHAR) AS src,
       |  'https://farm.example/p' || CAST(doc_id AS VARCHAR) AS dst
       | FROM documents WHERE doc_id < $ring""".stripMargin

  /** DuckDB replica of [[reciprocity]] over `edgesSql` — INTERSECT
    * formulation of the reciprocated set (vs the engine's semi-join):
    * independent wording of the same set algebra. */
  def reciprocityOracleSql(edgesSql: String): String =
    """WITH raw_e AS (%EDGES%),
      |e AS (SELECT DISTINCT src, dst FROM raw_e WHERE src <> dst),
      |r AS (SELECT src, dst FROM e
      |      INTERSECT SELECT dst, src FROM e),
      |tot AS (SELECT regexp_extract(src, '^https://([^/]+)', 1) AS host,
      |        CAST(count(*) AS BIGINT) AS n_edges FROM e GROUP BY 1),
      |rec AS (SELECT regexp_extract(src, '^https://([^/]+)', 1) AS host,
      |        CAST(count(*) AS BIGINT) AS n_recip FROM r GROUP BY 1)
      |SELECT tot.host, tot.n_edges,
      |  coalesce(rec.n_recip, 0) AS n_recip,
      |  coalesce(rec.n_recip, 0) * 1000000 // tot.n_edges AS recip_ppm
      |FROM tot LEFT JOIN rec ON tot.host = rec.host""".stripMargin
      .replace("%EDGES%", edgesSql)

  // ------------------------------------------------------------------
  // BFS crawl depth from a seed set (frontier planning)
  // ------------------------------------------------------------------

  /** Minimum crawl depth of every url reachable from a seed set over
    * the directed link graph — the crawl-frontier planning view: how
    * deep must a breadth-first crawler go, which pages sit beyond
    * depth k, where does the frontier exhaust. Seeds are depth 0
    * (whether or not they appear in any edge); a url reachable along
    * several paths gets the SHORTEST one; urls beyond `maxDepth` (or
    * unreachable) are absent from the output.
    *
    * Implementation: Pregel-style frontier BFS. Each round joins the
    * edge table against the CURRENT FRONTIER ONLY (not the full
    * visited set), then anti-joins against everything already visited
    * — so round cost is proportional to the newly discovered rim. The
    * loop always chains all `maxDepth` levels: once a frontier comes
    * back empty, the remaining levels are empty frames that cost no
    * stage (no per-level count barrier). Every
    * frontier is localCheckpoint-ed (plan truncation — an iterative
    * loop otherwise doubles its logical plan per round); the visited
    * set is a lazy union of those checkpointed leaves, never
    * re-materialized. Rounds are bounded by graph diameter (the web's
    * is ~tens); at 10^12 edges you'd bucket the edge table by src so
    * each round's join is co-partitioned and shuffle-free on the big
    * side. A fixed `maxDepth` levels with no convergence test, so not
    * a [[Fixpoint]] loop. Oracle: [[crawlDepthOracleSql]], an
    * independent recursive-CTE min-over-all-walks formulation. */
  def crawlDepth(edges: DataFrame, seeds: DataFrame,
                 maxDepth: Int = 10): DataFrame = {
    // LAZY checkpoints + count-as-materializer: one job per BFS level
    // instead of an eager checkpoint job plus an isEmpty job.
    // (A persist() pre-partitioned on src was tried to save the
    // per-round e-side exchange — the InMemoryRelation keeps its
    // outputPartitioning where a checkpoint's LogicalRDD loses it —
    // but measured WORSE at sf0.1: columnar cache decode per round
    // plus the upfront exchange outweigh the saved shuffles.)
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val seed0 = seeds.select(col("url")).distinct()
      .select(col("url"), lit(0).as("depth")).localCheckpoint(false)
    var levels = List(seed0) // one checkpointed leaf per BFS level
    var frontier = seed0
    var d = 0
    // NO per-level count barrier (round 6): the early-exit count cost
    // one driver-blocking job per BFS level; an exhausted frontier
    // instead just yields empty frames for the remaining levels (an
    // empty-frontier join is free — AQE propagates the empty relation
    // and skips the stages), so all maxDepth levels chain lazily and
    // the caller's single action materializes the whole BFS as one
    // job DAG. Identical result: union with empty tail levels.
    while (d < maxDepth) {
      d += 1
      val visited = levels.map(_.select("url")).reduce(_ union _)
      val next = e
        .join(frontier.select(col("url").as("src")), Seq("src"))
        .select(col("dst").as("url")).distinct()
        .join(visited, Seq("url"), "left_anti")
        .select(col("url"), lit(d).as("depth"))
        .localCheckpoint(false)
      levels ::= next
      frontier = next
    }
    levels.reduce(_ union _)
  }

  /** DuckDB replica of [[crawlDepth]] — a DIFFERENT formulation
    * (cross-check, not an engine replay): enumerate ALL walks from
    * the seed set up to `maxDepth` hops with a recursive CTE, then
    * take min depth per url. BFS minimality falls out of the min;
    * the depth cap on the recursion matches the engine's round cap. */
  def crawlDepthOracleSql(edgesSql: String, seedsSql: String,
                          maxDepth: Int = 10): String =
    s"""WITH raw_e AS (%EDGES%),
       |e AS (SELECT DISTINCT src, dst FROM raw_e),
       |raw_s AS (%SEEDS%),
       |dist AS (
       |  WITH RECURSIVE walk(url, d) AS (
       |    SELECT DISTINCT url, 0 FROM raw_s
       |    UNION
       |    SELECT e.dst, walk.d + 1 FROM e JOIN walk ON e.src = walk.url
       |     WHERE walk.d < $maxDepth)
       |  SELECT url, CAST(min(d) AS INT) AS depth FROM walk GROUP BY url)
       |SELECT url, depth FROM dist""".stripMargin
      .replace("%EDGES%", edgesSql).replace("%SEEDS%", seedsSql)

  // ------------------------------------------------------------------
  // HITS hubs/authorities (Kleinberg) — integer fixed point
  // ------------------------------------------------------------------

  /** Integer HITS (Kleinberg hubs-and-authorities) over the (src, dst)
    * edge table — the classic complement to PageRank for web-search
    * link analysis: a good HUB links to good authorities, a good
    * AUTHORITY is linked from good hubs.
    *
    * Semantics (fixed-point, replicated bit-exactly by
    * [[hitsOracleSql]]):
    *  - self-loops dropped, multi-edges collapsed (DISTINCT); node set
    *    = union of srcs and dsts;
    *  - scores are Long micro-units; init a0 = h0 = scale div n;
    *  - iteration i: h_raw(u) = Σ_{(u,v)∈E} a_{i−1}(v), then L1
    *    renormalize h_i = h_raw * scale div Σ h_raw; a_raw(v) =
    *    Σ_{(u,v)∈E} h_i(u) (the FRESH hubs — standard alternating
    *    update), then a_i = a_raw * scale div Σ a_raw;
    *  - nodes with no out-edges get hub 0, no in-edges get auth 0
    *    (left join, coalesce). The L1 norm replaces the textbook L2
    *    (irrational) so the fixed point stays in exact integer
    *    arithmetic — relative ranking is what HITS is for.
    *
    * Truncating integer division and commutative Long sums make the
    * result independent of partitioning and visit order. Overflow
    * guard: pre-norm values are ≤ d_max·scale and the renorm multiply
    * is (d_max·scale)·scale, so `scale` must satisfy
    * d_max·scale² < Long.MaxValue — the default 1e8 is safe to
    * in/out-degrees of ~900 at web scale; the require below enforces
    * the caller's stated bound.
    *
    * Shape per iteration: two equi-joins edges⋈scores and two
    * partial-aggregated shuffles, plus a 1-row broadcast for each L1
    * sum; lineage truncated per round via localCheckpoint; not a
    * [[Fixpoint]] loop, as for [[rankChains]]. HITS keeps its own loop
    * rather than being two [[rankChains]] columns: a round's authority
    * update reads that SAME round's fresh hubs, so the two scores
    * cannot be summed side by side in one pass over the edges. */
  def hitsInt(edges: DataFrame, iterations: Int,
              scale: Long = 100000000L, maxDegree: Long = 900L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(scale > 0 && maxDegree > 0 &&
      scale <= Long.MaxValue / scale / maxDegree,
      "scale must keep maxDegree*scale^2 within Long")
    // LAZY checkpoints — the rankChains argument verbatim
    val e = distinctEdges(edges).localCheckpoint(false)
    val nodes = nodeSet(e).localCheckpoint(false)
    val n = nodes.count()
    require(n > 0, "hitsInt: empty edge set (no nodes to score)")
    val init = scale / n
    // SPARSE mid-loop scores (round 6): a node absent from a raw table
    // has score 0 and contributes 0 to every downstream sum, so the
    // per-half-iteration densification onto the full node set (a left
    // join + exchange, twice per round) is only needed ONCE at the
    // end for the output contract (hub 0 / no-out-edge, auth 0 /
    // no-in-edge). Mid-loop renorm is a 1-row broadcast crossJoin over
    // the sparse raw table; the L1 total is unchanged (absent rows add
    // 0), so every emitted integer is bit-identical to the dense
    // formulation — same oracle, fewer exchanges per round. The
    // per-round h⋈a pairing join is likewise deferred to the end.
    def renormSparse(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(sum(col("raw")).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("url"),
          when(col("tot").isNull || col("tot") === 0L, lit(0L))
            .otherwise(expr(s"(raw * ${scale}L) div tot")).as(out))
    }
    var hub = nodes.select(col("url"), lit(init).as("hub"))
    var auth = nodes.select(col("url"), lit(init).as("auth"))
    var i = 0
    while (i < iterations) {
      val hRaw = e.join(
        auth.select(col("url").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("url")).agg(sum(col("auth")).as("raw"))
      hub = renormSparse(hRaw, "hub").localCheckpoint(false)
      val aRaw = e.join(
        hub.select(col("url").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("url")).agg(sum(col("hub")).as("raw"))
      auth = renormSparse(aRaw, "auth").localCheckpoint(false)
      i += 1
    }
    nodes
      .join(hub, Seq("url"), "left")
      .join(auth, Seq("url"), "left")
      .select(col("url"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }

  /** DuckDB replica of [[hitsInt]] as flat unrolled CTE stages —
    * scalar-subquery L1 sums, `//` truncating division, identical
    * update order. */
  def hitsOracleSql(edgesSql: String, iterations: Int,
                    scale: Long = 100000000L): String = {
    val head =
      s"""WITH raw_e AS MATERIALIZED (%EDGES%),
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw_e WHERE src <> dst),
         |nodes AS MATERIALIZED (SELECT src AS url FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |s0 AS MATERIALIZED (SELECT url,
         |   (SELECT CAST($scale // n AS BIGINT) FROM nn) AS hub,
         |   (SELECT CAST($scale // n AS BIGINT) FROM nn) AS auth
         |  FROM nodes)""".stripMargin.replace("%EDGES%", edgesSql)
    val iters = (1 to iterations).map { i =>
      s"""hr$i AS MATERIALIZED (SELECT e.src AS url, CAST(sum(s.auth) AS BIGINT) AS raw
         | FROM e JOIN s${i - 1} s ON e.dst = s.url GROUP BY e.src),
         |h$i AS MATERIALIZED (SELECT nodes.url,
         |  CASE WHEN (SELECT coalesce(sum(raw), 0) FROM hr$i) = 0 THEN 0
         |   ELSE CAST(coalesce(hr$i.raw, 0) * $scale
         |     // (SELECT sum(raw) FROM hr$i) AS BIGINT) END AS hub
         | FROM nodes LEFT JOIN hr$i ON nodes.url = hr$i.url),
         |ar$i AS MATERIALIZED (SELECT e.dst AS url, CAST(sum(h.hub) AS BIGINT) AS raw
         | FROM e JOIN h$i h ON e.src = h.url GROUP BY e.dst),
         |s$i AS MATERIALIZED (SELECT h$i.url, h$i.hub,
         |  CASE WHEN (SELECT coalesce(sum(raw), 0) FROM ar$i) = 0 THEN 0
         |   ELSE CAST(coalesce(ar$i.raw, 0) * $scale
         |     // (SELECT sum(raw) FROM ar$i) AS BIGINT) END AS auth
         | FROM h$i LEFT JOIN ar$i ON h$i.url = ar$i.url)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT url, hub, auth FROM s$iterations"
  }

  // ------------------------------------------------------------------
  // Deterministic synthetic web (driver corpus; no external data)
  // ------------------------------------------------------------------

  /** Deterministic page corpus over the `documents` table: doc d lives
    * at https://host{d%13}.example/doc{d} and links to 1 + d%3 absolute
    * targets t_k = (d*7 + k*11) % nDocs (k = 1..) plus one root-relative
    * link to (d*3 + 5) % nDocs. The markup deliberately varies quoting
    * (double/single/unquoted), nests tags inside one anchor, uses an
    * uppercase tag for the relative link, and includes a no-href decoy
    * — the scanner must handle all of it; the DuckDB oracle never
    * parses HTML, it derives the same edges in closed form (a
    * cross-formulation check, like q8_funnel). Pure column expressions
    * — the synthesis stays in whole-stage codegen. */
  def syntheticWeb(docs: DataFrame, nDocs: Long): DataFrame = {
    val d = col("doc_id")
    def urlOf(id: Column): Column =
      concat(lit("https://host"), (id % 13).cast("string"),
        lit(".example/doc"), id.cast("string"))
    def target(k: Int): Column = (d * 7 + lit(k) * 11) % nDocs
    val rel = (d * 3 + 5) % nDocs
    val seg1 = concat(lit("<a href=\""), urlOf(target(1)),
      lit("\">ref 1</a>"))
    val seg2 = when(d % 3 >= 1, concat(lit(" <a href='"), urlOf(target(2)),
      lit("'>ref <b>2</b></a>"))).otherwise(lit(""))
    val seg3 = when(d % 3 >= 2, concat(lit(" <a href="), urlOf(target(3)),
      lit(">ref 3</a>"))).otherwise(lit(""))
    val relSeg = concat(lit(" <A HREF=\"/doc"), rel.cast("string"),
      lit("\">rel  link</A>"))
    docs.select(urlOf(d).as("url"),
      concat(lit("<html><body><p>"), col("text"), lit("</p>"),
        lit("<a name=\"top\">skip me</a>"),
        seg1, seg2, seg3, relSeg,
        lit("</body></html>")).as("html"))
  }

  /** Closed-form DuckDB edge derivation matching
    * extractAnchors(syntheticWeb(documents)) — src/dst/anchor/is_rel. */
  def syntheticEdgesOracleSql: String =
    """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |d AS (SELECT doc_id,
      |  'https://host' || CAST(doc_id % 13 AS VARCHAR) || '.example/doc'
      |    || CAST(doc_id AS VARCHAR) AS src
      | FROM documents),
      |ks AS (SELECT unnest([1, 2, 3]) AS k),
      |abs_e AS (
      | SELECT d.src,
      |  'https://host'
      |    || CAST(((d.doc_id * 7 + k * 11) % nd.n) % 13 AS VARCHAR)
      |    || '.example/doc'
      |    || CAST((d.doc_id * 7 + k * 11) % nd.n AS VARCHAR) AS dst,
      |  'ref ' || CAST(k AS VARCHAR) AS anchor,
      |  false AS is_rel
      | FROM d, ks, nd WHERE k <= 1 + d.doc_id % 3),
      |rel_e AS (
      | SELECT d.src,
      |  'https://host' || CAST(d.doc_id % 13 AS VARCHAR) || '.example/doc'
      |    || CAST((d.doc_id * 3 + 5) % nd.n AS VARCHAR) AS dst,
      |  'rel link' AS anchor, true AS is_rel
      | FROM d, nd)
      |SELECT src, dst, anchor, is_rel FROM abs_e
      |UNION ALL SELECT src, dst, anchor, is_rel FROM rel_e""".stripMargin

  // ------------------------------------------------------------------
  // Redirect-chain resolution (url aliasing, pre-dedup canonical step)
  // ------------------------------------------------------------------

  /** Resolve HTTP-redirect chains (a→b→…→t) to their terminal url by
    * POINTER DOUBLING: each round substitutes every mapping's target
    * with that target's own mapping — after k rounds every source sees
    * 2^k hops ahead, so a chain of length L resolves in ⌈log2 L⌉
    * rounds, NOT L rounds (the difference between 20 and 10^6 shuffles
    * on crawl-scale alias chains). The standard canonicalization step
    * before url-keyed dedup: without it, a page and its redirect alias
    * count as two documents.
    *
    * Input (src, dst); duplicate srcs collapse to min(dst) for
    * determinism (HTTP allows one Location; crawl tables sometimes
    * disagree across fetches). Output (src, final_dst, hops,
    * is_cycle):
    *  - acyclic rows: final_dst is terminal (never itself a source),
    *    hops = exact chain length;
    *  - rows on/into a redirect LOOP never terminate — after
    *    `maxRounds` they are flagged is_cycle=true with the (still
    *    deterministic: function composition is partitioning-
    *    independent) capped state. maxRounds=20 covers chains of 10^6
    *    hops; anything longer is operationally a loop.
    *
    * Scale shape: one self-equi-join (dst = src) + localCheckpoint per
    * round — O(log L) shuffles total, lineage constant-size (the
    * components/pageRank discipline); convergence is one cheap
    * any-row-advanced probe per round. Not a [[Fixpoint]] loop: running
    * out of `maxRounds` is its cycle signal (`is_cycle`), not an error. */
  def resolveRedirects(redirects: DataFrame,
                       maxRounds: Int = 20): DataFrame = {
    var m = redirects.groupBy(col("src"))
      .agg(min(col("dst")).as("dst"))
      .select(col("src"), col("dst"), lit(1L).as("hops"))
      .localCheckpoint(false)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val b = m.select(col("src").as("b_src"), col("dst").as("b_dst"),
        col("hops").as("b_hops"))
      val m2 = m.join(b, m("dst") === b("b_src"), "left")
        .select(m("src"),
          coalesce(col("b_dst"), m("dst")).as("dst"),
          (m("hops") + coalesce(col("b_hops"), lit(0L))).as("hops"),
          col("b_src").isNotNull.as("advanced"))
        .localCheckpoint(false)
      done = m2.filter(col("advanced")).limit(1).count() == 0L
      // projection over the (already-persisted) round checkpoint —
      // no second materialization needed, plan depth stays constant
      m = m2.select(col("src"), col("dst"), col("hops"))
      round += 1
    }
    val srcs = m.select(col("src").as("cyc_key")).distinct()
    m.join(srcs, m("dst") === srcs("cyc_key"), "left")
      .select(col("src"), col("dst").as("final_dst"), col("hops"),
        col("cyc_key").isNotNull.as("is_cycle"))
  }

  /** Deterministic acyclic redirect corpus over documents: in each
    * 8-doc block b, the first (b % 6) docs chain forward one step —
    * doc d redirects to doc d+1 when (d mod 8) < (d div 8 mod 6) — so
    * chain lengths 0..5 all occur and terminals are never sources.
    * (Loops are covered by unit specs; the oracle stays a plain
    * recursive walk.) */
  def syntheticRedirects(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    def urlOf(id: Column): Column =
      concat(lit("https://host"), (id % 13).cast("string"),
        lit(".example/doc"), id.cast("string"))
    docs.filter((d % 8) < expr("doc_id div 8") % 6)
      .select(urlOf(d).as("src"), urlOf(d + 1).as("dst"))
  }

  /** Recursive-walk CTE over the same closed-form redirect set; `term`
    * holds (src, t, hops) with t the terminal url per src (deepest step
    * of the walk — acyclic corpus). Shared by [[redirectsOracleSql]]
    * and the composed canonical-consolidation oracle
    * ([[PageMeta.canonicalMapOracleSql]]); callers must place it under
    * `WITH RECURSIVE`. */
  private[ops] val redirectWalkCte: String =
    """r AS (
      | SELECT
      |  'https://host' || CAST(doc_id % 13 AS VARCHAR) || '.example/doc'
      |    || CAST(doc_id AS VARCHAR) AS src,
      |  'https://host' || CAST((doc_id + 1) % 13 AS VARCHAR)
      |    || '.example/doc' || CAST(doc_id + 1 AS VARCHAR) AS dst
      | FROM documents WHERE (doc_id % 8) < ((doc_id // 8) % 6)),
      |walk(src, cur, hops) AS (
      | SELECT src, dst, 1 FROM r
      | UNION ALL
      | SELECT w.src, r.dst, w.hops + 1 FROM walk w JOIN r ON w.cur = r.src),
      |term AS (
      | SELECT src, cur AS t, hops FROM walk
      | QUALIFY row_number() OVER (PARTITION BY src ORDER BY hops DESC) = 1)""".stripMargin

  /** DuckDB oracle: recursive walk over the same closed-form redirect
    * set; per src the deepest step is the terminal (acyclic corpus),
    * selected via QUALIFY on hops. */
  def redirectsOracleSql: String =
    // concatenation, NOT s"...".stripMargin: the interpolated CTE's own
    // lines contain leading `||` SQL concats that stripMargin would eat
    "WITH RECURSIVE " + redirectWalkCte + "\n" +
      """SELECT src, t AS final_dst, CAST(hops AS BIGINT) AS hops,
        |       false AS is_cycle
        |FROM term""".stripMargin

  // ------------------------------------------------------------------
  // Incoming anchor-text profile (web-search relevance signal)
  // ------------------------------------------------------------------

  /** Per-target anchor-text profile: for every linked-to url, the
    * in-link count, the number of distinct linking hosts, and the
    * first `maxAnchors` distinct anchor texts (sorted, joined with
    * " | ") — the classic "anchor text describes the TARGET" signal
    * used as a quality/relevance prior when selecting training pages.
    *
    * Scale shape (10^11 edges): counts are one partial-aggregated
    * shuffle on dst (countDistinct expands to the standard two-phase
    * plan); anchor texts are bounded BEFORE aggregation — distinct
    * (url, anchor) pairs, rank ≤ maxAnchors via a window on url, THEN
    * collect — so per-key aggregation state is ≤ maxAnchors strings
    * even for a page with 10^7 in-links (an unbounded collect_set on a
    * popular page is the OOM everyone hits here). Self-links dropped,
    * consistent with [[degrees]]/[[pageRankInt]]. All exchanges hash on
    * url/dst — co-located when the edge table is bucketed by dst. */
  def anchorTextProfile(edges: DataFrame, maxAnchors: Int = 8): DataFrame = {
    val base = edges.filter(col("src") =!= col("dst"))
      .select(col("dst").as("url"), col("anchor"),
        regexp_extract(col("src"), "^https://([^/]+)", 1).as("src_host"))
    val counts = base.groupBy(col("url"))
      .agg(count(lit(1)).as("in_links"),
        countDistinct(col("src_host")).as("n_src_hosts"))
    val topAnchors = base.select(col("url"), col("anchor")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("url")).orderBy(col("anchor"))))
      .filter(col("rn") <= maxAnchors)
      .groupBy(col("url"))
      .agg(array_join(array_sort(collect_list(col("anchor"))), " | ")
        .as("anchor_texts"))
    counts.join(topAnchors, Seq("url"))
      .select(col("url"), col("in_links"), col("n_src_hosts"),
        col("anchor_texts"))
  }

  /** DuckDB replica of [[anchorTextProfile]] over `edgesSql` (src,
    * dst, anchor): identical rank-then-aggregate formulation; ASCII
    * anchors make Spark's binary string sort and DuckDB's default
    * collation agree. */
  def anchorTextOracleSql(edgesSql: String, maxAnchors: Int = 8): String =
    s"""WITH e0 AS (%EDGES%),
       |e AS (SELECT * FROM e0 WHERE src <> dst),
       |b AS (SELECT dst AS url, anchor,
       |        regexp_extract(src, '^https://([^/]+)', 1) AS src_host
       |      FROM e),
       |cnt AS (SELECT url, CAST(count(*) AS BIGINT) AS in_links,
       |         CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
       |        FROM b GROUP BY url),
       |da AS (SELECT DISTINCT url, anchor FROM b),
       |rk AS (SELECT url, anchor,
       |         row_number() OVER (PARTITION BY url ORDER BY anchor) AS rn
       |       FROM da),
       |ta AS (SELECT url, string_agg(anchor, ' | ' ORDER BY anchor)
       |         AS anchor_texts
       |       FROM rk WHERE rn <= $maxAnchors GROUP BY url)
       |SELECT cnt.url, in_links, n_src_hosts, anchor_texts
       |FROM cnt JOIN ta ON cnt.url = ta.url""".stripMargin
      .replace("%EDGES%", edgesSql)

  // ------------------------------------------------------------------
  // robots.txt (RFC 9309) — crawl-politeness frontier filter
  // ------------------------------------------------------------------

  /** One Allow/Disallow rule: the raw path pattern (may contain `*`
    * wildcards and a trailing `$` end-anchor) and its polarity. */
  final case class RobotRule(pattern: String, allow: Boolean)

  /** Parse a robots.txt body and return the rule group that applies to
    * `agent`, per RFC 9309:
    *  - lines are `key: value`; keys case-insensitive; `#` starts a
    *    comment; unparseable lines are skipped;
    *  - consecutive `User-agent` lines open ONE group shared by all the
    *    named agents; any other directive ends the user-agent run;
    *  - if any group names `agent` (case-insensitive product-token
    *    match), the union of those groups applies EXCLUSIVELY — the
    *    `*` groups are ignored even if the specific group is empty
    *    (an empty specific group means allow-everything);
    *  - `Allow:`/`Disallow:` with an EMPTY value contributes no rule;
    *  - other directives (Sitemap, Crawl-delay, …) are ignored but do
    *    not close the group. */
  def parseRobots(txt: String, agent: String): Vector[RobotRule] =
    parseRobotsFull(txt, agent)._1

  /** Full parse: the applicable rule group plus its `Crawl-delay`
    * (milliseconds), under the same exclusive group selection —
    * when a specific group exists its (possibly absent) delay applies
    * and `*` delays are ignored; when several applicable groups
    * declare delays, the smallest wins (conservative politeness).
    * Unparseable delay values are skipped. */
  def parseRobotsFull(txt: String,
                      agent: String): (Vector[RobotRule], Option[Long]) = {
    val agentLc = agent.toLowerCase
    val specific = Vector.newBuilder[RobotRule]
    val generic = Vector.newBuilder[RobotRule]
    var specDelay: Option[Long] = None
    var genDelay: Option[Long] = None
    var hasSpecific = false
    var uaSpecific = false
    var uaGeneric = false
    var inUaRun = false
    txt.split("\n", -1).foreach { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash < 0) raw else raw.substring(0, hash)).trim
      if (line.nonEmpty) {
        val ci = line.indexOf(':')
        if (ci > 0) {
          val key = line.substring(0, ci).trim.toLowerCase
          val value = line.substring(ci + 1).trim
          key match {
            case "user-agent" =>
              if (!inUaRun) { uaSpecific = false; uaGeneric = false; inUaRun = true }
              val v = value.toLowerCase
              if (v == agentLc) { uaSpecific = true; hasSpecific = true }
              else if (v == "*") uaGeneric = true
            case "allow" | "disallow" =>
              inUaRun = false
              if (value.nonEmpty) {
                val rule = RobotRule(value, key == "allow")
                if (uaSpecific) specific += rule
                if (uaGeneric) generic += rule
              }
            case "crawl-delay" =>
              inUaRun = false
              val ms =
                try Some(math.round(value.toDouble * 1000.0))
                catch { case _: NumberFormatException => None }
              ms.filter(_ >= 0).foreach { m =>
                if (uaSpecific)
                  specDelay = Some(specDelay.fold(m)(_ min m))
                if (uaGeneric)
                  genDelay = Some(genDelay.fold(m)(_ min m))
              }
            case _ => inUaRun = false
          }
        }
      }
    }
    if (hasSpecific) (specific.result(), specDelay)
    else (generic.result(), genDelay)
  }

  /** Does `pattern` match `path`? Pattern matches any PREFIX of the
    * path starting at offset 0; `*` matches any run of characters; a
    * trailing `$` anchors the match to the path's end. Middle segments
    * use leftmost placement, which is exact here: an unanchored match
    * only needs existence, and for anchored patterns the independent
    * endsWith check is maximally permissive when the middle consumes
    * the least. */
  private[graft] def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val segs = p.split("\\*", -1)
    if (!path.startsWith(segs(0))) return false
    var pos = segs(0).length
    if (segs.length == 1) return !anchored || pos == path.length
    var i = 1
    while (i < segs.length - 1) {
      val s = segs(i)
      if (s.nonEmpty) {
        val f = path.indexOf(s, pos)
        if (f < 0) return false
        pos = f + s.length
      }
      i += 1
    }
    val last = segs(segs.length - 1)
    if (anchored)
      path.length - last.length >= pos && path.endsWith(last)
    else
      last.isEmpty || path.indexOf(last, pos) >= 0
  }

  /** RFC 9309 precedence: the longest matching pattern wins; on a
    * length tie, allow wins. Returns (allowed, winning pattern) —
    * ("", true) when no rule matches (or the rule set is empty). */
  private[graft] def evaluate(rules: Seq[RobotRule],
                              path: String): (Boolean, String) = {
    var bestLen = -1
    var bestAllow = true
    var bestPat = ""
    rules.foreach { r =>
      if (patternMatches(r.pattern, path)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len; bestAllow = r.allow; bestPat = r.pattern
        }
      }
    }
    if (bestLen < 0) (true, "") else (bestAllow, bestPat)
  }

  /** Path (+ query-less, fragment-less) component of an absolute url;
    * "/" when the url has no path. Matching is on the path only — the
    * synthetic corpora carry no query strings, and RFC 9309 leaves
    * query handling to the implementation (documented choice). */
  private[graft] def pathOf(url: String): String = {
    val si = url.indexOf("://")
    if (si < 0) return url
    val slash = url.indexOf('/', si + 3)
    if (slash < 0) "/"
    else {
      val h = url.indexOf('#', slash)
      if (h < 0) url.substring(slash) else url.substring(slash, h)
    }
  }

  /** Crawl-politeness filter: frontier (doc_id, url) × robots (host,
    * robots_txt) → (doc_id, url, allowed, rule). Missing robots row →
    * allowed (RFC 9309 §2.3.1.3: unreachable robots.txt means no
    * restrictions), rule "".
    *
    * Scale shape: one equi-join on host — broadcast when the policy
    * table is small, shuffle-on-host when it is crawl-sized (10^8
    * hosts), where bucketing BOTH sides by host makes it co-located;
    * rule parsing is cached per partition keyed by the policy's exact
    * text (the FontCache lesson: exact-bytes keys, no collisions), so
    * a partition full of one host's urls parses its policy once. The
    * cache is bounded — crawl partitions hash-mix hosts, and an
    * unbounded map would hold every policy seen by the partition. */
  def robotsFilter(frontier: DataFrame, robots: DataFrame,
                   agent: String, cacheCap: Int = 1024): DataFrame = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val withHost = frontier.select(
      col("doc_id").cast("long"), col("url").cast("string"),
      regexp_extract(col("url"), "^https?://([^/?#]+)", 1).as("host"))
    withHost
      .join(robots.select(col("host"), col("robots_txt")), Seq("host"), "left")
      .select(col("doc_id"), col("url"), col("robots_txt"))
      .as[(Long, String, Option[String])]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Vector[RobotRule]]()
        it.map { case (id, url, txtOpt) =>
          txtOpt match {
            case None => (id, url, true, "")
            case Some(txt) =>
              var rules = cache.get(txt)
              if (rules == null) {
                if (cache.size >= cacheCap) cache.clear()
                rules = parseRobots(txt, agent)
                cache.put(txt, rules)
              }
              val (allowed, rule) = evaluate(rules, pathOf(url))
              (id, url, allowed, rule)
          }
        }
      }
      .toDF("doc_id", "url", "allowed", "rule")
  }

  /** Per-host declared crawl delays for `agent`: (host, delay_ms) rows
    * only for hosts whose applicable group declares one. Per-row parse
    * over the (small relative to the corpus) policy table — the
    * expensive side of the schedule join is the frontier, not this. */
  def robotsDelays(robots: DataFrame, agent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col("host").cast("string"), col("robots_txt").cast("string"))
      .as[(String, String)]
      .flatMap { case (host, txt) =>
        parseRobotsFull(txt, agent)._2.map(d => (host, d))
      }
      .toDF("host", "delay_ms")
  }

  /** Politeness scheduler over an (allowed) frontier: within each
    * host, urls are fetched in (priority desc, doc_id asc) order,
    * spaced by the host's crawl delay — fetch_at_ms = (rank−1) ×
    * delay_ms, where delay_ms is the host's declared Crawl-delay or
    * `defaultDelayMs`. This is the map from "what to crawl" to "when",
    * the last step before a fetch fleet consumes the frontier.
    *
    * Scale shape: ONE hash shuffle on host (the window partitioning —
    * host is the natural crawl unit); the delay table joins broadcast
    * (or co-located when both sides are bucketed by host). Rank is
    * per-host, so no global sort; a mega-host is read-side skew only
    * (the window emits one running integer per row). */
  def scheduleCrawl(frontier: DataFrame, delays: DataFrame,
                    defaultDelayMs: Long = 1000L): DataFrame = {
    val w = Window.partitionBy(col("host"))
      .orderBy(col("priority").desc, col("doc_id").asc)
    frontier.join(delays, Seq("host"), "left")
      .withColumn("delay_ms",
        coalesce(col("delay_ms"), lit(defaultDelayMs)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("host"), col("url"), col("rn"),
        ((col("rn") - 1L) * col("delay_ms")).as("fetch_at_ms"))
  }

  /** Closed-form oracle for the composed schedule query (robots gate →
    * priority rank per host → delay spacing): allowed set restated from
    * [[robotsOracleSql]]'s cells; delay = 2000 ms for host%4==0 (the
    * `*` group declares 2 s), 10000 ms for host%4==1 (the agent group
    * declares 10 s), default elsewhere. */
  def crawlScheduleOracleSql(defaultDelayMs: Long = 1000L): String =
    s"""WITH d AS (SELECT doc_id,
       |  doc_id % 13 AS h, (doc_id % 13) % 4 AS hm, doc_id % 5 AS v,
       |  CAST(doc_id AS VARCHAR) AS ds
       | FROM documents),
       |u AS (SELECT doc_id, h, hm, v, ds,
       |  'host' || CAST(h AS VARCHAR) || '.example' AS host,
       |  'https://host' || CAST(h AS VARCHAR) || '.example' ||
       |  CASE v WHEN 0 THEN '/doc' || ds
       |         WHEN 1 THEN '/priv/doc' || ds
       |         WHEN 2 THEN '/priv/pub/doc' || ds
       |         WHEN 3 THEN '/doc' || ds || '.bin'
       |         ELSE '/a/doc' || ds || '.binx' END AS url
       | FROM d),
       |a AS (SELECT * FROM u WHERE NOT (
       |   (hm = 0 AND v = 1) OR
       |   (hm = 1 AND v IN (0, 3) AND ds NOT LIKE '2%') OR
       |   (hm = 2 AND v = 3))),
       |r AS (SELECT doc_id, host, url,
       |  CASE WHEN hm = 0 THEN 2000 WHEN hm = 1 THEN 10000
       |       ELSE $defaultDelayMs END AS delay_ms,
       |  CAST(row_number() OVER (PARTITION BY host
       |    ORDER BY doc_id % 100 DESC, doc_id ASC) AS BIGINT) AS rn
       | FROM a)
       |SELECT doc_id, host, url, rn,
       | CAST((rn - 1) * delay_ms AS BIGINT) AS fetch_at_ms
       |FROM r""".stripMargin

  /** Deterministic robots.txt corpus over the 13 synthetic hosts, four
    * policy shapes by host % 4 (each exercising a distinct parser /
    * matcher feature the closed-form oracle then predicts):
    *  0 — deny a subtree with a longer allow carve-out (longest-match);
    *  1 — agent-specific group (mixed-case UA token) that OVERRIDES a
    *      deny-all `*` group, with an allow/deny prefix pair decided by
    *      the first digit of the doc id;
    *  2 — wildcard + end-anchor rule (slash, star, ".bin", dollar —
    *      spelled out because Scala comments nest), lowercase keys;
    *  3 — comments only (no rules → allow all). */
  def syntheticRobots(spark: SparkSession): DataFrame = {
    val h = col("id")
    val txt0 = "# corpus policy\nUser-Agent: *\nDisallow: /priv/\nAllow: /priv/pub/\nCrawl-delay: 2\n"
    val txt1 = "User-agent: GraftBot\nDisallow: /doc\nAllow: /doc2\nCrawl-delay: 10\n\nUser-agent: *\nDisallow: /\nCrawl-delay: 60\n"
    val txt2 = "user-agent: *\ndisallow: /*.bin$\n# trailing comment\n"
    val txt3 = "# no rules here\n"
    spark.range(0, 13).select(
      concat(lit("host"), h.cast("string"), lit(".example")).as("host"),
      when(h % 4 === 0, lit(txt0)).when(h % 4 === 1, lit(txt1))
        .when(h % 4 === 2, lit(txt2)).otherwise(lit(txt3)).as("robots_txt"))
  }

  /** Deterministic crawl frontier over documents: doc d on host d%13,
    * path variant d%5 ∈ { /doc{d}, /priv/doc{d}, /priv/pub/doc{d},
    * /doc{d}.bin, /a/doc{d}.binx } — each variant probes one policy
    * rule (incl. the `$`-anchor near-miss ".binx"). */
  def syntheticFrontier(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val ds = d.cast("string")
    val host = concat(lit("host"), (d % 13).cast("string"), lit(".example"))
    val path = when(d % 5 === 0, concat(lit("/doc"), ds))
      .when(d % 5 === 1, concat(lit("/priv/doc"), ds))
      .when(d % 5 === 2, concat(lit("/priv/pub/doc"), ds))
      .when(d % 5 === 3, concat(lit("/doc"), ds, lit(".bin")))
      .otherwise(concat(lit("/a/doc"), ds, lit(".binx")))
    docs.select(d.as("doc_id"), concat(lit("https://"), host, path).as("url"))
  }

  /** Closed-form oracle for robotsFilter(syntheticFrontier(documents),
    * syntheticRobots, "graftbot") — the oracle never parses robots.txt,
    * it states the RFC 9309 outcome per (host%4, variant) cell:
    * longest-match carve-out, agent-group override (first-digit test
    * for the /doc vs /doc2 prefix pair), wildcard end-anchor, no-rules
    * hosts. A cross-formulation check like the web_links oracle. */
  def robotsOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |  doc_id % 13 AS h, (doc_id % 13) % 4 AS hm, doc_id % 5 AS v,
      |  CAST(doc_id AS VARCHAR) AS ds
      | FROM documents),
      |u AS (SELECT doc_id, hm, v, ds,
      |  'https://host' || CAST(h AS VARCHAR) || '.example' ||
      |  CASE v WHEN 0 THEN '/doc' || ds
      |         WHEN 1 THEN '/priv/doc' || ds
      |         WHEN 2 THEN '/priv/pub/doc' || ds
      |         WHEN 3 THEN '/doc' || ds || '.bin'
      |         ELSE '/a/doc' || ds || '.binx' END AS url
      | FROM d)
      |SELECT doc_id, url,
      | CASE WHEN hm = 0 AND v = 1 THEN FALSE
      |      WHEN hm = 1 AND v IN (0, 3) AND ds NOT LIKE '2%' THEN FALSE
      |      WHEN hm = 2 AND v = 3 THEN FALSE
      |      ELSE TRUE END AS allowed,
      | CASE WHEN hm = 0 AND v = 1 THEN '/priv/'
      |      WHEN hm = 0 AND v = 2 THEN '/priv/pub/'
      |      WHEN hm = 1 AND v IN (0, 3) THEN
      |        CASE WHEN ds LIKE '2%' THEN '/doc2' ELSE '/doc' END
      |      WHEN hm = 2 AND v = 3 THEN '/*.bin$'
      |      ELSE '' END AS rule
      |FROM u""".stripMargin

  // ------------------------------------------------------------------
  // Crawl-trap detection (URL template mining)
  // ------------------------------------------------------------------

  /** Crawl-trap detection by URL TEMPLATE mining — the frontier-side
    * guard every crawler needs: collapse each url to its template
    * (digit runs -> `{n}`), count distinct urls per (host, template),
    * and flag PARAMETERIZED templates whose cardinality explodes. The
    * signature of a trap (calendar pages, session ids, faceted
    * search) is a `?`-carrying template generating unboundedly many
    * distinct urls; high-cardinality PATH templates (`/doc{n}`) are
    * normal content and stay unflagged.
    *
    * Output: (host, template, n_urls, has_params, flagged) where
    * flagged = has_params AND n_urls >= threshold.
    *
    * Scale shape: a per-row regexp projection + ONE partial-aggregated
    * hash shuffle on (host, template) — template cardinality is
    * tiny compared to the frontier, so the rollup collapses map-side;
    * the report is template-sized. At 10^12 urls this runs where the
    * frontier lives, no joins at all. */
  def crawlTraps(frontier: DataFrame, threshold: Long = 100L): DataFrame =
    frontier
      .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
        regexp_replace(col("url"), "[0-9]+", "{n}").as("template"),
        col("url"))
      .groupBy(col("host"), col("template"))
      .agg(countDistinct(col("url")).as("n_urls"))
      .withColumn("has_params", col("template").contains("?"))
      .withColumn("flagged", col("has_params") && col("n_urls") >= threshold)

  /** Deterministic trap-corpus over documents: every doc contributes
    * its organic page, every 4th doc a /about page (static, cardinality
    * 1 per host), and every doc a url inside host4's calendar trap —
    * `?y=&m=&p=` where p carries doc_id so every trap url is distinct
    * (the infinite-space signature). */
  def syntheticTrapFrontier(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val ds = d.cast("string")
    val host = concat(lit("https://host"), (d % 13).cast("string"),
      lit(".example"))
    val organic = docs.select(concat(host, lit("/doc"), ds).as("url"))
    val about = docs.filter(d % 4 === 0)
      .select(concat(host, lit("/about")).as("url"))
    val trap = docs.select(concat(lit("https://host4.example/cal?y="),
      (lit(1990) + d % 40).cast("string"), lit("&m="),
      (lit(1) + d % 12).cast("string"), lit("&p="), ds).as("url"))
    organic.unionAll(about).unionAll(trap)
  }

  /** DuckDB replica of crawlTraps(syntheticTrapFrontier(documents)) —
    * the same digit-run regexp (RE2 and Java agree on `[0-9]+`) over
    * the closed-form frontier. */
  def crawlTrapsOracleSql(threshold: Long = 100L): String =
    """WITH f AS (
      | SELECT 'https://host' || CAST(doc_id % 13 AS VARCHAR)
      |   || '.example/doc' || CAST(doc_id AS VARCHAR) AS url
      | FROM documents
      | UNION ALL
      | SELECT 'https://host' || CAST(doc_id % 13 AS VARCHAR)
      |   || '.example/about' FROM documents WHERE doc_id % 4 = 0
      | UNION ALL
      | SELECT 'https://host4.example/cal?y='
      |   || CAST(1990 + doc_id % 40 AS VARCHAR)
      |   || '&m=' || CAST(1 + doc_id % 12 AS VARCHAR)
      |   || '&p=' || CAST(doc_id AS VARCHAR) FROM documents),
      |t AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
      |             regexp_replace(url, '[0-9]+', '{n}', 'g') AS template,
      |             url
      |      FROM f)
      |SELECT host, template, CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
      |  contains(template, '?') AS has_params,
      |  contains(template, '?') AND count(DISTINCT url) >= %T% AS flagged
      |FROM t GROUP BY host, template""".stripMargin
      .replace("%T%", threshold.toString)

  // ------------------------------------------------------------------
  // HyperBall (HLL-register neighborhood function)
  // ------------------------------------------------------------------

  /** HyperBall (Boldi–Vigna): per-node estimates of |ball_r(v)| — how
    * many pages are reachable within r forward hops — computed with
    * HyperLogLog registers as the per-node state. THE web-scale
    * reachability algorithm: exact ball sets grow like out-degree^r
    * (the neighborhood-function / effective-diameter question is
    * hopeless as a closure at 10^11 edges), but the HLL state is ≤ m
    * register rows per node FOREVER, and one round is exactly one
    * edge⋈state equi-join + a partial-aggregated (v, reg) max — max is
    * idempotent/commutative, so register merge is order-independent
    * and the result is bit-identical under any partitioning.
    *
    * Registers are sparse rows (v, reg, mx) — absent = zero; the merge
    * `ball_r(v) = ball_{r-1}(v) ∪ ⋃_{v→w} ball_{r-1}(w)` is a union +
    * groupBy max, localCheckpoint per round ([[weaklyConnected]]
    * lineage discipline). The per-node estimate reuses
    * [[Cardinality]]'s bit-exact discipline verbatim: dyadic register
    * weights (one shiftleft + one IEEE division), register-ordered
    * fold, literal alpha — so the DuckDB oracle reproduces every
    * estimate bit for bit. The EXACT ball size rides along as the
    * audit arm (a staged pair closure — affordable at oracle scale
    * only, which is precisely the point of the sketch).
    *
    * Output: (v, m, n_zero_registers, estimate, exact_ball). */
  def hyperBall(edges: DataFrame, p: Int = 4, rounds: Int = 3): DataFrame = {
    require(p >= 4 && p <= 16, s"p out of range: $p")
    require(rounds >= 1)
    val m = 1 << p
    val spark = edges.sparkSession
    import spark.implicits._
    // LAZY checkpoints (fixed round count, no partial actions): all
    // rounds + the fold materialize in one job DAG, each level cached
    // exactly once
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false) // joined every round by both arms
    val nodes = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
    var state = nodes.as[String].mapPartitions(_.map { v =>
      val (reg, rank) = Cardinality.regRank(v, p); (v, reg, rank)
    }).toDF("v", "reg", "mx").localCheckpoint(false)
    var pairs = nodes.select(col("v"), col("v").as("u")).localCheckpoint(false)
    for (_ <- 1 to rounds) {
      state = state.unionAll(
          e.join(state.withColumnRenamed("v", "dst"), Seq("dst"))
            .select(col("src").as("v"), col("reg"), col("mx")))
        .groupBy(col("v"), col("reg")).agg(max(col("mx")).as("mx"))
        .localCheckpoint(false)
      pairs = pairs.unionAll(
          e.join(pairs.withColumnRenamed("v", "dst"), Seq("dst"))
            .select(col("src").as("v"), col("u")))
        .distinct().localCheckpoint(false)
    }
    val folded = state
      .select(col("v"), col("reg"), expr(
        "CAST(1.0 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), mx) AS DOUBLE)")
        .as("w"))
      .groupBy(col("v"))
      .agg(sort_array(collect_list(struct(col("reg"), col("w"))))
        .as("parts"))
      .select(col("v"), size(col("parts")).as("nregs"),
        aggregate(col("parts"), lit(0.0), (acc, x) =>
          acc + x.getField("w")).as("s0"))
      .select(col("v"), col("nregs"),
        (col("s0") + (lit(m) - col("nregs")).cast("double")).as("s2"))
    val alphaNum = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))) *
      lit((m.toLong * m).toDouble)
    val exact = pairs.groupBy(col("v")).agg(count(lit(1)).as("exact_ball"))
    folded.select(col("v"), lit(m.toLong).as("m"),
        (lit(m) - col("nregs")).cast("long").as("n_zero_registers"),
        (alphaNum / col("s2")).as("estimate"))
      .join(exact, Seq("v"))
  }

  // ------------------------------------------------------------------
  // Triangle counting (degree-ordered node-iterator)
  // ------------------------------------------------------------------

  /** Per-node triangle participation counts over the UNDIRECTED link
    * graph — the classic local-clustering / spam-farm signal (link
    * rings and mutual-admiration cliques are triangle-dense; genuine
    * editorial link neighborhoods are sparse).
    *
    * Algorithm: Suri–Vassilvitskii / compact-forward node-iterator.
    * Edges are deduplicated undirected (least/greatest, self-loops
    * dropped), then ORIENTED from the lower to the higher endpoint in
    * the total order (degree, node) — so every node's out-degree is
    * O(√m) regardless of how big a hub it is, which is the entire
    * skew story: the wedge self-join on the oriented source never
    * builds a hub's quadratic neighborhood. Each triangle is emitted
    * exactly once, from its minimum-order vertex. Three shuffles
    * total (wedge build, closing-edge semi-join, per-node count), all
    * equi-joins — no inequality join anywhere.
    *
    * The DuckDB oracle enumerates triangles by the DIFFERENT total
    * order (plain a < b < c string order, triple self-join) — the
    * per-node counts must agree because both enumerate each triangle
    * exactly once. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b")) // least==greatest iff self-loop
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
    val lowFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("u"),
      when(lowFirst, col("b")).otherwise(col("a")).as("w"),
      when(lowFirst, col("db")).otherwise(col("da")).as("dw"))
    val wedges = oriented.select(col("u"), col("w").as("w1"), col("dw").as("d1"))
      .join(oriented.select(col("u"), col("w").as("w2"), col("dw").as("d2")),
        Seq("u"))
      .where(struct(col("d1"), col("w1")) < struct(col("d2"), col("w2")))
    // the closing edge w1–w2 is itself oriented low→high in the same
    // total order, and the wedge fixed w1 < w2 in that order — so it
    // can only appear as (u=w1, w=w2)
    val closed = wedges.join(
      oriented.select(col("u").as("w1"), col("w").as("w2")), Seq("w1", "w2"))
    closed.select(explode(array(col("u"), col("w1"), col("w2"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
  }

  // ------------------------------------------------------------------
  // k-core decomposition (iterative peeling)
  // ------------------------------------------------------------------

  /** The k-core of the undirected link graph: the maximal subgraph in
    * which every node has degree ≥ k — the standard "dense nucleus"
    * signal (link farms and tightly-knit spam rings live in deep
    * cores; isolated editorial pages peel away immediately). Output is
    * one row per surviving node with its degree INSIDE the core.
    *
    * Algorithm: synchronous peeling. Each peel recomputes degrees
    * (one partial-agg shuffle) and drops every node below k via two
    * LEFT SEMI joins — no row ever widens, state is only the live
    * edge list. Peels run through [[Fixpoint]], three per barrier;
    * peeling only removes edges, so a live-edge count that repeats
    * from one barrier to the next IS the fixpoint. Peel depth is
    * single digits on web graphs (≤7 on this corpus at both SFs).
    * `maxIter` counts barriers (three peels each); a graph that needs
    * more throws `IllegalStateException` rather than return a non-core.
    *
    * The DuckDB oracle replays the SAME peeling as a staged CTE chain
    * with a fixed stage count (strictly more stages than the measured
    * fixpoint depth; extra stages are no-ops at fixpoint), the way
    * [[pageRankOracleSql]] stages its iterations. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1 && maxIter >= 1)
    val start = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b")).distinct()
      .localCheckpoint(false)
    val core = new Fixpoint("kCore", maxIter, hops = 3).stable(start) { live =>
      val keep = live.select(col("a").as("v"))
        .unionAll(live.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("v"))
      live
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
    }(_.count())
    core.select(col("a").as("v")).unionAll(core.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
  }

  /** DuckDB oracle for kCore(extractAnchors(syntheticWeb(…))) — the
    * same peeling, unrolled to `stages` CTE rounds (≥ the measured
    * fixpoint depth; surplus rounds are identity). Every stage is
    * AS MATERIALIZED: each CTE is referenced 3× by the next stage, so
    * the default inlining would expand the chain 3^stages-fold (found
    * empirically as a "too many open files" parquet-scan explosion). */
  def kCoreOracleSql(k: Int, stages: Int = 12): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e0 AS MATERIALIZED ($syntheticEdgesOracleSql),\n")
    sb.append("l0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b\n")
    sb.append("  FROM e0 WHERE src <> dst)")
    for (i <- 1 to stages) {
      sb.append(s""",
         |k$i AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM l${i - 1}
         |  UNION ALL SELECT b FROM l${i - 1})
         |  GROUP BY v HAVING count(*) >= $k),
         |l$i AS MATERIALIZED (SELECT a, b FROM l${i - 1}
         |  WHERE a IN (SELECT v FROM k$i) AND b IN (SELECT v FROM k$i))""".stripMargin)
    }
    sb.append(s"""
       |SELECT v, CAST(count(*) AS BIGINT) AS core_deg
       |FROM (SELECT a AS v FROM l$stages UNION ALL SELECT b FROM l$stages)
       |GROUP BY v""".stripMargin)
    sb.toString
  }

  /** DuckDB oracle for triangles(extractAnchors(syntheticWeb(…))):
    * triple self-join over the a<b string order. The interpolated
    * edges SQL is already stripMargin'd (its `||` concats sit at line
    * starts), so it must stay OUTSIDE the outer stripMargin — a second
    * pass would eat the first `|` of each `||` (the oracle-authoring
    * trap recorded in ROUND_NOTES for corpus_bpe_encode). */
  def trianglesOracleSql: String =
    s"WITH e0 AS ($syntheticEdgesOracleSql),\n" +
    """und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0 WHERE src <> dst),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT v, CAST(count(*) AS BIGINT) AS n_tri
      |FROM (SELECT x AS v FROM tri
      |      UNION ALL SELECT y FROM tri
      |      UNION ALL SELECT z FROM tri)
      |GROUP BY v""".stripMargin

  // ------------------------------------------------------------------
  // Adjacency gap compression (WebGraph BV-style storage census)
  // ------------------------------------------------------------------

  /** Per-source adjacency gap-encoding census — the storage arithmetic
    * behind WebGraph's BV format (Boldi & Vigna, WWW'04): sort each
    * node's distinct successors, store the FIRST as a zigzag delta
    * from the source id (successor lists hover around their own node
    * id thanks to host-locality of links), and every subsequent
    * successor as `gap - 1` (strictly increasing after dedup, so gaps
    * are ≥ 1 and the subtraction buys the low code space back). Each
    * code is costed at its LEB128 varint width. Output per src_id:
    * out-degree, raw cost (8 B/edge), packed cost, and the largest
    * code (the compressibility witness — host-local graphs keep it
    * tiny, random graphs don't).
    *
    * This census IS the capacity-planning query for storing a
    * 10^11-edge link graph: run it once, read sum(packed)/sum(raw).
    *
    * Scale shape: one distinct + one hash shuffle on src_id; the lag
    * window reuses the same partitioning (adjacency lists are the
    * natural unit — no global sort). All arithmetic is integer, so the
    * DuckDB oracle ([[gapCompressionOracleSql]]) replays it exactly.
    */
  def gapCompressionStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src_id"), col("dst_id")).distinct()
    val w = Window.partitionBy(col("src_id")).orderBy(col("dst_id").asc)
    val code = {
      val d = col("dst_id") - col("prev")
      val first = col("dst_id") - col("src_id")
      when(col("prev").isNull,
        when(first >= 0, first * 2).otherwise(-first * 2 - 1)) // zigzag
        .otherwise(d - 1) // strictly increasing ⇒ d ≥ 1
    }
    val varintBytes =
      when(col("code") < (1L << 7), 1L)
        .when(col("code") < (1L << 14), 2L)
        .when(col("code") < (1L << 21), 3L)
        .when(col("code") < (1L << 28), 4L)
        .otherwise(5L)
    e.withColumn("prev", lag(col("dst_id"), 1).over(w))
      .withColumn("code", code)
      .groupBy(col("src_id"))
      .agg(count(lit(1)).as("out_deg"),
        (count(lit(1)) * 8).as("raw_bytes"),
        sum(varintBytes).as("packed_bytes"),
        max(col("code")).as("max_code"))
  }

  // ------------------------------------------------------------------
  // Strongly connected components (FW-BW trim + min-label coloring)
  // ------------------------------------------------------------------

  /** Strongly connected components of a directed integer-id edge list
    * — the bowtie decomposition query (Broder et al., WWW'00): the web
    * splits into one giant SCC plus IN/OUT/tendril periphery, and
    * crawl prioritization / spam analysis both key off which side of
    * the bowtie a page sits on. scc_id = the component's minimum node
    * id (the same witness the oracle derives from mutual
    * reachability, so the two computations are independent
    * formulations of the same function).
    *
    * Algorithm (Orzan / FW-BW coloring, the standard distributed SCC):
    *  1. TRIM to fixpoint: a node with no in-edge or no out-edge in
    *     the live subgraph cannot sit on a cycle — it is its own SCC.
    *     Peeling handles the (acyclic) periphery in diameter-of-DAG
    *     rounds, which is what makes the coloring affordable: without
    *     it, a chain of k singleton SCCs costs k full coloring rounds.
    *  2. COLOR: propagate min node id FORWARD to fixpoint — c(v) =
    *     min id that reaches v. Class pivots satisfy c(p) = p.
    *  3. EXTRACT: SCC(p) = nodes of class p that reach p back,
    *     computed by a BACKWARD mark wave restricted to the class
    *     (sound: SCC(p) ⊆ class p, and every u ∈ SCC(p) has a u→p
    *     path inside SCC(p)). Assign, remove, repeat from 1.
    *
    * Every update is a min-fold or a set union — partitioning-
    * independent, so results are bit-identical at any parallelism.
    * Self-loop edges are dropped (they never change SCC membership);
    * nodes incident ONLY to self-loops leave the vertex universe, as
    * in the oracle.
    *
    * Scale shape: each step is degree-bounded joins + distincts, run
    * `hops` steps per barrier through [[Fixpoint]]. Step count is
    * bounded by periphery DAG depth + giant-SCC diameter per outer
    * iteration — web graphs are shallow. `maxIter` is one budget of
    * barriers shared by all three phases; a graph that needs more
    * throws `IllegalStateException` rather than run unbounded. */
  def stronglyConnected(edges: DataFrame, maxIter: Int = 200,
                        hops: Int = 3,
                        driverEdgeGate: Long = 200000L): DataFrame = {
    import edges.sparkSession.implicits._
    val spark = edges.sparkSession
    // checkpoint+count pairs here and below are LAZY checkpoint +
    // count(): a full-scan action materializes the checkpoint in the
    // same job, halving the driver-blocking jobs per barrier
    var live = edges.select(col("src_id").as("s"), col("dst_id").as("t"))
      .where(col("s") =!= col("t")).distinct().localCheckpoint(false)
    var nodes = live.select(col("s").as("v"))
      .unionAll(live.select(col("t").as("v"))).distinct().localCheckpoint(false)
    var assigned = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("scc_id", org.apache.spark.sql.types.LongType))))
    val fixpoint = new Fixpoint("stronglyConnected", maxIter, hops)
    // Upfront size gate (the components() idiom, round 6): when the
    // WHOLE graph already fits the driver budget, solve it there
    // immediately — Kosaraju on ≤200k edges beats ~60 sequential
    // trim/color/extract exchange stages of pure scheduling latency,
    // and at crawl scale the gate simply never fires here (the
    // distributed trim shrinks the live set first, and the same gate
    // swallows the residue below, unchanged). Same labels either way:
    // scc_id = min member, trim-singletons are their own SCC.
    if (live.count() <= driverEdgeGate) {
      val es = live.select(col("s"), col("t")).as[(Long, Long)].collect()
      val comp = kosaraju(es)
      val out = if (comp.isEmpty) assigned
        else assigned.unionAll(comp.toSeq.toDF("v", "scc_id"))
      val sz = out.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
      return out.join(sz, Seq("scc_id"))
        .select(col("v"), col("scc_id"), col("scc_size"))
    }
    var remaining = nodes.count()
    while (remaining > 0) {
      // ---- 1. trim to fixpoint: keep the nodes with an in- and an
      // out-edge among live edges between kept nodes. Nodes only leave,
      // so a repeated count is the fixpoint (and the kept set's size)
      val kept = fixpoint.stable(nodes, Some(remaining)) { n =>
        val l = live.join(n.select(col("v").as("s")), Seq("s"), "left_semi")
          .join(n.select(col("v").as("t")), Seq("t"), "left_semi")
        val keep = l.select(col("s").as("v")).distinct()
          .join(l.select(col("t").as("v")).distinct(), Seq("v"), "left_semi")
        n.join(keep, Seq("v"), "left_semi")
      } { n => remaining = n.count(); remaining }
      assigned = assigned
        .unionAll(nodes.join(kept, Seq("v"), "left_anti").select(col("v"), col("v").as("scc_id")))
        .localCheckpoint(false)
      nodes = kept
      live = live
        .join(nodes.select(col("v").as("s")), Seq("s"), "left_semi")
        .join(nodes.select(col("v").as("t")), Seq("t"), "left_semi")
        .localCheckpoint(false)
      if (remaining > 0 && live.count() <= driverEdgeGate) {
        // ---- driver finish: the residual graph (post-trim) is small —
        // collect and run Kosaraju on the driver, the same size-gated
        // driver-solve pattern as Dedup's union-find for WCC. At crawl
        // scale the distributed trim+color+extract rounds shrink the
        // live graph first; the gate only ever swallows a bounded
        // residue. Kosaraju here vs Tarjan in the spec keeps the
        // engine/test algorithms independent.
        val es = live.select(col("s"), col("t")).as[(Long, Long)].collect()
        val comp = kosaraju(es)
        assigned = assigned
          .unionAll(comp.toSeq.toDF("v", "scc_id"))
          .localCheckpoint(false)
        remaining = 0L
      }
      if (remaining > 0) {
        // ---- 2. forward min-label coloring to fixpoint; labels only
        // ever decrease, so a batch that moved no label is the fixpoint
        val cls = fixpoint.run(nodes.select(col("v"), col("v").as("c"))) { cIn =>
          val inMin = live
            .join(cIn.select(col("v").as("s"), col("c").as("cs")), Seq("s"))
            .groupBy(col("t")).agg(min(col("cs")).as("m"))
            .select(col("t").as("v"), col("m"))
          cIn.join(inMin, Seq("v"), "left")
            .select(col("v"), least(col("c"), coalesce(col("m"), col("c"))).as("c"))
        } { (c, c2) =>
          c2.select(col("v"), col("c").as("c2"))
            .join(c, Seq("v")).where(col("c2") =!= col("c")).count() == 0L
        }
        // ---- 3. extract each pivot's SCC by a class-local backward
        // wave; mark sets only grow, so a repeated count is the fixpoint
        val m0 = cls.where(col("v") === col("c")).localCheckpoint(false)
        val mark = fixpoint.stable(m0, Some(m0.count())) { m =>
          val next = live
            .join(m.select(col("v").as("t"), col("c").as("mc")), Seq("t"))
            .join(cls.select(col("v").as("s"), col("c").as("sc")), Seq("s"))
            .where(col("sc") === col("mc"))
            .select(col("s").as("v"), col("sc").as("c"))
          m.unionAll(next).groupBy(col("v")).agg(min(col("c")).as("c"))
        }(_.count())
        assigned = assigned
          .unionAll(mark.select(col("v"), col("c").as("scc_id")))
          .localCheckpoint(false)
        // the next trim's steps drop the live edges of marked nodes
        nodes = nodes.join(mark, Seq("v"), "left_anti").localCheckpoint(false)
        remaining = nodes.count()
      }
    }
    val sizes = assigned.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    assigned.join(sizes, Seq("scc_id"))
      .select(col("v"), col("scc_id"), col("scc_size"))
  }

  /** Driver-side Kosaraju for the size-gated residual finish of
    * stronglyConnected. Returns v -> scc_id with scc_id = min member —
    * the same id the distributed min-label path produces (a pivot p has
    * c(p)=p, i.e. no smaller vertex reaches it; every member of p's SCC
    * reaches p, so p is the component minimum). Iterative DFS on both
    * passes: residual chains can exceed JVM stack depth. */
  private def kosaraju(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val verts = {
      val set = new java.util.TreeSet[java.lang.Long]()
      edges.foreach { case (s, t) => set.add(s); set.add(t) }
      val a = new Array[Long](set.size)
      var i = 0
      val it = set.iterator()
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      a
    }
    val n = verts.length
    val idx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var i = 0
    while (i < n) { idx.put(verts(i), i); i += 1 }
    val fwd = Array.fill(n)(List.empty[Int])
    val rev = Array.fill(n)(List.empty[Int])
    edges.foreach { case (s, t) =>
      val a = idx.get(s).intValue(); val b = idx.get(t).intValue()
      fwd(a) ::= b; rev(b) ::= a
    }
    // pass 1: forward-DFS finish order
    val visited = new Array[Boolean](n)
    val order = new Array[Int](n)
    var oi = 0
    val work = scala.collection.mutable.Stack.empty[(Int, List[Int])]
    i = 0
    while (i < n) {
      if (!visited(i)) {
        visited(i) = true
        work.push((i, fwd(i)))
        while (work.nonEmpty) {
          val (v, rest) = work.pop()
          rest match {
            case h :: tl =>
              work.push((v, tl))
              if (!visited(h)) { visited(h) = true; work.push((h, fwd(h))) }
            case Nil =>
              order(oi) = v; oi += 1
          }
        }
      }
      i += 1
    }
    // pass 2: reverse-DFS in decreasing finish order; root labels the component
    val comp = Array.fill(n)(-1)
    val st2 = scala.collection.mutable.Stack.empty[Int]
    var oj = n - 1
    while (oj >= 0) {
      val r = order(oj)
      if (comp(r) < 0) {
        comp(r) = r
        st2.push(r)
        while (st2.nonEmpty) {
          val v = st2.pop()
          rev(v).foreach { w => if (comp(w) < 0) { comp(w) = r; st2.push(w) } }
        }
      }
      oj -= 1
    }
    // scc_id = min member, matching the distributed path and the oracle
    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    i = 0
    while (i < n) {
      if (verts(i) < minOf(comp(i))) minOf(comp(i)) = verts(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (verts(i), minOf(comp(i))); i += 1 }
    out
  }

  /** DuckDB oracle for stronglyConnected over the synthetic web's
    * integer ids with the (s+t)%3 periphery carve — INDEPENDENT ground
    * truth, not an engine replica: full recursive transitive closure,
    * scc_id = min over mutual-reachability partners. (The unfiltered
    * graph is one giant SCC — the carve creates the bowtie shape the
    * operator exists for.) */
  def sccOracleSql: String =
    s"WITH e0 AS ($syntheticEdgesOracleSql),\n" +
    """ids AS (SELECT DISTINCT
      |   CAST(regexp_extract(src, 'doc([0-9]+)$', 1) AS BIGINT) AS s,
      |   CAST(regexp_extract(dst, 'doc([0-9]+)$', 1) AS BIGINT) AS t
      |  FROM e0),
      |e AS (SELECT s, t FROM ids WHERE s <> t AND (s + t) % 3 <> 0),
      |reach AS (
      |  WITH RECURSIVE reach(s, t) AS (
      |    SELECT s, t FROM e
      |    UNION
      |    SELECT r.s, e2.t FROM reach r JOIN e e2 ON e2.s = r.t)
      |  SELECT * FROM reach),
      |scc AS (
      |  SELECT v, least(v, coalesce(min(o), v)) AS scc_id FROM (
      |    SELECT s AS v, CAST(NULL AS BIGINT) AS o FROM e
      |    UNION ALL SELECT t, CAST(NULL AS BIGINT) FROM e
      |    UNION ALL
      |    SELECT a.s AS v, a.t AS o FROM reach a
      |    JOIN reach b ON b.s = a.t AND b.t = a.s)
      |  GROUP BY v),
      |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
      |  FROM scc GROUP BY scc_id)
      |SELECT scc.v, scc.scc_id, sz.scc_size
      |FROM scc JOIN sz USING (scc_id)""".stripMargin

  /** DuckDB oracle for gapCompressionStats over the synthetic web's
    * integer ids (the url-embedded doc numbers). Interpolated edges
    * SQL is already stripMargin'd — kept outside the outer stripMargin
    * (the `||`-at-line-start trap). */
  def gapCompressionOracleSql: String =
    s"WITH e0 AS ($syntheticEdgesOracleSql),\n" +
    """ids AS (SELECT DISTINCT
      |   CAST(regexp_extract(src, 'doc([0-9]+)$', 1) AS BIGINT) AS src_id,
      |   CAST(regexp_extract(dst, 'doc([0-9]+)$', 1) AS BIGINT) AS dst_id
      |  FROM e0),
      |g AS (SELECT src_id, dst_id,
      |   lag(dst_id) OVER (PARTITION BY src_id ORDER BY dst_id) AS prev
      |  FROM ids),
      |c AS (SELECT src_id,
      |   CASE WHEN prev IS NULL THEN
      |     CASE WHEN dst_id - src_id >= 0 THEN (dst_id - src_id) * 2
      |          ELSE -(dst_id - src_id) * 2 - 1 END
      |   ELSE dst_id - prev - 1 END AS code
      |  FROM g)
      |SELECT src_id, CAST(count(*) AS BIGINT) AS out_deg,
      |  CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
      |  CAST(sum(CASE WHEN code < 128 THEN 1 WHEN code < 16384 THEN 2
      |    WHEN code < 2097152 THEN 3 WHEN code < 268435456 THEN 4
      |    ELSE 5 END) AS BIGINT) AS packed_bytes,
      |  max(code) AS max_code
      |FROM c GROUP BY src_id""".stripMargin

  /** Graph-ordering cost comparison — the WebGraph/BV lesson that
    * node NUMBERING decides adjacency compressibility: renumber nodes
    * in BFS order (depth from the seed set, ties by url;
    * unreached nodes after all reached ones) and price the SAME edge
    * set under the natural doc-id ordering vs the BFS ordering with
    * the [[gapCompressionStats]] zigzag+varint model. BFS numbering
    * clusters each frontier's ids, so neighbor gaps shrink where
    * crawl locality exists — this census measures by how much, per
    * snapshot, before a 10^11-edge store commits to an ordering.
    *
    * Scale shape: the BFS rank is [[GlobalRank.positions]] over
    * (depth, url) — NEVER a partitionless window; the oracle's
    * row_number is the bounded audit formulation; the id map joins
    * back by url (co-partitioned equi-joins); each ordering collapses
    * to per-src rows then ONE summary row. */
  def graphReorder(edges: DataFrame, seeds: DataFrame,
                   maxDepth: Int = 10, nPartitions: Int = 16): DataFrame = {
    // LAZY checkpoints (round 6): every checkpoint below is followed
    // by an action that materializes it (the rank's offset pass, the
    // bfs joins for `ids`), so the eager variants only added
    // sequential blocking jobs. `e` persists on first compute and is
    // reused by the BFS, both orderings and the node set.
    val e = distinctEdges(edges).localCheckpoint(false)
    val nodes = nodeSet(e)
    val depths = crawlDepth(e, seeds, maxDepth)
    val keyed = nodes.join(depths, Seq("url"), "left")
      .select(col("url"),
        coalesce(col("depth"), lit(Int.MaxValue)).as("depth"))
    val ids = GlobalRank.positions(keyed, Seq(col("depth"), col("url")), nPartitions)
      .select(col("url"), col("pos").as("bfs_id")).localCheckpoint(false)
    val natural = e.select(
      regexp_extract(col("src"), "doc([0-9]+)$", 1).cast("long").as("src_id"),
      regexp_extract(col("dst"), "doc([0-9]+)$", 1).cast("long").as("dst_id"))
    val bfs = e
      .join(ids.select(col("url").as("src"), col("bfs_id").as("src_id")),
        Seq("src"))
      .join(ids.select(col("url").as("dst"), col("bfs_id").as("dst_id")),
        Seq("dst"))
      .select(col("src_id"), col("dst_id"))
    def summarize(g: DataFrame, name: String) =
      gapCompressionStats(g).agg(
          count(lit(1)).as("n_lists"),
          sum(col("out_deg")).as("n_edges"),
          sum(col("raw_bytes")).as("raw_bytes"),
          sum(col("packed_bytes")).as("packed_bytes"))
        .select(lit(name).as("ordering"), col("n_lists"), col("n_edges"),
          col("raw_bytes"), col("packed_bytes"),
          expr("packed_bytes * 1000 div raw_bytes").as("packed_permille"))
    summarize(natural, "natural").unionByName(summarize(bfs, "bfs"))
  }

  /** DuckDB oracle for [[graphReorder]] — BFS depths via the
    * min-over-walks recursive CTE (crawlDepth's oracle formulation),
    * the rank as a plain row_number audit (bounded node table), the
    * same zigzag+varint arithmetic on both orderings. The id-pair
    * DISTINCT matters: the natural mapping is NOT injective on urls
    * (the same doc number on two hosts), so it can collapse edges the
    * bijective BFS ids keep apart — gapCompressionStats dedups, and
    * so must both oracle chains. */
  def graphReorderOracleSql(edgesSql: String, seedsSql: String,
                            maxDepth: Int = 10): String = {
    def gapChain(src: String, p: String): String =
      s"""g$p AS (SELECT src_id, dst_id,
         |   lag(dst_id) OVER (PARTITION BY src_id ORDER BY dst_id) AS prev
         |  FROM (SELECT DISTINCT src_id, dst_id FROM $src) d$p),
         |c$p AS (SELECT src_id,
         |   CASE WHEN prev IS NULL THEN
         |     CASE WHEN dst_id - src_id >= 0 THEN (dst_id - src_id) * 2
         |          ELSE -(dst_id - src_id) * 2 - 1 END
         |   ELSE dst_id - prev - 1 END AS code
         |  FROM g$p),
         |s$p AS (SELECT src_id, count(*) AS deg, count(*) * 8 AS raw,
         |   sum(CASE WHEN code < 128 THEN 1 WHEN code < 16384 THEN 2
         |     WHEN code < 2097152 THEN 3 WHEN code < 268435456 THEN 4
         |     ELSE 5 END) AS packed
         |  FROM c$p GROUP BY src_id)""".stripMargin
    def total(p: String, name: String): String =
      s"SELECT '$name' AS ordering, CAST(count(*) AS BIGINT) AS n_lists, " +
        s"CAST(sum(deg) AS BIGINT) AS n_edges, " +
        s"CAST(sum(raw) AS BIGINT) AS raw_bytes, " +
        s"CAST(sum(packed) AS BIGINT) AS packed_bytes, " +
        s"CAST(sum(packed) * 1000 // sum(raw) AS BIGINT) AS packed_permille " +
        s"FROM s$p"
    s"WITH e0 AS ($edgesSql),\n" +
      "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),\n" +
      "d AS (SELECT * FROM (" +
      crawlDepthOracleSql(edgesSql, seedsSql, maxDepth) + ") dd),\n" +
      """nodes AS (SELECT DISTINCT url FROM
        |  (SELECT src AS url FROM e UNION SELECT dst FROM e)),
        |ord AS (SELECT n.url,
        |   row_number() OVER (ORDER BY coalesce(d.depth, 2147483647),
        |     n.url) - 1 AS bfs_id
        |  FROM nodes n LEFT JOIN d ON n.url = d.url),
        |en AS (SELECT
        |   CAST(regexp_extract(src, 'doc([0-9]+)$', 1) AS BIGINT) AS src_id,
        |   CAST(regexp_extract(dst, 'doc([0-9]+)$', 1) AS BIGINT) AS dst_id
        |  FROM e),
        |eb AS (SELECT o1.bfs_id AS src_id, o2.bfs_id AS dst_id
        |  FROM e JOIN ord o1 ON e.src = o1.url
        |  JOIN ord o2 ON e.dst = o2.url),
        |""".stripMargin +
      gapChain("en", "n") + ",\n" + gapChain("eb", "b") + "\n" +
      total("n", "natural") + "\nUNION ALL\n" + total("b", "bfs")
  }

  // ------------------------------------------------------------------
  // Sitemap coverage (web_sitemap_gap): declared-vs-crawled census —
  // the crawl-completeness audit every large crawl runs against the
  // hosts' own sitemap.xml declarations.
  // ------------------------------------------------------------------

  /** Deterministic per-host sitemap corpus, 13 hosts, four REAL
    * sitemap-protocol variants by host % 4:
    *  - v0: plain `<urlset>` declaring the host's EVEN doc_ids plus
    *    two phantom urls (/zzz0, /zzz1) the crawl never fetched;
    *  - v1: `<urlset>` with `<lastmod>2026-01-DD</lastmod>` (day =
    *    doc_id % 28 + 1) declaring doc_id % 3 == 0 plus one phantom;
    *  - v2: a `<sitemapindex>` of three sub-sitemap locs (an index
    *    declares no urls directly);
    *  - v3: malformed — one complete entry (a phantom) then a
    *    TRUNCATED `<loc>` with no close tag (lenient parsers keep
    *    complete entries only).
    * Built from the documents table with pure column expressions
    * (collect_list → array_sort → array_join), so the oracle can
    * restate every entry in closed form. */
  def syntheticSitemaps(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = col("doc_id")
    val h = d % 13
    val hv = h % 4
    val hostCol = concat(lit("host"), h.cast("string"), lit(".example"))
    val urlCol = concat(lit("https://"), hostCol, lit("/doc"), d.cast("string"))
    val day = lpad((d % 28 + 1).cast("string"), 2, "0")
    val entry = when(hv === 0,
        concat(lit("  <url><loc>"), urlCol, lit("</loc></url>")))
      .when(hv === 1,
        concat(lit("  <url><loc>"), urlCol, lit("</loc><lastmod>2026-01-"),
          day, lit("</lastmod></url>")))
    val declared = docs
      .filter((hv === 0 && d % 2 === 0) || (hv === 1 && d % 3 === 0))
      .select(hostCol.as("host"), struct(d.as("doc_id"), entry.as("e")).as("se"))
      .groupBy(col("host"))
      .agg(array_join(transform(array_sort(collect_list(col("se"))),
        s => s.getField("e")), "\n").as("body"))
    val hosts = spark.range(0, 13).select(
      concat(lit("host"), col("id").cast("string"), lit(".example")).as("host"),
      (col("id") % 4).as("hv"), col("id").cast("string").as("hs"))
    hosts.join(declared, Seq("host"), "left").select(col("host"),
      when(col("hv") === 2, concat(
          lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n"),
          lit("  <sitemap><loc>https://"), col("host"),
          lit("/maps/a.xml</loc></sitemap>\n"),
          lit("  <sitemap><loc>https://"), col("host"),
          lit("/maps/b.xml</loc></sitemap>\n"),
          lit("  <sitemap><loc>https://"), col("host"),
          lit("/maps/c.xml</loc></sitemap>\n</sitemapindex>\n")))
        .when(col("hv") === 3, concat(
          lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          lit("  <url><loc>https://"), col("host"),
          lit("/zzz0</loc></url>\n"),
          lit("  <url><loc>https://"), col("host"), lit("/truncated")))
        .otherwise(concat(
          lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          coalesce(concat(col("body"), lit("\n")), lit("")),
          lit("  <url><loc>https://"), col("host"),
          lit("/zzz0</loc></url>\n"),
          when(col("hv") === 0, concat(lit("  <url><loc>https://"),
              col("host"), lit("/zzz1</loc></url>\n")))
            .otherwise(lit("")),
          lit("</urlset>\n"))).as("sitemap_xml"))
  }

  /** Lenient sitemap-protocol parse: container sniff
    * (`<sitemapindex` vs `<urlset`), then an index-cursor walk over
    * complete `<loc>…</loc>` pairs — a trailing `<loc>` with no close
    * tag is dropped, never an error; `<lastmod>2026-…` immediately
    * after a closed loc contributes its day-of-month. Returns
    * (isIndex, entries as (loc, day — 0 if absent), nIndexLocs). */
  private[graft] def parseSitemap(xml: String): (Boolean, Vector[(String, Int)], Int) = {
    if (xml == null) return (false, Vector.empty, 0)
    val isIndex = xml.contains("<sitemapindex")
    val out = Vector.newBuilder[(String, Int)]
    var nIndex = 0
    var i = 0
    while ({ i = xml.indexOf("<loc>", i); i >= 0 }) {
      val s = i + 5
      val e = xml.indexOf("</loc>", s)
      if (e < 0) { i = xml.length }
      else {
        val loc = xml.substring(s, e)
        if (isIndex) nIndex += 1
        else {
          var day = 0
          val after = e + 6
          if (xml.startsWith("<lastmod>", after) &&
              xml.length >= after + 19) {
            val d1 = xml.charAt(after + 17) - '0'
            val d2 = xml.charAt(after + 18) - '0'
            if (d1 >= 0 && d1 <= 9 && d2 >= 0 && d2 <= 9)
              day = d1 * 10 + d2
          }
          out += ((loc, day))
        }
        i = e + 6
      }
    }
    (isIndex, out.result(), nIndex)
  }

  /** Sitemap coverage census: parse each host's sitemap (REAL bytes —
    * [[parseSitemap]]), full-outer join the declared urls against the
    * fetched url set, roll up per host: declared/fetched/both/
    * declared-only (dead sitemap entries)/fetched-only (undeclared
    * crawl), the lastmod-day sum (pins the date parse), and the
    * index-entry count. Scale shape: the per-host parse is one
    * flatMap kernel (xml never leaves its partition — only url
    * scalars come out); ONE url-keyed full-outer shuffle; one
    * partial-agg host rollup. */
  def sitemapCoverage(sitemaps: DataFrame, fetched: DataFrame): DataFrame = {
    val spark = sitemaps.sparkSession
    import spark.implicits._
    val parsed = sitemaps.select(col("host"), col("sitemap_xml"))
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (host, xml) =>
        val (isIdx, entries, nIdx) = parseSitemap(xml)
        if (entries.isEmpty)
          Iterator((host, null: String, 0, if (isIdx) 1 else 0, nIdx))
        else entries.iterator.map { case (loc, day) =>
          (host, loc, day, if (isIdx) 1 else 0, nIdx)
        }
      })
      .toDF("host", "loc", "lastmod_day", "is_index", "n_index_locs")
    val declared = parsed.filter(col("loc").isNotNull)
      .select(col("host"), col("loc").as("url"), col("lastmod_day"))
    val hostMeta = parsed.groupBy(col("host"))
      .agg(max(col("is_index")).as("is_index"),
        max(col("n_index_locs")).as("n_index_locs"))
    val f = fetched.select(col("url").cast("string"),
      regexp_extract(col("url"), "^https?://([^/?#]+)", 1).as("fhost"),
      lit(1L).as("fetched"))
    val joined = declared.withColumn("decl", lit(1L))
      .join(f, Seq("url"), "full_outer")
      .select(coalesce(col("host"), col("fhost")).as("host"),
        coalesce(col("decl"), lit(0L)).as("decl"),
        coalesce(col("fetched"), lit(0L)).as("fetched"),
        coalesce(col("lastmod_day"), lit(0)).cast("long").as("lastmod_day"))
      .groupBy(col("host"))
      .agg(sum(col("decl")).as("n_declared"),
        sum(col("fetched")).as("n_fetched"),
        sum(col("decl") * col("fetched")).as("n_both"),
        sum(col("decl") * (lit(1L) - col("fetched"))).as("n_declared_only"),
        sum((lit(1L) - col("decl")) * col("fetched")).as("n_fetched_only"),
        sum(col("decl") * col("lastmod_day")).as("sum_lastmod_day"))
    hostMeta.join(joined, Seq("host"), "full_outer")
      .select(col("host"),
        coalesce(col("is_index"), lit(0)).cast("long").as("is_index"),
        coalesce(col("n_index_locs"), lit(0)).cast("long").as("n_index_locs"),
        coalesce(col("n_declared"), lit(0L)).as("n_declared"),
        coalesce(col("n_fetched"), lit(0L)).as("n_fetched"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        coalesce(col("n_declared_only"), lit(0L)).as("n_declared_only"),
        coalesce(col("n_fetched_only"), lit(0L)).as("n_fetched_only"),
        coalesce(col("sum_lastmod_day"), lit(0L)).as("sum_lastmod_day"))
  }

  /** Closed-form oracle for
    * sitemapCoverage(syntheticSitemaps(documents), canonical urls):
    * never parses XML — declared sets restated per variant rule
    * (v0 even docs + 2 phantoms, v1 %3 docs + 1 phantom, v2 none,
    * v3 one surviving phantom — the truncated entry must NOT count),
    * lastmod-day sum as the same doc_id%28+1 arithmetic, fetched =
    * every canonical url. */
  def sitemapGapOracleSql: String =
    """WITH hosts AS (
      |  SELECT g.g AS hid, 'host' || CAST(g.g AS VARCHAR) || '.example' AS host,
      |    g.g % 4 AS hv
      |  FROM generate_series(0, 12) g(g)),
      |docs AS (SELECT doc_id, doc_id % 13 AS hid FROM documents),
      |decl AS (
      |  SELECT h.host,
      |    'https://' || h.host || '/doc' || CAST(d.doc_id AS VARCHAR) AS url,
      |    CASE WHEN h.hv = 1 THEN d.doc_id % 28 + 1 ELSE 0 END AS lastmod_day
      |  FROM hosts h JOIN docs d ON d.hid = h.hid
      |  WHERE (h.hv = 0 AND d.doc_id % 2 = 0)
      |     OR (h.hv = 1 AND d.doc_id % 3 = 0)
      |  UNION ALL
      |  SELECT host, 'https://' || host || '/zzz0', 0 FROM hosts
      |    WHERE hv IN (0, 1, 3)
      |  UNION ALL
      |  SELECT host, 'https://' || host || '/zzz1', 0 FROM hosts
      |    WHERE hv = 0),
      |fetched AS (
      |  SELECT h.host,
      |    'https://' || h.host || '/doc' || CAST(d.doc_id AS VARCHAR) AS url
      |  FROM hosts h JOIN docs d ON d.hid = h.hid),
      |j AS (
      |  SELECT coalesce(d.host, f.host) AS host,
      |    CASE WHEN d.url IS NULL THEN 0 ELSE 1 END AS decl,
      |    CASE WHEN f.url IS NULL THEN 0 ELSE 1 END AS fet,
      |    coalesce(d.lastmod_day, 0) AS lastmod_day
      |  FROM decl d FULL OUTER JOIN fetched f ON d.url = f.url),
      |cov AS (
      |  SELECT host, CAST(sum(decl) AS BIGINT) AS n_declared,
      |    CAST(sum(fet) AS BIGINT) AS n_fetched,
      |    CAST(sum(decl * fet) AS BIGINT) AS n_both,
      |    CAST(sum(decl * (1 - fet)) AS BIGINT) AS n_declared_only,
      |    CAST(sum((1 - decl) * fet) AS BIGINT) AS n_fetched_only,
      |    CAST(sum(decl * lastmod_day) AS BIGINT) AS sum_lastmod_day
      |  FROM j GROUP BY host)
      |SELECT h.host,
      |  CAST(CASE WHEN h.hv = 2 THEN 1 ELSE 0 END AS BIGINT) AS is_index,
      |  CAST(CASE WHEN h.hv = 2 THEN 3 ELSE 0 END AS BIGINT) AS n_index_locs,
      |  coalesce(c.n_declared, 0) AS n_declared,
      |  coalesce(c.n_fetched, 0) AS n_fetched,
      |  coalesce(c.n_both, 0) AS n_both,
      |  coalesce(c.n_declared_only, 0) AS n_declared_only,
      |  coalesce(c.n_fetched_only, 0) AS n_fetched_only,
      |  coalesce(c.sum_lastmod_day, 0) AS sum_lastmod_day
      |FROM hosts h LEFT JOIN cov c ON h.host = c.host""".stripMargin
}
