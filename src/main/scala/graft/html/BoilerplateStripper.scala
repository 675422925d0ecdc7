package graft.html

import scala.collection.mutable

/** Main-content extraction from HTML: tag tokenizer → block segmentation
  * → text/link-density classification, following the public
  * Boilerpipe / jusText family of heuristics (SURVEY §2.5 — north-rule
  * addition, no reference analog). Deterministic, no DOM library.
  */
object BoilerplateStripper {

  private[html] val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "tr", "table", "ul", "ol", "dl", "dd", "dt", "article", "section",
    "main", "header", "footer", "nav", "aside", "form", "blockquote",
    "pre", "br", "hr", "figcaption", "figure", "body")

  private[html] val skipContentTags = Set("script", "style", "noscript", "svg", "template", "iframe")

  /** Containers whose text is boilerplate by construction. */
  private[html] val boilerplateContext = Set("nav", "footer", "aside", "form")

  // one flags computation per tag instead of 3-4 Set probes (each
  // probe re-dispatched hashCode/equals on the fresh tag-name String —
  // the tag-classification line was 6% of mixed-corpus JFR samples,
  // and an interim HashMap variant still paid hash+probe per tag).
  // Length-then-char switches: no hashing, no allocation. MUST stay in
  // sync with blockTags / skipContentTags / boilerplateContext above
  // (TagTableSpec asserts equivalence over the full tag inventory).
  private final val FlagSkip = 1
  private final val FlagBlock = 2
  private final val FlagBoiler = 4
  private final val FlagA = 8

  /** Java-whitespace test without the Character.isWhitespace call on
    * the ASCII fast path. All ASCII whitespace code points sit below
    * 64 — 9-13 (TAB LF VT FF CR), 28-31 (FS GS RS US) and 32 (SP) —
    * and 64..127 contains none, so only ch ≥ 128 delegates.
    * Bit-identical to Character.isWhitespace for every char
    * (WhitespaceMaskSpec proves it over the full BMP). Measured
    * perf-NEUTRAL on the gate corpus (3 interleaved A/B pairs read
    * +4.4/+0.7/−6.6% — inside this host's noise; isWhitespace was
    * already an intrinsic); kept because the collapse scan now also
    * RETURNS the non-ws count, which deleted the second full pass
    * over every anchor run (strictly less work). */
  private final val AsciiWsMask: Long =
    (0x1FL << 9) | (0xFL << 28) | (1L << 32) // 9-13, 28-31, 32
  @inline private[html] def isWs(ch: Char): Boolean =
    if (ch < 64) ((1L << ch) & AsciiWsMask) != 0
    else ch >= 128 && Character.isWhitespace(ch)

  private[html] def classifyTag(t: String): Int = {
    @inline def is(lit: String): Boolean = t == lit // length pre-matched
    t.length match {
      case 1 => t.charAt(0) match {
        case 'a' => FlagA
        case 'p' => FlagBlock
        case _   => 0
      }
      case 2 =>
        val c0 = t.charAt(0); val c1 = t.charAt(1)
        c0 match {
          case 'h' => if ((c1 >= '1' && c1 <= '6') || c1 == 'r') FlagBlock else 0
          case 'l' => if (c1 == 'i') FlagBlock else 0
          case 't' => if (c1 == 'd' || c1 == 'h' || c1 == 'r') FlagBlock else 0
          case 'u' => if (c1 == 'l') FlagBlock else 0
          case 'o' => if (c1 == 'l') FlagBlock else 0
          case 'd' => if (c1 == 'l' || c1 == 'd' || c1 == 't') FlagBlock else 0
          case 'b' => if (c1 == 'r') FlagBlock else 0
          case _   => 0
        }
      case 3 =>
        if (is("div")) FlagBlock
        else if (is("nav")) FlagBlock | FlagBoiler
        else if (is("pre")) FlagBlock
        else if (is("svg")) FlagSkip
        else 0
      case 4 =>
        if (is("form")) FlagBlock | FlagBoiler
        else if (is("main") || is("body")) FlagBlock
        else 0
      case 5 =>
        if (is("table")) FlagBlock
        else if (is("aside")) FlagBlock | FlagBoiler
        else if (is("style")) FlagSkip
        else 0
      case 6 =>
        if (is("script") || is("iframe")) FlagSkip
        else if (is("footer")) FlagBlock | FlagBoiler
        else if (is("header") || is("figure")) FlagBlock
        else 0
      case 7 =>
        if (is("article") || is("section")) FlagBlock else 0
      case 8 =>
        if (is("noscript") || is("template")) FlagSkip else 0
      case 10 =>
        if (is("blockquote") || is("figcaption")) FlagBlock else 0
      case _ => 0
    }
  }

  // tiny multi-lang stopword set (jusText uses per-lang lists; a compact
  // high-frequency core is enough for the density signal)
  private val stopwords: Set[String] = Set(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
    "from", "has", "have", "not", "but", "they", "you", "we", "его",
    "der", "die", "das", "und", "les", "des", "une", "est", "el", "la",
    "de", "en", "que", "un", "los")

  private final case class Block(
      text: String, tag: String, linkedChars: Int, inBoiler: Boolean,
      tableId: Int = 0, rowId: Int = 0) {
    def len: Int = text.length
    def linkDensity: Double = if (len == 0) 1.0 else linkedChars.toDouble / len
    def isHeading: Boolean = tag.length == 2 && tag.charAt(0) == 'h' && tag.charAt(1).isDigit
    def stopwordDensity: Double = {
      val words = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      if (words.isEmpty) 0.0
      else words.count(stopwords.contains).toDouble / words.length
    }
  }

  def strip(bytes: Array[Byte]): String = strip(decodeCharset(bytes))

  def strip(html: String): String =
    classify(segment(html)).map(_.text).mkString("\n\n")

  /** One-pass combined extraction: (text, markdown, title) with a
    * single charset decode + a single tokenize/segment (the per-doc
    * hot path — profiling showed strip+stripMarkdown+title re-running
    * all three when called separately). */
  def extractAll(bytes: Array[Byte]): (String, String, String) = extractAll(bytes, markdown = true)

  /** [[extractAll]], with the markdown left empty unless `markdown`. */
  def extractAll(bytes: Array[Byte], markdown: Boolean): (String, String, String) = {
    val html = decodeCharset(bytes)
    val blocks = segment(html)
    val text = classify(blocks).map(_.text).mkString("\n\n")
    (text, if (markdown) renderMarkdown(blocks) else "", title(html))
  }

  /** <title> text (entity-decoded, whitespace-normalized); empty if
    * absent — page-level metadata for curation pipelines. */
  def title(html: String): String = {
    // case-insensitive scans, NOT html.toLowerCase: lowercasing copies
    // the whole document to find one tag (2.6% of JFR samples)
    val open = indexOfIgnoreCase(html, "<title", 0)
    if (open < 0) return ""
    val gt = html.indexOf('>', open)
    if (gt < 0) return ""
    val close = indexOfIgnoreCase(html, "</title", gt)
    if (close < 0) return ""
    normalizeWs(decodeEntities(html.substring(gt + 1, close)))
  }

  /** indexOf for a lowercase-ASCII-letter needle with ASCII case
    * folding on the haystack (same |0x20 trick as decodeCharset; only
    * letters appear in the needles used here, so folding is exact). */
  private def indexOfIgnoreCase(s: String, pat: String, from: Int): Int = {
    val n = s.length
    val m = pat.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      var k = 0
      while (k < m && {
        val c = s.charAt(i + k)
        val p = pat.charAt(k)
        if (p >= 'a' && p <= 'z') (c | 0x20) == p else c == p
      }) k += 1
      if (k == m) return i
      i += 1
    }
    -1
  }

  def title(bytes: Array[Byte]): String = title(decodeCharset(bytes))

  /** Charset sniff: meta charset=… within the first 2 KB, else UTF-8.
    * Scans raw bytes case-insensitively — no intermediate 2 KB String
    * (this ran per doc on the hot path: ~11% of JFR samples). */
  def decodeCharset(bytes: Array[Byte]): String = {
    val limit = math.min(bytes.length, 2048)
    val pat = "charset="
    var i = 0
    var found = -1
    // byte-compare with ASCII case folding (|0x20): the pattern is all
    // lowercase ASCII + '=' (which has bit 5 set already), so this is
    // equivalent to the Character.toLowerCase comparison it replaces —
    // without a char conversion + virtual call per scanned byte
    while (found < 0 && i + pat.length <= limit) {
      if ((bytes(i) | 0x20) == 'c') {
        var k = 1
        while (k < pat.length && (bytes(i + k) | 0x20) == pat.charAt(k)) k += 1
        if (k == pat.length) found = i + pat.length else i += 1
      } else i += 1
    }
    val cs: java.nio.charset.Charset =
      if (found < 0) java.nio.charset.StandardCharsets.UTF_8
      else {
        var j = found
        while (j < limit && (bytes(j) == '"' || bytes(j) == '\'' || bytes(j) == ' ')) j += 1
        val start = j
        while (j < limit && {
          val c = (bytes(j) & 0xff).toChar
          c.isLetterOrDigit || c == '-' || c == '_'
        }) j += 1
        val name = new String(bytes, start, j - start, "ISO-8859-1")
        resolveCharset(name)
      }
    new String(bytes, cs)
  }

  /** Charset OBJECTS memoized by sniffed name: Charset.forName plus the
    * name-based String constructor each re-ran the registry lookup per
    * document (JFR leaf frames on a 30%-HTML corpus). Unknown names
    * fall back to UTF-8, like before; the map is size-capped against
    * hostile unique charset strings. */
  private val charsetCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.charset.Charset]()

  private def resolveCharset(name: String): java.nio.charset.Charset = {
    val hit = charsetCache.get(name)
    if (hit != null) return hit
    val cs =
      try java.nio.charset.Charset.forName(name)
      catch { case _: Throwable => java.nio.charset.StandardCharsets.UTF_8 }
    if (charsetCache.size < 256) charsetCache.putIfAbsent(name, cs)
    cs
  }

  // ------------------------------------------------------------------
  // Tokenize + segment into text blocks
  // ------------------------------------------------------------------
  private def segment(html: String): Vector[Block] =
    new Segmenter(html).run()

  /** Segmenter state lives in FIELDS, not captured locals: the former
    * nested flush/appendCollapsed defs closed over seven mutable vars,
    * which scalac boxes as IntRef/BooleanRef/ObjectRef — so the whole
    * tokenizer loop paid heap derefs per character (same disease the
    * whitespace scanner had; JFR-verified). */
  private final class Segmenter(html: String) {
    private val blocks = Vector.newBuilder[Block]
    private var prevWs = true // collapse whitespace as we append (leading skipped)
    private var linked = 0
    private var curTag = "p"
    private var aDepth = 0
    private var boilerDepth = 0
    private var skipTag: String = null
    private var tableId = 0
    private var rowId = 0
    private var i = 0
    private val n = html.length
    // primitive array for the per-character scan (String.charAt on
    // UTF16 strings pays a non-eliminated checkIndex per call);
    // indexOf/substring still use the String
    private val ca = html.toCharArray
    // Collapsed block text accumulates in a raw char[] cursor, not a
    // StringBuilder: per-word append(' ') + append-range paid
    // ensureCapacity/coder checks per call (5% of JFR samples); plain
    // stores + arraycopy don't. Capacity n is a proof-backed bound:
    // every source char yields ≤ 1 output char (collapse shrinks,
    // decodeEntities never expands — named map is 1-char values,
    // numeric forms are ≥4 source chars for ≤2 output chars).
    private val out = new Array[Char](n)
    private var w = 0

    private def flush(): Unit = {
      // out is already whitespace-collapsed; just drop a trailing space
      var e = w
      if (e > 0 && out(e - 1) == ' ') e -= 1
      if (e > 0) {
        val t = new String(out, 0, e)
        blocks += Block(t, curTag, math.min(linked, t.length),
          boilerDepth > 0, tableId, rowId)
      }
      w = 0
      prevWs = true
      linked = 0
    }

    /** Returns the number of non-whitespace chars appended — exactly
      * the count the link-density pass needs, so anchor runs are not
      * re-scanned (the maximal word runs partition the non-ws chars). */
    private def appendCollapsed(decoded: String): Int = {
      val m = decoded.length
      var words = 0
      var k = 0
      while (k < m) {
        val ch = decoded.charAt(k)
        if (isWs(ch)) {
          if (!prevWs) { out(w) = ' '; w += 1; prevWs = true }
          k += 1
        } else {
          // bulk-append the run of non-whitespace (one range copy)
          var e = k + 1
          while (e < m && !isWs(decoded.charAt(e))) e += 1
          decoded.getChars(k, e, out, w)
          w += e - k
          words += e - k
          prevWs = false
          k = e
        }
      }
      words
    }

    /** appendCollapsed over the raw char array — the entity-free fast
      * path (no substring copy, no decodeEntities pass, no per-char
      * String.charAt checkIndex). Byte-identical output to
      * appendCollapsed(decodeEntities(...)) when the run has no '&'.
      * Returns the non-whitespace char count (see appendCollapsed). */
    private def appendCollapsedRaw(from: Int, until: Int): Int = {
      var words = 0
      var k = from
      while (k < until) {
        val ch = ca(k)
        if (isWs(ch)) {
          if (!prevWs) { out(w) = ' '; w += 1; prevWs = true }
          k += 1
        } else {
          var e = k + 1
          while (e < until && !isWs(ca(e))) e += 1
          System.arraycopy(ca, k, out, w, e - k)
          w += e - k
          words += e - k
          prevWs = false
          k = e
        }
      }
      words
    }

    def run(): Vector[Block] = {
      loop()
      flush()
      blocks.result()
    }

    private def loop(): Unit = while (i < n) {
      val c = ca(i)
      if (c == '<') {
        if (i + 3 < n && ca(i + 1) == '!' && ca(i + 2) == '-' && ca(i + 3) == '-') {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (ca(i + 1) == '!' || ca(i + 1) == '?')) {
          val end = html.indexOf('>', i + 1)
          i = if (end < 0) n else end + 1
        } else {
          val end = html.indexOf('>', i + 1)
          if (end < 0) i = n
          else {
            // tag-name parse straight off the char array: the old
            // substring + takeWhile + toLowerCase allocated three
            // objects PER TAG. ASCII names (all real HTML) lowercase
            // in place; anything else falls back to the exact legacy
            // expression so semantics cannot drift.
            var p = i + 1
            val closing = p < end && ca(p) == '/'
            if (closing) p += 1
            val nameStart = p
            var ascii = true
            while (p < end && Character.isLetterOrDigit(ca(p))) {
              if (ca(p) >= 128) ascii = false
              p += 1
            }
            val rawName =
              if (ascii) {
                val len = p - nameStart
                if (len == 0) ""
                else {
                  val buf = new Array[Char](len)
                  var q = 0
                  while (q < len) {
                    val ch = ca(nameStart + q)
                    buf(q) = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
                    q += 1
                  }
                  new String(buf)
                }
              } else {
                val inner0 = html.substring(i + 1, end)
                (if (closing) inner0.substring(1) else inner0)
                  .takeWhile(ch => ch.isLetterOrDigit).toLowerCase
              }
            val selfClose = end > i + 1 && ca(end - 1) == '/'
            if (skipTag != null) {
              if (closing && rawName == skipTag) skipTag = null
            } else {
              val flags = classifyTag(rawName)
              if ((flags & FlagSkip) != 0 && !closing && !selfClose) {
                skipTag = rawName
              } else if ((flags & FlagA) != 0) {
                if (closing) aDepth = math.max(0, aDepth - 1) else aDepth += 1
              } else if ((flags & FlagBlock) != 0) {
                flush()
                if ((flags & FlagBoiler) != 0) {
                  if (closing) boilerDepth = math.max(0, boilerDepth - 1)
                  else if (!selfClose) boilerDepth += 1
                }
                if (rawName == "table" && !closing) tableId += 1
                if (rawName == "tr") rowId += 1
                if (!closing) curTag = rawName
              }
            }
            i = end + 1
          }
        }
      } else {
        if (skipTag == null) {
          val start = i
          var hasAmp = false
          while (i < n && ca(i) != '<') {
            if (ca(i) == '&') hasAmp = true
            i += 1
          }
          if (!hasAmp) {
            // entity-free run (the common case): scan ca directly; the
            // collapse scan already counted the non-ws chars, so the
            // former second pass over anchor runs is gone
            val words = appendCollapsedRaw(start, i)
            if (aDepth > 0) linked += words
          } else {
            val decoded = decodeEntities(html.substring(start, i))
            val words = appendCollapsed(decoded)
            if (aDepth > 0) linked += words
          }
        } else i += 1
      }
    }
  }

  /** jusText-style classification: context + length + link density +
    * stopword density decide good vs boilerplate; headings survive when
    * near good content. */
  private def classify(blocks: Vector[Block]): Vector[Block] = {
    val verdicts: Vector[Boolean] = blocks.map { b =>
      if (b.inBoiler) false
      else if (b.linkDensity > 0.33) false
      else if (b.isHeading) b.len >= 3
      else if (b.len < 15) false
      else if (b.len < 60) b.linkDensity < 0.1 && b.stopwordDensity > 0.05
      else true
    }
    // drop headings with no good block after them (jusText edge rule)
    val keep = verdicts.zipWithIndex.map { case (v, idx) =>
      if (v && blocks(idx).isHeading) {
        val after = (idx + 1 until blocks.length)
          .find(j => !blocks(j).isHeading)
        after.forall(j => verdicts(j))
      } else v
    }
    blocks.zip(keep).collect { case (b, true) => b }
  }

  /** Structured markdown render: #-headings, - bullets for <li>,
    * | pipe | rows | for table cells, plain paragraphs. Same
    * boilerplate classification as `strip` for prose; list items and
    * table cells use relaxed length rules (cells are short by nature —
    * the TABLE's aggregate text decides if the table is content). */
  def stripMarkdown(bytes: Array[Byte]): String = stripMarkdown(decodeCharset(bytes))

  def stripMarkdown(html: String): String = renderMarkdown(segment(html))

  private def renderMarkdown(blocks: Vector[Block]): String = {
    // aggregate per-table stats for the relaxed cell rule
    val tableLen = blocks.filter(b => b.tag == "td" || b.tag == "th")
      .groupBy(_.tableId).view.mapValues(_.map(_.len).sum).toMap
    val tableLinked = blocks.filter(b => b.tag == "td" || b.tag == "th")
      .groupBy(_.tableId).view.mapValues(_.map(_.linkedChars).sum).toMap
    def cellTableGood(b: Block): Boolean = {
      val tl = tableLen.getOrElse(b.tableId, 0)
      tl >= 40 && tableLinked.getOrElse(b.tableId, 0).toDouble / math.max(1, tl) < 0.33
    }
    val good = blocks.filter { b =>
      if (b.inBoiler) false
      else if (b.tag == "li") b.len >= 3 && b.linkDensity < 0.33
      else if (b.tag == "td" || b.tag == "th") cellTableGood(b)
      else if (b.linkDensity > 0.33) false
      else if (b.isHeading) b.len >= 3
      else if (b.len < 15) false
      else if (b.len < 60) b.linkDensity < 0.1 && b.stopwordDensity > 0.05
      else true
    }
    val out = new java.lang.StringBuilder
    var i = 0
    def sep(): Unit = if (out.length > 0) out.append("\n\n")
    while (i < good.length) {
      val b = good(i)
      b.tag match {
        case t if b.isHeading =>
          sep()
          out.append("#" * (t.charAt(1) - '0')).append(' ').append(b.text)
          i += 1
        case "li" =>
          sep()
          while (i < good.length && good(i).tag == "li") {
            out.append("- ").append(good(i).text)
            i += 1
            if (i < good.length && good(i).tag == "li") out.append('\n')
          }
        case "td" | "th" =>
          sep()
          val header = b.tag == "th"
          var firstRow = true
          while (i < good.length && (good(i).tag == "td" || good(i).tag == "th")) {
            val rid = good(i).rowId
            val tid = good(i).tableId
            val cells = Vector.newBuilder[String]
            while (i < good.length && (good(i).tag == "td" || good(i).tag == "th") &&
                   good(i).rowId == rid && good(i).tableId == tid) {
              cells += good(i).text
              i += 1
            }
            val row = cells.result()
            if (!firstRow) out.append('\n')
            out.append("| ").append(row.mkString(" | ")).append(" |")
            if (firstRow && header) {
              out.append('\n').append("|").append(" --- |" * row.length)
            }
            firstRow = false
          }
        case _ =>
          sep()
          out.append(b.text)
          i += 1
      }
    }
    out.toString
  }

  private def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevWs = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c == ' ') {
        if (!prevWs) sb.append(' ')
        prevWs = true
      } else { sb.append(c); prevWs = false }
      i += 1
    }
    sb.toString.trim
  }

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "rsquo" -> "’", "lsquo" -> "‘", "rdquo" -> "”",
    "ldquo" -> "“", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "eacute" -> "é", "egrave" -> "è", "agrave" -> "à", "uuml" -> "ü",
    "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß", "ccedil" -> "ç")

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          if (ent.startsWith("#x") || ent.startsWith("#X")) {
            try { sb.appendCodePoint(Integer.parseInt(ent.substring(2), 16)); i = semi + 1 }
            catch { case _: Throwable => sb.append(c); i += 1 }
          } else if (ent.startsWith("#")) {
            try { sb.appendCodePoint(Integer.parseInt(ent.substring(1))); i = semi + 1 }
            catch { case _: Throwable => sb.append(c); i += 1 }
          } else namedEntities.get(ent) match {
            case Some(r) => sb.append(r); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
