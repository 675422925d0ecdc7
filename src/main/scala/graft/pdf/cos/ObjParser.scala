package graft.pdf.cos

import scala.collection.mutable

/** Recursive-descent parser over a raw PDF byte array.
  *
  * Re-implements the semantics of the reference's nom-based lexer +
  * parser (reference: src/lexer.rs:96-467, src/parser.rs:169-543) as a
  * cursor-over-`Array[Byte]` scanner — no parser-combinator dependency,
  * no intermediate token vector, zero copies until a value is built.
  *
  * Stream /Length values may be indirect references; the caller can
  * supply `resolveLen` (the document's object loader). When the length
  * is unknown or wrong, falls back to scanning for `endstream`
  * (reference: src/parser.rs:352-377 find_endstream).
  */
final class ObjParser(
    val data: Array[Byte],
    var pos: Int = 0,
    resolveLen: PdfObj => Option[Long] = _ => None) {

  import PdfObj._

  @inline def atEnd: Boolean = pos >= data.length
  @inline private def cur: Int = if (pos < data.length) data(pos) & 0xff else -1
  @inline private def peek(off: Int): Int =
    if (pos + off < data.length) data(pos + off) & 0xff else -1

  def error(msg: String): Nothing =
    throw new PdfParseException(s"$msg at offset $pos")

  // --- character classes (PDF 32000-1 §7.2.2) ---
  // One 256-byte class table instead of compare chains: isRegular —
  // the lexer's per-char test in name/keyword scans — was 6 ws + 10
  // delim compares per call (skipWs/isDigit/parseName together ~10%
  // of mixed-corpus leaf samples); now it is a single array load.
  // `c` comes from `cur`/`peek` so its range is [-1, 255].
  import ObjParser.CharClass
  @inline def isWs(c: Int): Boolean = c >= 0 && (CharClass(c) & 1) != 0
  @inline def isRegular(c: Int): Boolean = c >= 0 && CharClass(c) == 0
  @inline private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

  /** Skip whitespace and %-comments (comment runs to EOL). */
  def skipWs(): Unit = {
    var go = true
    while (go && pos < data.length) {
      val c = cur
      if (isWs(c)) pos += 1
      else if (c == '%') { while (pos < data.length && cur != 0x0a && cur != 0x0d) pos += 1 }
      else go = false
    }
  }

  /** Does `kw` start at `pos` and end at a token boundary? */
  def peekKeyword(kw: String): Boolean = {
    if (pos + kw.length > data.length) return false
    var i = 0
    while (i < kw.length) {
      if (data(pos + i) != kw.charAt(i).toByte) return false
      i += 1
    }
    !isRegular(peek(kw.length))
  }

  def takeKeyword(kw: String): Boolean =
    if (peekKeyword(kw)) { pos += kw.length; true } else false

  /** Parse any object starting at the cursor (whitespace already allowed). */
  def parseObject(depth: Int = 0): PdfObj = {
    if (depth > ObjParser.MaxDepth) error("object nesting too deep")
    skipWs()
    if (atEnd) error("unexpected EOF")
    cur match {
      case '/' => parseName()
      case '(' => Str(parseLiteralString())
      case '[' => parseArray(depth)
      case '<' =>
        if (peek(1) == '<') parseDictOrStream(depth) else Str(parseHexString())
      case c if isDigit(c) || c == '+' || c == '-' || c == '.' =>
        parseNumberOrRef()
      case 't' if takeKeyword("true")  => Bool(true)
      case 'f' if takeKeyword("false") => Bool(false)
      case 'n' if takeKeyword("null")  => Null
      case c => error(f"unexpected byte 0x$c%02x")
    }
  }

  /** `/Name` with `#xx` escapes (reference: src/lexer.rs name path).
    * Escape-free names (all of them, in practice) construct as one
    * latin1 slice instead of per-char StringBuilder growth, then
    * dedupe against the canonical-literal pool: pooled results are
    * reference-equal to the string CONSTANTS call sites pass to
    * `Dict.get("Type")` etc. (JVM-interned literals), so every dict
    * probe on a common key short-circuits String.equals. */
  def parseName(): Name = {
    pos += 1 // '/'
    val start = pos
    var sawHash = false
    var h = 0x811c9dc5 // FNV-1a folded into the scan: no second pass
    while (isRegular(cur)) {
      if (cur == '#' && isHexDigit(peek(1)) && isHexDigit(peek(2))) { sawHash = true; pos += 3 }
      else { h = (h ^ cur) * 0x01000193; pos += 1 }
    }
    if (!sawHash)
      return Name(ObjParser.pooledName(data, start, pos - start, h))
    // rare #xx path: re-scan with a builder
    pos = start
    val sb = new java.lang.StringBuilder(16)
    while (isRegular(cur)) {
      if (cur == '#' && isHexDigit(peek(1)) && isHexDigit(peek(2))) {
        sb.append(((hexVal(peek(1)) << 4) | hexVal(peek(2))).toChar)
        pos += 3
      } else { sb.append(cur.toChar); pos += 1 }
    }
    Name(sb.toString)
  }

  @inline private def isHexDigit(c: Int): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def hexVal(c: Int): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

  /** Literal `(...)` string: nesting, escapes, EOL normalization to \n
    * (reference: src/parser.rs:48-167). */
  def parseLiteralString(): Array[Byte] = {
    pos += 1 // '('
    // Fast path (the overwhelmingly common case for content-stream Tj
    // strings): no nesting, escapes, or raw CR before the closing ')'
    // → the payload is a contiguous slice, one copy, no per-byte
    // builder growth (mkArray was a top-10 JFR leaf frame).
    var scan = pos
    while (scan < data.length) {
      val b = data(scan) & 0xff
      if (b == ')') {
        val out = java.util.Arrays.copyOfRange(data, pos, scan)
        pos = scan + 1
        return out
      } else if (b == '(' || b == '\\' || b == 0x0d) scan = Int.MaxValue // slow path
      else scan += 1
    }
    val out = new mutable.ArrayBuilder.ofByte
    var depth = 1
    while (depth > 0) {
      if (atEnd) error("unterminated literal string")
      val c = cur
      c match {
        case '(' => depth += 1; out += '('.toByte; pos += 1
        case ')' =>
          depth -= 1; if (depth > 0) out += ')'.toByte
          pos += 1
        case '\\' =>
          pos += 1
          cur match {
            case 'n' => out += '\n'.toByte; pos += 1
            case 'r' => out += '\r'.toByte; pos += 1
            case 't' => out += '\t'.toByte; pos += 1
            case 'b' => out += '\b'.toByte; pos += 1
            case 'f' => out += 0x0c.toByte; pos += 1
            case '(' => out += '('.toByte; pos += 1
            case ')' => out += ')'.toByte; pos += 1
            case '\\' => out += '\\'.toByte; pos += 1
            case 0x0d => // line continuation: \ CR [LF]
              pos += 1; if (cur == 0x0a) pos += 1
            case 0x0a => pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var n = 0
              while (n < 3 && cur >= '0' && cur <= '7') { v = v * 8 + (cur - '0'); pos += 1; n += 1 }
              out += (v & 0xff).toByte
            case -1 => error("unterminated escape")
            case other => out += other.toByte; pos += 1 // \x → x
          }
        case 0x0d => // raw EOL inside string → 0x0A (spec 7.3.4.2)
          pos += 1; if (cur == 0x0a) pos += 1
          out += '\n'.toByte
        case _ => out += c.toByte; pos += 1
      }
    }
    out.result()
  }

  /** Hex `<...>` string; whitespace skipped; odd length padded with 0
    * (reference: src/parser.rs:517-543). */
  def parseHexString(): Array[Byte] = {
    pos += 1 // '<'
    val out = new mutable.ArrayBuilder.ofByte
    var hi = -1
    var done = false
    while (!done) {
      if (atEnd) error("unterminated hex string")
      val c = cur
      if (c == '>') { done = true; pos += 1 }
      else if (isHexDigit(c)) {
        if (hi < 0) hi = hexVal(c)
        else { out += ((hi << 4) | hexVal(c)).toByte; hi = -1 }
        pos += 1
      } else pos += 1 // skip ws/garbage inside hex strings (lenient)
    }
    if (hi >= 0) out += (hi << 4).toByte
    out.result()
  }

  /** Number, or `id gen R` indirect reference (backtracks if not R). */
  def parseNumberOrRef(): PdfObj = {
    val start = pos
    val n1 = parseNumber()
    n1 match {
      case Int64(id) if id >= 0 =>
        val save = pos
        skipWs()
        if (isDigit(cur)) {
          val genStart = pos
          parseNumber() match {
            case Int64(gen) if gen >= 0 =>
              skipWs()
              if (cur == 'R' && !isRegular(peek(1))) {
                pos += 1
                return Ref(id.toInt, gen.toInt)
              } else { pos = save; return n1 }
            case _ => pos = save; return n1
          }
          pos = genStart // unreachable, satisfies compiler
        } else pos = save
        n1
      case other => if (pos == start) error("bad number"); other
    }
  }

  def parseNumber(): PdfObj = {
    val start = pos
    var neg = false
    if (cur == '+') pos += 1
    else if (cur == '-') { neg = true; pos += 1 }
    // tolerate multiple signs like "--5" (lenient, matches permissive readers)
    while (cur == '+' || cur == '-') pos += 1
    var intPart = 0L
    var sawDigit = false
    while (isDigit(cur)) { intPart = intPart * 10 + (cur - '0'); pos += 1; sawDigit = true }
    if (cur == '.') {
      pos += 1
      // accumulate fraction as integer/10^n — digit-by-digit *0.1
      // accumulation drifts from the closest-double parse
      var fracInt = 0L
      var nFrac = 0
      while (isDigit(cur)) {
        if (nFrac < 18) { fracInt = fracInt * 10 + (cur - '0'); nFrac += 1 }
        pos += 1; sawDigit = true
      }
      if (!sawDigit) error("bare '.' is not a number")
      val v = intPart + (if (nFrac == 0) 0.0 else fracInt / ObjParser.Pow10(nFrac))
      Real(if (neg) -v else v)
    } else {
      if (!sawDigit) { pos = start; error("expected number") }
      Int64(if (neg) -intPart else intPart)
    }
  }

  def parseArray(depth: Int): Arr = {
    pos += 1 // '['
    val items = Vector.newBuilder[PdfObj]
    var done = false
    while (!done) {
      skipWs()
      // lenient on truncation (reference parser.rs unclosed-array
      // vector): crawl PDFs cut mid-object — keep what parsed
      if (atEnd) done = true
      else if (cur == ']') { done = true; pos += 1 }
      else items += parseObject(depth + 1)
    }
    Arr(items.result())
  }

  def parseDict(depth: Int): Dict = {
    pos += 2 // '<<'
    val entries = Map.newBuilder[String, PdfObj]
    var done = false
    while (!done) {
      skipWs()
      // lenient on truncation, like unclosed arrays above
      if (atEnd) done = true
      else if (cur == '>' && peek(1) == '>') { done = true; pos += 2 }
      else if (cur == '/') {
        val key = parseName().v
        entries += key -> parseObject(depth + 1)
      } else pos += 1 // lenient: skip stray byte inside dict
    }
    Dict(entries.result())
  }

  /** Dict, promoted to Stream if followed by the `stream` keyword. */
  def parseDictOrStream(depth: Int): PdfObj = {
    val dict = parseDict(depth)
    val save = pos
    skipWs()
    if (peekKeyword("stream")) {
      pos += "stream".length
      // EOL after `stream` keyword: CRLF or LF (spec); lenient on CR alone
      if (cur == 0x0d) pos += 1
      if (cur == 0x0a) pos += 1
      val dataStart = pos
      val lenOpt: Option[Long] = dict.get("Length").flatMap {
        case Int64(v)     => Some(v)
        case r: Ref       => resolveLen(r)
        case _            => None
      }
      val end: Int = lenOpt match {
        case Some(len) if len >= 0 && dataStart + len <= data.length =>
          val candidate = (dataStart + len).toInt
          // verify `endstream` really follows (allow EOL before it)
          var p = candidate
          var k = 0
          while (p < data.length && k < 4 && isWs(data(p) & 0xff)) { p += 1; k += 1 }
          if (regionMatches(p, "endstream")) candidate
          else findEndstream(dataStart)
        case _ => findEndstream(dataStart)
      }
      val raw = java.util.Arrays.copyOfRange(data, dataStart, end)
      pos = end
      skipWs()
      takeKeyword("endstream") // best-effort
      Stream(dict, raw)
    } else { pos = save; dict }
  }

  @inline private def regionMatches(p: Int, s: String): Boolean = {
    if (p + s.length > data.length) return false
    var i = 0
    while (i < s.length) { if (data(p + i) != s.charAt(i).toByte) return false; i += 1 }
    true
  }

  /** Scan forward for `endstream`, trimming a trailing EOL
    * (reference: src/parser.rs:352-377). */
  private def findEndstream(from: Int): Int = {
    var p = from
    while (p <= data.length - 9) {
      if (data(p) == 'e' && regionMatches(p, "endstream")) {
        var end = p
        // trim one EOL immediately before endstream
        if (end > from && data(end - 1) == 0x0a) end -= 1
        if (end > from && data(end - 1) == 0x0d) end -= 1
        return end
      }
      p += 1
    }
    data.length
  }

  /** Parse the body of an `N G obj ... endobj` at the cursor positioned
    * AFTER the `obj` keyword; returns the contained object. Tolerates a
    * missing `endobj` (reference: lenient object loading, document.rs). */
  def parseIndirectBody(depth: Int = 0): PdfObj = {
    val obj = parseObject(depth)
    val save = pos
    skipWs()
    if (!takeKeyword("endobj")) pos = save
    obj
  }
}

final class PdfParseException(msg: String) extends RuntimeException(msg)

object ObjParser {
  val MaxDepth = 100 // reference: MAX_RECURSION_DEPTH, src/document.rs:21
  /** Per-byte class flags (PDF 32000-1 §7.2.2): bit 0 = whitespace
    * (NUL TAB LF FF CR SP), bit 1 = delimiter; 0 = regular. */
  private[cos] final val CharClass: Array[Byte] = {
    val t = new Array[Byte](256)
    Seq(0x00, 0x09, 0x0a, 0x0c, 0x0d, 0x20).foreach(c => t(c) = 1)
    "()<>[]{}/%".foreach(c => t(c) = 2)
    t
  }
  /** 10^0..10^18 (exact doubles through 10^18 < 2^63): parseNumber ran
    * math.pow per fractional literal — content streams are mostly
    * decimal coordinates, so that was a transcendental call per token. */
  private[cos] val Pow10: Array[Double] = Array.tabulate(19)(i => math.pow(10, i))

  /** Canonical pool for the names PDF dictionaries repeat constantly
    * (ISO 32000 core vocabulary + every literal this codebase passes to
    * Dict.get). Values are string LITERALS, hence JVM-interned: a
    * pooled parseName result is reference-equal to the constant at the
    * Dict.get call site, so Map key equality short-circuits. Pool
    * misses build a fresh latin1 String — same behavior as before. */
  private val PoolNames: Array[String] = Array(
    "Type", "Length", "Filter", "Subtype", "Font", "Page", "Pages",
    "Kids", "Count", "Parent", "Contents", "Resources", "MediaBox",
    "CropBox", "Rotate", "XObject", "Encoding", "ToUnicode", "BaseFont",
    "FirstChar", "LastChar", "Widths", "FontDescriptor", "Flags",
    "FontWeight", "StemV", "W", "DW", "CIDSystemInfo", "DescendantFonts",
    "Differences", "BaseEncoding", "Root", "Info", "Size", "Prev",
    "XRefStm", "Encrypt", "ID", "Index", "DecodeParms", "Columns",
    "Predictor", "Colors", "BitsPerComponent", "FlateDecode",
    "ASCIIHexDecode", "ASCII85Decode", "LZWDecode", "RunLengthDecode",
    "DCTDecode", "CCITTFaxDecode", "JBIG2Decode", "Width", "Height",
    "ColorSpace", "Image", "Form", "N", "First", "Extends", "ObjStm",
    "XRef", "Catalog", "Outlines", "Annots", "Rect", "A", "S", "URI",
    "Dest", "Title", "Next", "Last", "EarlyChange", "Group",
    "StructTreeRoot", "MarkInfo", "K", "P", "Pg", "MCID", "Identity-H",
    "Type0", "Type1", "TrueType", "Type3", "MMType1", "CIDFontType0",
    "CIDFontType2", "F", "Fm", "Im", "DeviceRGB", "DeviceGray",
    "DeviceCMYK", "Indexed", "ICCBased", "Separation", "Name", "Names",
    "Dests", "Outline", "FontFile", "FontFile2", "FontFile3",
    "WinAnsiEncoding", "MacRomanEncoding", "StandardEncoding",
    "PDFDocEncoding", "Lang", "Metadata", "StructParents", "BBox",
    "Matrix", "Ordering", "Registry", "Supplement", "CIDToGIDMap",
    "AcroForm", "FT", "Ff", "V", "T", "TU", "DA", "Btn", "Tx", "Ch",
    "Sig", "Opt", "AS", "Off", "Yes", "GoTo", "Action", "Link", "Annot",
    "Border", "C", "H", "D", "Fit", "FitH", "FitB", "XYZ", "U", "O",
    "R", "CF", "StmF", "StrF", "AESV2", "AESV3", "V2", "CFM", "StdCF",
    "Standard", "Limits", "Nums", "ItalicAngle", "Ascent", "Descent",
    "CapHeight", "MissingWidth", "AvgWidth", "MaxWidth", "FontBBox")
  private final val PoolSize = 1024 // power of 2, ~6x entries: sparse probes
  private val poolKeys = new Array[Array[Byte]](PoolSize)
  private val poolVals = new Array[String](PoolSize)
  locally {
    PoolNames.foreach { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      var idx = hashNameBytes(b, 0, b.length) & (PoolSize - 1)
      while (poolKeys(idx) != null) idx = (idx + 1) & (PoolSize - 1)
      poolKeys(idx) = b
      poolVals(idx) = s
    }
  }

  @inline private def hashNameBytes(data: Array[Byte], start: Int, len: Int): Int = {
    var h = 0x811c9dc5
    var i = start
    val end = start + len
    while (i < end) { h = (h ^ (data(i) & 0xff)) * 0x01000193; i += 1 }
    h
  }

  private[cos] def pooledName(data: Array[Byte], start: Int, len: Int, hash: Int): String = {
    var idx = hash & (PoolSize - 1)
    var k = poolKeys(idx)
    while (k != null) {
      if (k.length == len) {
        var i = 0
        while (i < len && k(i) == data(start + i)) i += 1
        if (i == len) return poolVals(idx)
      }
      idx = (idx + 1) & (PoolSize - 1)
      k = poolKeys(idx)
    }
    new String(data, start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
