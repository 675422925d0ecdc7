package graft.pdf.doc

import scala.collection.mutable
import graft.pdf.cos._
import graft.pdf.cos.PdfObj._
import graft.pdf.codec.Codecs

final class PdfLoadException(msg: String) extends RuntimeException(msg)

/** One attribute-inherited page (reference: src/document.rs:1290-1425).
  * `ref` is the page object's id — the identity /StructTreeRoot /Pg
  * entries point at. */
final case class Page(
    dict: Dict,
    resources: Dict,
    mediaBox: Array[Double], // [x0 y0 x1 y1]
    rotate: Int,
    ref: Option[Int] = None)

/** In-memory PDF document over a byte payload.
  *
  * Semantic re-implementation of the reference's `PdfDocument`
  * (reference: src/document.rs:40-57): header parse, xref (classic +
  * stream + /Prev chains), trailer, lazy object load with cache,
  * object-stream (ObjStm) support, cycle/depth guards, and a
  * reconstruction fallback for corrupt xrefs (reference:
  * src/xref_reconstruction.rs:58-430). Unlike the reference it works
  * over a byte array, not a file — on Spark the payload is already a
  * binary column in memory.
  */
final class PdfDocument(val data: Array[Byte],
                        password: Array[Byte] = Array.emptyByteArray) {

  def this(data: Array[Byte], password: String) =
    this(data, password.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  val version: String = parseHeader()
  val xref = new XRefTable
  var trailer: Dict = Dict.empty
  private val cache = mutable.HashMap.empty[Int, PdfObj]
  /** MUST be initialized before the `locally` init block below:
    * xref reconstruction harvests ObjStms during construction, and a
    * declaration-after-use left this null there — the swallowed NPE
    * silently dropped every compressed-only object in recovered PDFs
    * (caught by the ported reference objstm vectors). */
  private val objStmCache = mutable.HashMap.empty[Int, (Vector[(Int, Int)], Array[Byte])]
  /** Decoded-font cache (key: font ref id or the dict itself); fonts
    * are shared across pages so decode tables are built once per doc.
    * Values are graft.pdf.font.FontInfo (typed loosely to keep this
    * package free of an upward dependency). */
  val fontInfoCache = mutable.HashMap.empty[AnyRef, graft.pdf.font.FontInfo]
  private val resolving = mutable.HashSet.empty[Int]
  private var reconstructed = false

  /** Standard security handler once /Encrypt is present; strings and
    * streams are decrypted at object-load time, BEFORE filters
    * (reference ordering: src/object.rs:187-260). None while loading
    * the /Encrypt dict itself — its /O //U strings stay raw. */
  private var encryption: Option[graft.pdf.crypto.StdSecurityHandler] = None
  private var encryptRefId: Int = -1

  locally {
    try {
      val off = findXrefOffset()
      parseXrefChain(off)
    } catch { case _: Throwable => () }
    // Fallback ladder (reference: src/document.rs:103-152): too few
    // entries or no /Root ⇒ rebuild by scanning for object headers.
    if (xref.size <= 5 || trailer.get("Root").isEmpty) reconstructXref()
    trailer.get("Encrypt").foreach { e =>
      encryptRefId = e match { case Ref(id, _) => id; case _ => -1 }
      val encDict = resolveDict(e)
      encryption = graft.pdf.crypto.StdSecurityHandler
        .fromTrailer(encDict, resolve(trailer.get("ID").getOrElse(Null)), password)
      if (encryption.isEmpty)
        throw new PdfLoadException("unsupported encryption configuration")
      // A well-formed /U means verification is meaningful: refuse to
      // emit garbage when neither the supplied nor the empty password
      // authenticates (reference authenticate() returns false there,
      // handler.rs:95-99). Dicts WITHOUT /U keep the lenient path.
      encryption.foreach { h =>
        if (!h.authenticated && encDict.get("U").flatMap(_.asStr).exists(_.length >= 16))
          throw new PdfLoadException("encrypted: password required")
      }
    }
  }

  /** Decrypt strings + stream payloads throughout a freshly-parsed
    * top-level object (ObjStm members are NOT separately encrypted). */
  private def decryptDeep(o: PdfObj, num: Int, gen: Int): PdfObj =
    encryption match {
      case Some(h) if num != encryptRefId =>
        def walk(x: PdfObj): PdfObj = x match {
          case Str(b)     => Str(h.decrypt(b, num, gen))
          case Arr(xs)    => Arr(xs.map(walk))
          case Dict(e)    => Dict(e.map { case (k, v) => k -> walk(v) })
          case Stream(d, raw) =>
            Stream(walk(d).asInstanceOf[Dict], h.decrypt(raw, num, gen))
          case other => other
        }
        walk(o)
      case _ => o
    }

  // ------------------------------------------------------------------
  // Header (reference: src/document.rs:2775-2848): scan the first 1 KB
  // for %PDF-x.y — crawled files often have leading garbage.
  // ------------------------------------------------------------------
  private def parseHeader(): String = {
    // scan the first 1 KB for the magic — a documented SUPERSET of the
    // reference, which requires %PDF- at byte 0 (document.rs:2775-2786);
    // crawled files often carry leading garbage and the text behind it
    // is recoverable. Version validation matches the reference exactly
    // (document.rs:2790-2818): M.m single digits, reject major > 2 and
    // 0.0. A candidate that FAILS validation does not reject the whole
    // document — leading garbage can contain a bogus "%PDF-" string
    // ahead of the real header, so the scan continues and only throws
    // (with the first candidate's failure, for single-header parity)
    // when no valid header exists in the window.
    val limit = math.min(data.length, 1024)
    var firstFailure: PdfLoadException = null
    var i = 0
    while (i + 7 < limit) {
      if (data(i) == '%' && data(i + 1) == 'P' && data(i + 2) == 'D' &&
          data(i + 3) == 'F' && data(i + 4) == '-') {
        val major = data(i + 5).toChar
        val dot = data(i + 6).toChar
        val minor = data(i + 7).toChar
        if (!major.isDigit || dot != '.' || !minor.isDigit) {
          if (firstFailure == null)
            firstFailure = new PdfLoadException("invalid version format after %PDF-")
        } else if (major > '2' || (major == '0' && minor == '0')) {
          if (firstFailure == null)
            firstFailure = new PdfLoadException(s"unsupported version $major.$minor")
        } else return s"$major.$minor"
      }
      i += 1
    }
    if (firstFailure != null) throw firstFailure
    throw new PdfLoadException("no %PDF header")
  }

  // ------------------------------------------------------------------
  // startxref from EOF backwards (reference: src/xref.rs:182-224)
  // ------------------------------------------------------------------
  private def findXrefOffset(): Long = {
    val tail = math.max(0, data.length - 2048)
    var i = data.length - 9
    while (i >= tail) {
      if (data(i) == 's' && matches(i, "startxref")) {
        var p = i + 9
        while (p < data.length && isWs(data(p))) p += 1
        var v = 0L
        var saw = false
        while (p < data.length && data(p) >= '0' && data(p) <= '9') { v = v * 10 + (data(p) - '0'); p += 1; saw = true }
        if (saw) return v
      }
      i -= 1
    }
    throw new PdfLoadException("startxref not found")
  }

  @inline private def isWs(b: Byte): Boolean = {
    val c = b & 0xff
    c == 0x00 || c == 0x09 || c == 0x0a || c == 0x0c || c == 0x0d || c == 0x20
  }
  @inline private def matches(p: Int, s: String): Boolean = {
    if (p < 0 || p + s.length > data.length) return false
    var i = 0
    while (i < s.length) { if (data(p + i) != s.charAt(i).toByte) return false; i += 1 }
    true
  }

  // ------------------------------------------------------------------
  // xref chain: classic table or xref stream; follow /Prev (and hybrid
  // /XRefStm) — newest first, addIfAbsent preserves update order
  // (reference: src/xref.rs:225-688)
  // ------------------------------------------------------------------
  private def parseXrefChain(startOffset: Long): Unit = {
    var offset = startOffset
    val seen = mutable.HashSet.empty[Long]
    var first = true
    while (offset >= 0 && offset < data.length && seen.add(offset)) {
      val p = new ObjParser(data, offset.toInt)
      p.skipWs()
      val sectionTrailer: Dict =
        if (p.peekKeyword("xref")) parseClassicSection(p)
        else parseXrefStreamAt(offset.toInt)
      if (first) { trailer = sectionTrailer; first = false }
      else trailer = Dict(sectionTrailer.entries ++ trailer.entries) // newest wins
      // hybrid-reference file: classic section + /XRefStm pointer
      sectionTrailer.long("XRefStm").foreach { so =>
        if (so >= 0 && so < data.length && seen.add(so)) {
          try parseXrefStreamAt(so.toInt) catch { case _: Throwable => () }
        }
      }
      offset = sectionTrailer.long("Prev").getOrElse(-1L)
    }
  }

  private def parseClassicSection(p: ObjParser): Dict =
    PdfDocument.parseClassicSection(xref, p)

  /** PDF 1.5 xref stream (reference: src/xref.rs:489-688). */
  private def parseXrefStreamAt(offset: Int): Dict = {
    val p = new ObjParser(data, offset)
    p.skipWs()
    // "N G obj" header
    p.parseNumber(); p.skipWs(); p.parseNumber(); p.skipWs(); p.takeKeyword("obj")
    p.skipWs()
    p.parseObject() match {
      case Stream(dict, raw) =>
        val decoded = Codecs.decodeStream(dict, raw, shallowResolve)
        val w = dict.get("W").flatMap(_.asArr).getOrElse(Vector.empty)
          .flatMap(_.asLong).map(_.toInt)
        if (w.size < 3) throw new PdfLoadException("xref stream: bad /W")
        val size = dict.long("Size").getOrElse(0L).toInt
        val index: Vector[Long] = dict.get("Index").flatMap(_.asArr) match {
          case Some(xs) => xs.flatMap(_.asLong).toVector
          case None     => Vector(0L, size.toLong)
        }
        val rowLen = w.sum
        var pos = 0
        var s = 0
        while (s + 1 < index.length) {
          val start = index(s).toInt
          val count = index(s + 1).toInt
          var k = 0
          while (k < count && pos + rowLen <= decoded.length) {
            val f1 = if (w(0) == 0) 1L else readBE(decoded, pos, w(0))
            val f2 = readBE(decoded, pos + w(0), w(1))
            val f3 = readBE(decoded, pos + w(0) + w(1), w(2))
            val id = start + k
            f1 match {
              case 0 => xref.addIfAbsent(id, XRefEntry.Free(f2, f3.toInt))
              case 1 => xref.addIfAbsent(id, XRefEntry.Uncompressed(f2, f3.toInt))
              case 2 => xref.addIfAbsent(id, XRefEntry.Compressed(f2.toInt, f3.toInt))
              case _ => ()
            }
            pos += rowLen
            k += 1
          }
          s += 2
        }
        dict
      case _ => throw new PdfLoadException("expected xref stream")
    }
  }

  @inline private def readBE(a: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (a(off + i) & 0xff); i += 1 }
    v
  }

  /** Resolver usable during xref parsing (no xref available yet): only
    * follows direct values; indirect /Length etc. falls back to scans. */
  private def shallowResolve(o: PdfObj): PdfObj = o match {
    case r: Ref => if (xref.size > 0) resolve(r) else Null
    case x      => x
  }

  // ------------------------------------------------------------------
  // Reconstruction fallback: full scan for "N G obj"
  // (reference: src/xref_reconstruction.rs:58-430)
  // ------------------------------------------------------------------
  private def reconstructXref(): Unit = {
    reconstructed = true
    var i = 0
    val found = mutable.HashMap.empty[Int, Long] // id → last offset wins
    while (i < data.length - 3) {
      if (data(i) == 'o' && data(i + 1) == 'b' && data(i + 2) == 'j' &&
          (i + 3 >= data.length || !isRegularByte(data(i + 3)))) {
        // walk back: ws, gen digits, ws, id digits; require token boundary
        var p = i - 1
        while (p >= 0 && isWs(data(p))) p -= 1
        val genEnd = p
        while (p >= 0 && data(p) >= '0' && data(p) <= '9') p -= 1
        if (genEnd > p) {
          var q = p
          while (q >= 0 && isWs(data(q))) q -= 1
          val idEnd = q
          while (q >= 0 && data(q) >= '0' && data(q) <= '9') q -= 1
          if (idEnd > q && (q < 0 || !isRegularByte(data(q)))) {
            val idStr = new String(data, q + 1, idEnd - q, "ISO-8859-1")
            try {
              val id = idStr.toInt
              found.update(id, (q + 1).toLong)
            } catch { case _: NumberFormatException => () }
          }
        }
      }
      i += 1
    }
    found.foreach { case (id, off) => xref.put(id, XRefEntry.Uncompressed(off, 0)) }
    // Reconstruction is the last rung of the ladder: a document with no
    // findable objects at all is unusable — error now, with a clear
    // message, instead of surfacing as a bogus empty-text success
    // (reference: xref_reconstruction.rs returns Err when the scan
    // finds nothing; vector at xref_reconstruction.rs:457-466).
    if (xref.size == 0)
      throw new PdfLoadException("xref reconstruction found no objects")
    // harvest any ObjStms so compressed-only objects are reachable
    indexObjectStreams(found.keys)
    if (trailer.get("Root").isEmpty) {
      // find the catalog by inspecting candidates (reference scans for /Type /Catalog)
      val rootId = found.keys.toSeq.sorted.find { id =>
        try loadObject(Ref(id, 0)).asDict.exists(_.name("Type").contains("Catalog"))
        catch { case _: Throwable => false }
      }
      rootId.foreach { id =>
        trailer = Dict(trailer.entries + ("Root" -> Ref(id, 0)))
      }
    }
  }

  private def indexObjectStreams(ids: Iterable[Int]): Unit = {
    ids.foreach { id =>
      try {
        loadObject(Ref(id, 0)) match {
          case Stream(d, _) if d.name("Type").contains("ObjStm") =>
            objStmPairs(id).zipWithIndex.foreach { case ((objId, _), idx) =>
              xref.addIfAbsent(objId, XRefEntry.Compressed(id, idx))
            }
          case _ => ()
        }
      } catch { case _: Throwable => () }
    }
  }

  @inline private def isRegularByte(b: Byte): Boolean = {
    val c = b & 0xff
    !isWs(b) && c != '(' && c != ')' && c != '<' && c != '>' && c != '[' &&
      c != ']' && c != '{' && c != '}' && c != '/' && c != '%'
  }

  // ------------------------------------------------------------------
  // Object loading (reference: src/document.rs:463-624): xref lookup →
  // parse at offset → cache; cycle detection + depth cap; full-file
  // scan fallback for missing/misplaced objects (document.rs:364-432).
  // ------------------------------------------------------------------
  def loadObject(ref: Ref): PdfObj = {
    cache.get(ref.id) match {
      case Some(o) => return o
      case None    => ()
    }
    if (resolving.contains(ref.id)) return Null // cycle
    if (resolving.size > ObjParser.MaxDepth) return Null
    resolving += ref.id
    try {
      val obj = xref.get(ref.id) match {
        case Some(XRefEntry.Uncompressed(off, gen)) =>
          parseObjectAt(off, ref.id).map(decryptDeep(_, ref.id, gen))
            .getOrElse(decryptDeep(scanForObject(ref.id), ref.id, ref.gen))
        case Some(XRefEntry.Compressed(streamId, idx)) =>
          loadCompressed(streamId, idx, ref.id) // ObjStm members: no per-object crypt
        case _ =>
          decryptDeep(scanForObject(ref.id), ref.id, ref.gen)
      }
      cache.update(ref.id, obj)
      obj
    } finally resolving -= ref.id
  }

  private def parseObjectAt(offset: Long, expectId: Int): Option[PdfObj] = {
    if (offset < 0 || offset >= data.length) return None
    try {
      val p = new ObjParser(data, offset.toInt, r => resolveLengthRef(r))
      p.skipWs()
      val idTok = p.parseNumber()
      p.skipWs()
      p.parseNumber() // gen
      p.skipWs()
      if (!p.takeKeyword("obj")) return None
      idTok match {
        case Int64(id) if id.toInt == expectId => Some(p.parseIndirectBody())
        case _ => None // offset points at a different object
      }
    } catch { case _: Throwable => None }
  }

  private def resolveLengthRef(r: PdfObj): Option[Long] = r match {
    case rr: Ref => try loadObject(rr).asLong catch { case _: Throwable => None }
    case _       => None
  }

  /** Full-file scan for `id G obj` (reference: src/document.rs:364-432). */
  private def scanForObject(id: Int): PdfObj = {
    val needle = id.toString
    var i = 0
    while (i < data.length - needle.length - 5) {
      if (matches(i, needle) && (i == 0 || !isRegularByte(data(i - 1)))) {
        var p = i + needle.length
        if (p < data.length && isWs(data(p))) {
          while (p < data.length && isWs(data(p))) p += 1
          val genStart = p
          while (p < data.length && data(p) >= '0' && data(p) <= '9') p += 1
          if (p > genStart) {
            while (p < data.length && isWs(data(p))) p += 1
            if (matches(p, "obj") && (p + 3 >= data.length || !isRegularByte(data(p + 3)))) {
              parseObjectAt(i.toLong, id) match {
                case Some(o) => return o
                case None    => ()
              }
            }
          }
        }
      }
      i += 1
    }
    Null
  }

  // ------------------------------------------------------------------
  // Object streams (reference: src/objstm.rs:86-243, document.rs:836-890)
  // ------------------------------------------------------------------
  private def objStmData(streamId: Int): Option[(Vector[(Int, Int)], Array[Byte])] = {
    objStmCache.get(streamId).orElse {
      loadObject(Ref(streamId, 0)) match {
        case Stream(dict, raw) =>
          try {
            val decoded = Codecs.decodeStream(dict, raw, resolve)
            val n = resolve(dict.get("N").getOrElse(Null)).asLong.getOrElse(0L).toInt
            val first = resolve(dict.get("First").getOrElse(Null)).asLong.getOrElse(0L).toInt
            val hp = new ObjParser(decoded, 0)
            val pairs = Vector.newBuilder[(Int, Int)]
            var k = 0
            var ok = true
            while (k < n && ok) {
              try {
                hp.skipWs()
                val id = hp.parseNumber().asLong.getOrElse(-1L).toInt
                hp.skipWs()
                val off = hp.parseNumber().asLong.getOrElse(-1L).toInt
                if (id >= 0 && off >= 0) pairs += ((id, first + off)) else ok = false
              } catch { case _: Throwable => ok = false }
              k += 1
            }
            val v = (pairs.result(), decoded)
            objStmCache.update(streamId, v)
            Some(v)
          } catch { case _: Throwable => None }
        case _ => None
      }
    }
  }

  private def objStmPairs(streamId: Int): Vector[(Int, Int)] =
    objStmData(streamId).map(_._1).getOrElse(Vector.empty)

  private def loadCompressed(streamId: Int, idx: Int, expectId: Int): PdfObj = {
    objStmData(streamId) match {
      case Some((pairs, decoded)) =>
        // prefer positional idx; fall back to id search
        val slot =
          if (idx >= 0 && idx < pairs.length && pairs(idx)._1 == expectId) Some(pairs(idx))
          else pairs.find(_._1 == expectId)
        slot match {
          case Some((_, off)) if off >= 0 && off < decoded.length =>
            try new ObjParser(decoded, off).parseObject() catch { case _: Throwable => Null }
          case _ => Null
        }
      case None => Null
    }
  }

  // ------------------------------------------------------------------
  // Resolution helpers
  // ------------------------------------------------------------------
  def resolve(o: PdfObj): PdfObj = {
    var cur = o
    var depth = 0
    while (depth < 32) {
      cur match {
        case r: Ref => cur = loadObject(r); depth += 1
        case x      => return x
      }
    }
    Null
  }

  def resolveDict(o: PdfObj): Dict = resolve(o).asDict.getOrElse(Dict.empty)

  def dictGet(d: Dict, key: String): PdfObj = resolve(d.get(key).getOrElse(Null))

  /** Decoded (filters applied) stream data. */
  def streamData(s: Stream): Array[Byte] = Codecs.decodeStream(s.dict, s.raw, resolve)

  // ------------------------------------------------------------------
  // Page tree with attribute inheritance
  // (reference: src/document.rs:1290-1425)
  // ------------------------------------------------------------------
  lazy val catalog: Dict = resolveDict(trailer.get("Root").getOrElse(Null))

  lazy val pages: Vector[Page] = {
    val out = Vector.newBuilder[Page]
    val visited = mutable.HashSet.empty[Int]
    def walk(node: PdfObj, inhRes: Dict, inhMedia: Array[Double], inhRot: Int, depth: Int): Unit = {
      if (depth > 64) return
      val nodeRef = node match { case r: Ref => Some(r.id); case _ => None }
      if (nodeRef.exists(id => !visited.add(id))) return
      val d = resolveDict(node)
      val res = dictGet(d, "Resources") match { case dd: Dict => dd; case _ => inhRes }
      val media = dictGet(d, "MediaBox") match {
        case Arr(xs) if xs.size >= 4 =>
          val v = xs.flatMap(x => resolve(x).asDouble).toArray
          if (v.length >= 4) v else inhMedia
        case _ => inhMedia
      }
      val rot = dictGet(d, "Rotate") match { case Int64(v) => v.toInt; case _ => inhRot }
      d.name("Type") match {
        case Some("Pages") | None if dictGet(d, "Kids").asArr.isDefined =>
          dictGet(d, "Kids").asArr.getOrElse(Vector.empty)
            .foreach(kid => walk(kid, res, media, rot, depth + 1))
        case Some("Page") =>
          out += Page(d, res, media, rot, nodeRef)
        case _ =>
          // untyped leaf with /Contents behaves as a page (lenient)
          if (d.get("Contents").isDefined) out += Page(d, res, media, rot, nodeRef)
      }
    }
    val defaultMedia = Array(0.0, 0.0, 612.0, 792.0)
    val pagesRoot = catalog.get("Pages").getOrElse(Null)
    walk(pagesRoot, Dict.empty, defaultMedia, 0, 0)
    val result = out.result()
    if (result.isEmpty && reconstructed) {
      // reconstruction fallback: collect any /Type /Page objects directly
      val found = Vector.newBuilder[Page]
      xref.ids.toVector.sorted.foreach { id =>
        try {
          resolve(Ref(id, 0)) match {
            case d: Dict if d.name("Type").contains("Page") =>
              found += Page(d, resolveDict(d.get("Resources").getOrElse(Null)),
                defaultMedia, 0, Some(id))
            case _ => ()
          }
        } catch { case _: Throwable => () }
      }
      found.result()
    } else result
  }

  def pageCount: Int = pages.length

  /** Concatenated decoded content streams of a page, joined with '\n'
    * (reference: src/document.rs:1960-2037). */
  def pageContent(page: Page): Array[Byte] = {
    val contents = dictGet(page.dict, "Contents")
    val streams: Vector[Array[Byte]] = contents match {
      case s: Stream => Vector(tryDecode(s))
      case Arr(xs) =>
        xs.flatMap { x =>
          resolve(x) match { case s: Stream => Some(tryDecode(s)); case _ => None }
        }.toVector
      case _ => Vector.empty
    }
    if (streams.isEmpty) Array.emptyByteArray
    else if (streams.size == 1) streams.head
    else {
      val total = streams.map(_.length).sum + streams.size - 1
      val out = new Array[Byte](total)
      var off = 0
      streams.zipWithIndex.foreach { case (s, i) =>
        if (i > 0) { out(off) = '\n'; off += 1 }
        System.arraycopy(s, 0, out, off, s.length)
        off += s.length
      }
      out
    }
  }

  private def tryDecode(s: Stream): Array[Byte] =
    try streamData(s) catch { case _: Throwable => Array.emptyByteArray }
}

object PdfDocument {

  /** Per-section cap on the subsection entry count (reference:
    * src/xref.rs:377 rejects > 1,000,000): a hostile `0 2000000`
    * header must not allocate millions of placeholder entries —
    * the section aborts and the scan-reconstruction fallback takes
    * over, same net behavior as the reference's parse error. */
  private val MaxSubsectionCount = 1000000L

  /** Classic `xref` table + `trailer` dict (reference: src/xref.rs:
    * 323-487). Lenient like the reference's line-based parser:
    *  - `%` comment lines between subsections/entries are skipped
    *    (xref.rs:362-363);
    *  - a malformed entry becomes a placeholder FREE entry so object
    *    numbering stays aligned, and parsing resyncs at the next line
    *    (xref.rs malformed-entry vector);
    *  - entries may use CR-only line endings. */
  private[pdf] def parseClassicSection(xref: XRefTable, p: ObjParser): Dict = {
    p.takeKeyword("xref")
    var done = false
    while (!done) {
      skipWsAndComments(p)
      if (p.peekKeyword("trailer")) {
        p.takeKeyword("trailer")
        p.skipWs()
        return p.parseObject() match { case d: Dict => d; case _ => Dict.empty }
      }
      // subsection header: start count
      val startOpt = try Some(p.parseNumber()) catch { case _: Throwable => None }
      startOpt match {
        case Some(Int64(start)) =>
          p.skipWs()
          p.parseNumber() match {
            case Int64(count) if count >= 0 && count <= MaxSubsectionCount =>
              var k = 0
              var aborted = false
              while (k < count && !aborted) {
                skipWsAndComments(p)
                if (p.atEnd || p.peekKeyword("trailer")) aborted = true
                else {
                  val id = (start + k).toInt
                  val p0 = p.pos
                  val off = readFixedLong(p, 10)
                  val offDigits = p.pos - p0
                  p.skipWs()
                  val p1 = p.pos
                  val gen = readFixedLong(p, 5).toInt
                  val genDigits = p.pos - p1
                  p.skipWs()
                  val ty = if (!p.atEnd) p.data(p.pos).toChar else ' '
                  if (offDigits > 0 && genDigits > 0 && (ty == 'n' || ty == 'f')) {
                    p.pos += 1
                    if (ty == 'n') xref.addIfAbsent(id, XRefEntry.Uncompressed(off, gen))
                    else xref.addIfAbsent(id, XRefEntry.Free(off, gen))
                  } else {
                    // malformed entry (or invalid flag char): placeholder
                    // free entry keeps numbering aligned; resync at EOL
                    xref.addIfAbsent(id, XRefEntry.Free(0L, 65535))
                    skipToEol(p)
                  }
                  k += 1
                }
              }
            case _ => done = true
          }
        case _ => done = true
      }
    }
    Dict.empty
  }

  private def skipWsAndComments(p: ObjParser): Unit = {
    p.skipWs()
    while (!p.atEnd && p.data(p.pos) == '%') {
      skipToEol(p)
      p.skipWs()
    }
  }

  private def skipToEol(p: ObjParser): Unit = {
    while (!p.atEnd && p.data(p.pos) != '\n' && p.data(p.pos) != '\r') p.pos += 1
  }

  private def readFixedLong(p: ObjParser, width: Int): Long = {
    var v = 0L
    var n = 0
    while (n < width && p.pos < p.data.length && p.data(p.pos) >= '0' && p.data(p.pos) <= '9') {
      v = v * 10 + (p.data(p.pos) - '0'); p.pos += 1; n += 1
    }
    v
  }
}
