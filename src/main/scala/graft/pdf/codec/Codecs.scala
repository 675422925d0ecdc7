package graft.pdf.codec

import java.util.zip.{Inflater, DataFormatException}
import scala.collection.mutable
import graft.pdf.cos.PdfObj
import graft.pdf.cos.PdfObj.{Dict, Name, Arr, Int64}

final class DecodeException(msg: String) extends RuntimeException(msg)

/** PDF stream filters (ISO 32000-1 §7.4), re-implemented on the JDK.
  *
  * Semantics mirror the reference's decoder set (reference:
  * src/decoders/{flate,lzw,ascii_hex,ascii85,runlength,predictor,mod}.rs)
  * including its decompression-bomb guards (ratio 100:1, 100 MB cap —
  * reference: src/decoders/mod.rs:46-47,172-195) which matter doubly at
  * crawl scale where inputs are adversarial.
  */
object Codecs {

  val MaxDecodedBytes: Long = 100L * 1024 * 1024 // 100 MB absolute cap
  val MaxRatio: Long = 100L                      // output/input ratio cap

  /** The decompression-bomb guard at [[MaxDecodedBytes]] and
    * [[MaxRatio]] (reference: decoders/mod.rs:143-152). Divergence kept
    * deliberately: the ratio check only fires above a 1 MB output
    * floor — tiny legitimate streams (e.g. flate-packed zero runs)
    * routinely exceed 100:1 and the reference's unconditional ratio
    * check would reject them. */
  private[pdf] def bombCheck(outLen: Long, inLen: Long): Unit = {
    if (outLen > MaxDecodedBytes)
      throw new DecodeException(s"decoded size $outLen exceeds ${MaxDecodedBytes}B cap")
    if (inLen > 0 && outLen > inLen * MaxRatio && outLen > 1024 * 1024)
      throw new DecodeException(s"decompression ratio ${outLen / math.max(inLen, 1)} exceeds $MaxRatio:1")
  }

  // ------------------------------------------------------------------
  // FlateDecode — zlib wrapper first, raw-deflate fallback, then
  // skip-leading-garbage fallback (reference tries 3 inflaters:
  // src/decoders/flate.rs). Truncated input returns the bytes produced
  // so far rather than failing (crawl robustness).
  // ------------------------------------------------------------------
  def flateDecode(in: Array[Byte]): Array[Byte] = {
    tryInflate(in, 0, nowrap = false)
      .orElse(tryInflate(in, 0, nowrap = true))
      .orElse {
        // tolerate leading garbage before the zlib header (0x78 CMF)
        val idx = in.indexWhere(b => (b & 0xff) == 0x78)
        if (idx > 0) tryInflate(in, idx, nowrap = false) else None
      }
      .getOrElse(throw new DecodeException("FlateDecode: no inflater succeeded"))
  }

  // Thread-local reusable inflaters: Inflater init/end is a native
  // malloc/free pair — at 200k+ streams/run across 32 threads the
  // churn showed up as 30-50% *system* CPU and killed scaling.
  private val inflaterWrapped = ThreadLocal.withInitial[Inflater](() => new Inflater(false))
  private val inflaterRaw = ThreadLocal.withInitial[Inflater](() => new Inflater(true))

  private def tryInflate(in: Array[Byte], off: Int, nowrap: Boolean): Option[Array[Byte]] = {
    if (in.length - off <= 0) return Some(Array.emptyByteArray)
    val inf = if (nowrap) inflaterRaw.get() else inflaterWrapped.get()
    inf.reset()
    inf.setInput(in, off, in.length - off)
    val out = new java.io.ByteArrayOutputStream(math.min(in.length * 4, 1 << 20))
    val buf = new Array[Byte](65536)
    try {
      var stalled = false
      while (!inf.finished() && !stalled) {
        val n = inf.inflate(buf)
        if (n > 0) {
          out.write(buf, 0, n)
          bombCheck(out.size().toLong, in.length.toLong - off)
        } else if (inf.needsInput() || inf.needsDictionary()) {
          stalled = true // truncated stream: keep what we have
        }
      }
      if (out.size() == 0 && !inf.finished()) None else Some(out.toByteArray)
    } catch {
      case _: DataFormatException =>
        if (out.size() > 0) Some(out.toByteArray) else None
    } finally inf.reset()
  }

  // ------------------------------------------------------------------
  // LZWDecode — PDF variant: 9→12-bit codes, MSB-first bit packing,
  // Clear=256, EOD=257, EarlyChange default 1
  // (reference: src/decoders/lzw.rs).
  // ------------------------------------------------------------------
  def lzwDecode(in: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length * 4)
    var table = mutable.ArrayBuffer.tabulate[Array[Byte]](256)(i => Array(i.toByte))
    def resetTable(): Unit = { table = mutable.ArrayBuffer.tabulate[Array[Byte]](256)(i => Array(i.toByte)); table += null; table += null } // 256=Clear,257=EOD placeholders
    resetTable()
    var codeBits = 9
    var bitBuf = 0L
    var bitCnt = 0
    var prev: Array[Byte] = null
    var i = 0
    var eod = false
    while (i < in.length && !eod) {
      bitBuf = (bitBuf << 8) | (in(i) & 0xff)
      bitCnt += 8
      i += 1
      while (bitCnt >= codeBits && !eod) {
        val code = ((bitBuf >>> (bitCnt - codeBits)) & ((1 << codeBits) - 1)).toInt
        bitCnt -= codeBits
        if (code == 256) { resetTable(); codeBits = 9; prev = null }
        else if (code == 257) eod = true
        else {
          val entry: Array[Byte] =
            if (code < table.length && table(code) != null) table(code)
            else if (prev != null) prev :+ prev(0) // KwKwK case
            else throw new DecodeException(s"LZW: bad code $code")
          out.write(entry, 0, entry.length)
          bombCheck(out.size().toLong, in.length.toLong)
          if (prev != null) table += (prev :+ entry(0))
          prev = entry
          val limit = (1 << codeBits) - earlyChange
          if (table.length >= limit && codeBits < 12) codeBits += 1
        }
      }
    }
    out.toByteArray
  }

  /** Rust's `u8::is_ascii_whitespace`: space, \t, \n, \f, \r (NOT \x0b)
    * — the skip set the reference decoders use. */
  @inline private def isRefWhitespace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  // ------------------------------------------------------------------
  // ASCIIHexDecode (reference: src/decoders/ascii_hex.rs:31-63).
  // Reference quirk kept for parity: '>' is FILTERED anywhere (along
  // with whitespace), not treated as a terminator — bytes after an
  // embedded '>' still decode (spec reads it as EOD; the reference's
  // iterator-filter does not stop there). Invalid digits are an error
  // (not skipped): a failed filter yields no text, exactly like the
  // reference, instead of garbage bytes it would never produce.
  // ------------------------------------------------------------------
  def asciiHexDecode(in: Array[Byte]): Array[Byte] = {
    val out = new mutable.ArrayBuilder.ofByte
    var hi = -1
    var i = 0
    while (i < in.length) {
      val c = in(i) & 0xff
      if (c != '>' && !isRefWhitespace(c)) {
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else throw new DecodeException(s"ASCIIHexDecode: invalid hex digit '${c.toChar}'")
        if (hi < 0) hi = v else { out += ((hi << 4) | v).toByte; hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out += (hi << 4).toByte // odd length: pad low nibble with 0
    out.result()
  }

  // ------------------------------------------------------------------
  // ASCII85Decode (reference: src/decoders/ascii85.rs:21-84).
  // Reference semantics, ported exactly: '~' ends the stream; 'z'
  // outside a group start is an error; non-whitespace characters
  // outside '!'..'u' are an error; a single trailing character is an
  // error; a group whose value exceeds u32 (e.g. "uuuuu") is an
  // overflow error (reference checked_mul/checked_add) — NOT silently
  // truncated. Lenient superset kept from before: an exact "<~"
  // framing prefix is skipped (PostScript framing some generators
  // emit; the reference would error on it).
  // ------------------------------------------------------------------
  def ascii85Decode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length)
    var acc = 0L
    var gi = 0
    var i = 0
    // optional <~ prefix
    if (in.length >= 2 && in(0) == '<' && in(1) == '~') i = 2
    var done = false
    while (i < in.length && !done) {
      val c = in(i) & 0xff
      if (c == '~') done = true
      else if (c == 'z') {
        if (gi != 0)
          throw new DecodeException("ASCII85Decode: 'z' must not appear in the middle of a group")
        out.write(Array[Byte](0, 0, 0, 0), 0, 4)
      } else if (c >= '!' && c <= 'u') {
        acc = acc * 85 + (c - '!')
        if (acc > 0xffffffffL)
          throw new DecodeException("ASCII85Decode: overflow in decoding")
        gi += 1
        if (gi == 5) {
          out.write(((acc >>> 24) & 0xff).toInt); out.write(((acc >>> 16) & 0xff).toInt)
          out.write(((acc >>> 8) & 0xff).toInt); out.write((acc & 0xff).toInt)
          acc = 0L
          gi = 0
        }
      } else if (!isRefWhitespace(c)) {
        throw new DecodeException(s"ASCII85Decode: invalid character '${c.toChar}'")
      }
      i += 1
    }
    if (gi > 0) { // partial final group: pad with 'u' (84), emit gi-1 bytes
      if (gi == 1)
        throw new DecodeException("ASCII85Decode: incomplete group (need at least 2 characters)")
      var k = gi
      while (k < 5) {
        acc = acc * 85 + 84
        if (acc > 0xffffffffL)
          throw new DecodeException("ASCII85Decode: overflow in padding")
        k += 1
      }
      val bytes = Array(((acc >>> 24) & 0xff).toByte, ((acc >>> 16) & 0xff).toByte, ((acc >>> 8) & 0xff).toByte)
      out.write(bytes, 0, gi - 1)
    }
    bombCheck(out.size().toLong, in.length.toLong)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // RunLengthDecode (reference: src/decoders/runlength.rs:14-55).
  // A literal run truncated by end-of-input and a repeat run missing
  // its byte are ERRORS (reference parity) — previously clamped /
  // dropped silently, which produced partial bytes the reference
  // would reject wholesale.
  // ------------------------------------------------------------------
  def runLengthDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length * 2)
    var i = 0
    var done = false
    while (i < in.length && !done) {
      val l = in(i) & 0xff
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        val n = l + 1
        if (i + n > in.length)
          throw new DecodeException(
            s"RunLengthDecode: not enough data for literal run (need $n, have ${in.length - i})")
        out.write(in, i, n); i += n
      } else {
        if (i >= in.length)
          throw new DecodeException("RunLengthDecode: missing byte for run")
        val b = in(i); i += 1
        var k = 0
        while (k < 257 - l) { out.write(b); k += 1 }
      }
      bombCheck(out.size().toLong, in.length.toLong)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Predictors (reference: src/decoders/predictor.rs). Predictor 2 =
  // TIFF horizontal differencing; 10-15 = PNG per-row filters.
  // ------------------------------------------------------------------
  def applyPredictor(data: Array[Byte], predictor: Int, colors: Int,
                     bpc: Int, columns: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8) // bytes per pixel (>=1)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) {
      // TIFF predictor (8-bit components only; others passed through)
      if (bpc != 8) return data
      val out = data.clone()
      var r = 0
      while (r * rowLen < out.length) {
        val base = r * rowLen
        var i = bpp
        while (i < rowLen && base + i < out.length) {
          out(base + i) = (out(base + i) + out(base + i - bpp)).toByte
          i += 1
        }
        r += 1
      }
      out
    } else {
      // PNG predictors: each row prefixed with a filter-type byte
      val stride = rowLen + 1
      val nRows = data.length / stride
      val out = new Array[Byte](nRows * rowLen)
      val prior = new Array[Byte](rowLen)
      var r = 0
      while (r < nRows) {
        val ft = data(r * stride) & 0xff
        val src = r * stride + 1
        val dst = r * rowLen
        var i = 0
        while (i < rowLen) {
          val raw = data(src + i) & 0xff
          val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
          val up = prior(i) & 0xff
          val ul = if (i >= bpp) prior(i - bpp) & 0xff else 0
          val v = ft match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + ((left + up) / 2)
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
              raw + pred
            case _ => raw
          }
          out(dst + i) = (v & 0xff).toByte
          i += 1
        }
        System.arraycopy(out, dst, prior, 0, rowLen)
        r += 1
      }
      out
    }
  }

  // ------------------------------------------------------------------
  // Filter pipeline (reference: src/decoders/mod.rs:113-254): apply
  // /Filter chain in order, honoring per-filter /DecodeParms.
  // Image codecs (DCTDecode/CCITTFaxDecode/JBIG2Decode/JPXDecode) pass
  // through — images are out of scope for the text north rule.
  // ------------------------------------------------------------------
  def decodeStream(dict: Dict, raw: Array[Byte], resolve: PdfObj => PdfObj): Array[Byte] = {
    val filters: Vector[String] = resolve(dict.get("Filter").getOrElse(PdfObj.Null)) match {
      case Name(n)  => Vector(n)
      case Arr(xs)  => xs.flatMap(x => resolve(x).asName).toVector
      case _        => Vector.empty
    }
    val parmsRaw = resolve(dict.get("DecodeParms").orElse(dict.get("DP")).getOrElse(PdfObj.Null))
    val parms: Vector[Option[Dict]] = parmsRaw match {
      case d: Dict => Vector(Some(d))
      case Arr(xs) => xs.map(x => resolve(x) match { case d: Dict => Some(d); case _ => None }).toVector
      case _       => Vector.empty
    }
    var data = raw
    var i = 0
    while (i < filters.length) {
      val parm = if (i < parms.length) parms(i) else None
      data = applyFilter(filters(i), data, parm, resolve)
      i += 1
    }
    data
  }

  def applyFilter(name: String, data: Array[Byte], parm: Option[Dict],
                  resolve: PdfObj => PdfObj): Array[Byte] = {
    def pInt(key: String, dflt: Int): Int =
      parm.flatMap(_.get(key)).map(resolve) match {
        case Some(Int64(v)) => v.toInt
        case _              => dflt
      }
    def predict(decoded: Array[Byte]): Array[Byte] = {
      val pred = pInt("Predictor", 1)
      if (pred <= 1) decoded
      else applyPredictor(decoded, pred, pInt("Colors", 1),
        pInt("BitsPerComponent", 8), pInt("Columns", 1))
    }
    name match {
      case "FlateDecode" | "Fl"     => predict(flateDecode(data))
      case "LZWDecode" | "LZW"      => predict(lzwDecode(data, pInt("EarlyChange", 1)))
      case "ASCIIHexDecode" | "AHx" => asciiHexDecode(data)
      case "ASCII85Decode" | "A85"  => ascii85Decode(data)
      case "RunLengthDecode" | "RL" => runLengthDecode(data)
      case "Crypt"                  => data // handled by encryption layer before filters
      case "DCTDecode" | "CCITTFaxDecode" | "JBIG2Decode" | "JPXDecode" => data
      case other => throw new DecodeException(s"unsupported filter $other")
    }
  }
}
