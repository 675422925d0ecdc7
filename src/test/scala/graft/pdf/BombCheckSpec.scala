package graft.pdf

import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.codec.{Codecs, DecodeException}

/** The stream decoders' decompression-bomb guard (reference:
  * src/decoders/mod.rs:143-152) at its two constants: a 100 MB cap on
  * decoded bytes and a 100:1 ratio cap above a 1 MB output floor.
  */
class BombCheckSpec extends AnyFunSuite {

  private val MB = 1024L * 1024

  private def zlib(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }

  test("the 100 MB cap passes 100 MB and rejects one byte more") {
    // ratio 1, so only the size cap can fire (a 101 MB fixture would
    // cost that much heap; the decoders call this check per chunk)
    Codecs.bombCheck(Codecs.MaxDecodedBytes, Codecs.MaxDecodedBytes)
    intercept[DecodeException](
      Codecs.bombCheck(Codecs.MaxDecodedBytes + 1, Codecs.MaxDecodedBytes + 1))
    // ~4 MB of incompressible data inflates whole
    val raw = new Array[Byte](4 * MB.toInt)
    new scala.util.Random(42).nextBytes(raw)
    assert(Codecs.flateDecode(zlib(raw)).length == raw.length)
  }

  test("the 100:1 ratio cap fires only above the 1 MB output floor") {
    Codecs.bombCheck(2000000L, 20000L) // exactly 100:1
    intercept[DecodeException](Codecs.bombCheck(2000000L, 19999L))
    Codecs.bombCheck(MB, 1) // at the floor, far past the ratio
    // zeros deflate ~1000:1
    intercept[DecodeException](Codecs.flateDecode(zlib(new Array[Byte](4 * MB.toInt))))
    assert(Codecs.flateDecode(zlib(new Array[Byte](MB.toInt / 2))).length == MB / 2)
  }
}
