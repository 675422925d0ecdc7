package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.layout.CharMode
import graft.pdf.layout.CharMode.TextChar
import graft.pdf.testgen.PdfBuilder

/** Legacy char-mode path (reference: clustering.rs non-ml fallback +
  * markdown.rs convert_page char mode): spatial word/line clustering
  * over per-glyph positions, and the `'`-operator differential quirk
  * vs the span path. */
class CharModeSpec extends AnyFunSuite {

  private def ch(c: String, x: Float, y: Float, w: Float = 6f,
                 fs: Float = 12f, bold: Boolean = false): TextChar =
    TextChar(c, x, y, w, fs, fs, bold)

  test("word clustering: splits on gaps wider than epsilon, joins within") {
    // "Hi there": H-i adjacent; gap of 10 to t-h-e-r-e
    val chars = Vector(
      ch("H", 0f, 700f), ch("i", 6f, 700f),
      ch("t", 22f, 700f), ch("h", 28f, 700f), ch("e", 34f, 700f),
      ch("r", 40f, 700f), ch("e", 46f, 700f))
    val clusters = CharMode.clusterCharsIntoWords(chars, epsilon = 9f)
    val words = clusters.map(cl => cl.map(i => chars(i).text).mkString)
    assert(words.toSet == Set("Hi", "there"), words.toString)
  }

  test("word clustering: connects out-of-order chars (BFS over ALL, not consecutive)") {
    // emission order scrambled — spatial clustering must still find one word
    val chars = Vector(ch("c", 12f, 700f), ch("a", 0f, 700f), ch("b", 6f, 700f))
    val clusters = CharMode.clusterCharsIntoWords(chars, epsilon = 8f)
    assert(clusters.length == 1)
    assert(clusters.head.map(i => chars(i).text).mkString == "abc") // x-sorted
  }

  test("word clustering: a half-ULP tie on dx still joins (grid is lossless)") {
    // zero-width glyphs, so the centers are the x values themselves: the
    // true gap 2 - 0.99999994 = 1 + 2^-24 is a tie that rounds to 1f, so
    // the pair passes dx <= epsilon, yet the centers sit in x-buckets 0
    // and 2 of an epsilon-wide grid
    val a = Math.nextDown(1f)
    assert(math.abs(2f - a) <= 1f && math.floor(a / 1.0) == 0.0 && math.floor(2f / 1.0) == 2.0)
    val chars = Vector(ch("a", a, 700f, w = 0f), ch("b", 2f, 700f, w = 0f))
    assert(CharMode.clusterCharsIntoWords(chars, epsilon = 1f) == Vector(Vector(0, 1)))
  }

  test("line clustering: column gap keeps columns apart, epsilon-y joins a line") {
    val w = Vector(
      CharMode.blockOf(Vector(ch("l", 0f, 700f), ch("t", 10f, 700f))),     // left col
      CharMode.blockOf(Vector(ch("m", 30f, 702f))),                        // same line, close
      CharMode.blockOf(Vector(ch("R", 400f, 700f))),                       // right col (gap > 50)
      CharMode.blockOf(Vector(ch("b", 0f, 650f))))                         // next line
    val lines = CharMode.clusterWordsIntoLines(w)
    val sets = lines.map(_.toSet).toSet
    assert(sets == Set(Set(0, 1), Set(2), Set(3)), lines.toString)
  }

  test("char-mode markdown: headings tagged, body lines assembled, reading order top-down") {
    val b = new PdfBuilder()
    val pdf = PdfBuilder.singlePage(Seq(
      PdfBuilder.Line(72f, 720f, 24f, "F2", "Title"),
      PdfBuilder.Line(72f, 680f, 11f, "F1", "body one here"),
      PdfBuilder.Line(72f, 660f, 11f, "F1", "body two here")))
    val md = PdfExtractor.extractCharMarkdown(pdf)
    assert(md.startsWith("# Title"), md)
    val idx1 = md.indexOf("body one here")
    val idx2 = md.indexOf("body two here")
    assert(idx1 > 0 && idx2 > idx1, md)
  }

  test("quirk differential: ' show-operator text visible in char mode, dropped by span path") {
    val content = "BT /F1 12 Tf 14 TL 100 700 Td (spanvisible) Tj (quotedtext) ' ET"
    val b = new PdfBuilder()
    val catId = b.reserveId()
    val pagesId = b.reserveId()
    val f = b.addObject("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    val cId = b.addStream("", content.getBytes(ISO_8859_1), flate = false)
    val pageId = b.addObject(s"<< /Type /Page /Parent $pagesId 0 R /MediaBox [0 0 612 792] " +
      s"/Resources << /Font << /F1 $f 0 R >> >> /Contents $cId 0 R >>")
    b.addObjectAt(pagesId, s"<< /Type /Pages /Kids [$pageId 0 R] /Count 1 >>")
    b.addObjectAt(catId, s"<< /Type /Catalog /Pages $pagesId 0 R >>")
    val pdf = b.build(catId)

    val span = PdfExtractor.extract(pdf)
    assert(span.text.contains("spanvisible"), span.text)
    assert(!span.text.contains("quotedtext"), // span path drops ' text (reference quirk)
      span.text)
    val charMd = PdfExtractor.extractCharMarkdown(pdf)
    assert(charMd.contains("spanvisible"), charMd)
    assert(charMd.contains("quotedtext"), // char vec keeps it (reference parity)
      charMd)
  }

  test("char-mode markdown is deterministic and non-empty on generated multi-page docs") {
    val rnd = new java.util.Random(7)
    val pages = (0 until 3).map { _ =>
      (0 until 10).map(k => PdfBuilder.Line(72f, 720f - 20f * k, 11f, "F1",
        graft.spark.PagesGen.sentence(rnd, 5)))
    }
    val pdf = PdfBuilder.multiPage(pages, compress = true)
    val md1 = PdfExtractor.extractCharMarkdown(pdf)
    val md2 = PdfExtractor.extractCharMarkdown(pdf)
    assert(md1 == md2 && md1.nonEmpty)
    assert(md1.linesIterator.count(_.nonEmpty) >= 25, md1.take(400))
  }
}
