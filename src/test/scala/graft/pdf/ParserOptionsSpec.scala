package graft.pdf

/** The parser's decode options, now the bomb guard's two constants in
  * Codecs (reference: src/parser_config.rs, src/decoders/mod.rs:143-152),
  * reach a PdfDocument's stream decode path. The guard at those
  * constants is checked directly in BombCheckSpec.
  */
class ParserOptionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val MB = 1024 * 1024

  test("options flow through a PdfDocument's stream decode path") {
    // a content stream that inflates past the guard reads as empty text
    // (the decode error is caught by the lenient extraction path and
    // the content dropped); one under the 1 MB floor reads
    def text(padding: Int): String = {
      val payload = ("BT /F1 12 Tf 100 700 Td (Hi) Tj ET" + " " * padding).getBytes("ISO-8859-1")
      val b = new graft.pdf.testgen.PdfBuilder()
      val catId = b.reserveId()
      val pagesId = b.reserveId()
      val f = b.addObject("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
      val cId = b.addStream("", payload, flate = true)
      val pageId = b.addObject(s"<< /Type /Page /Parent $pagesId 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $f 0 R >> >> /Contents $cId 0 R >>")
      b.addObjectAt(pagesId, s"<< /Type /Pages /Kids [$pageId 0 R] /Count 1 >>")
      b.addObjectAt(catId, s"<< /Type /Catalog /Pages $pagesId 0 R >>")
      val doc = new graft.pdf.doc.PdfDocument(b.build(catId))
      doc.pages.flatMap(p =>
        new graft.pdf.extract.TextExtractor(doc).extractRaw(p)).map(_.text).mkString
    }
    // 4 MB of spaces deflate ~1000:1, past the ratio cap
    assert(text(4 * MB).isEmpty)
    // 512 KB of spaces: the same ratio, under the 1 MB floor
    assert(text(MB / 2).contains("Hi"))
  }
}
