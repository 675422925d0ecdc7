package graft.pdf

import graft.pdf.convert.{Html, Markdown, TextAssembler}
import graft.pdf.doc.PdfDocument
import graft.pdf.extract.TextExtractor

/** Pure per-document entry point: PDF bytes → extracted text, markdown
  * and html.
  * Never throws for malformed content past the header — the fallback
  * ladder inside PdfDocument absorbs corruption (reference's 100%
  * success-rate design, SURVEY §7.4.5). Callers map failures to
  * status='error' rows.
  */
final case class ExtractResult(
    text: String,
    markdown: String,
    html: String,
    title: String,
    nPages: Int,
    nSpans: Int)

/** Markdown reading-order mode (reference: ReadingOrderMode,
  * src/converters/mod.rs:70-158; dispatch markdown.rs:561-703). */
sealed trait ReadingOrderMode
object ReadingOrderMode {
  /** Histogram-column-aware Y/X sort (default — matches the span path). */
  case object TopToBottomLeftToRight extends ReadingOrderMode
  /** Recursive XY-Cut segmentation (grid layouts). */
  case object ColumnAware extends ReadingOrderMode
  /** Tagged-PDF MCID order with spatial fallback. */
  case object StructureTreeFirst extends ReadingOrderMode
  /** Smart dispatch (reference: hybrid/smart_analyzer.rs): a per-page
    * five-factor complexity estimate routes complex pages to the
    * adaptive XY-Cut analyzer, simple pages to the classical sort. */
  case object Hybrid extends ReadingOrderMode
}

/** Which outputs beside text a conversion builds. Text, title and the
  * page and span counts are always built; an output that is off comes
  * back as the empty string. */
final case class Outputs(markdown: Boolean, html: Boolean)
object Outputs {
  val All = Outputs(markdown = true, html = true)
  val TextOnly = Outputs(markdown = false, html = false)
}

final case class ConversionOptions(
    markdownMode: ReadingOrderMode = ReadingOrderMode.TopToBottomLeftToRight,
    maxPages: Int = PdfExtractor.DefaultMaxPages,
    /** user or owner password for encrypted documents (UTF-8; the
      * empty password is always tried — reference document.rs:276-288). */
    password: String = "",
    /** HTML export mode: absolute-positioned divs instead of semantic
      * tags (reference html.rs preserve_layout option). */
    preserveLayout: Boolean = false,
    /** TJ offset below which a synthetic space is inserted;
      * Float.NegativeInfinity disables insertion (reference:
      * extractors/text.rs:30-98 TextExtractionConfig
      * .space_insertion_threshold / with_space_threshold). */
    spaceInsertionThreshold: Float = TextExtractor.DefaultSpaceInsertionThreshold,
    /** outputs to build; a text-only caller skips the markdown
      * reading order and both page conversions. */
    outputs: Outputs = Outputs.All)

object PdfExtractor {

  /** Max pages processed per document — bounds worst-case work per row
    * at crawl scale (oversized docs are salted separately). */
  val DefaultMaxPages = 100

  def isPdf(bytes: Array[Byte]): Boolean = {
    // %PDF- within the first 1024 bytes (leading garbage tolerated)
    val limit = math.min(bytes.length, 1024)
    var i = 0
    while (i + 4 < limit) {
      if (bytes(i) == '%' && bytes(i + 1) == 'P' && bytes(i + 2) == 'D' &&
          bytes(i + 3) == 'F' && bytes(i + 4) == '-') return true
      i += 1
    }
    false
  }

  def extract(bytes: Array[Byte], maxPages: Int = DefaultMaxPages): ExtractResult =
    extract(bytes, ConversionOptions(maxPages = maxPages))

  /** Legacy char-mode markdown (reference: markdown.rs:418-520 char
    * path; deprecated there in favor of spans, provided for parity):
    * per-glyph extraction → spatial word/line clustering
    * (`CharMode`) → heading-tagged markdown per page. Unlike the span
    * path, `'`/`"` show-operator text IS visible here (the documented
    * differential quirk). */
  def extractCharMarkdown(bytes: Array[Byte],
                          opts: ConversionOptions = ConversionOptions()): String = {
    val doc = new PdfDocument(bytes, opts.password)
    doc.pages.take(opts.maxPages).map { page =>
      val chars =
        try new TextExtractor(doc, opts.spaceInsertionThreshold).extractChars(page)
        catch { case _: Throwable => Vector.empty }
      graft.pdf.layout.CharMode.convertPage(chars)
    }.filter(_.nonEmpty).mkString("\n\n")
  }

  def extract(bytes: Array[Byte], opts: ConversionOptions): ExtractResult = {
    val doc = new PdfDocument(bytes, opts.password)
    val pages = doc.pages.take(opts.maxPages)
    var nSpans = 0
    val texts = Vector.newBuilder[String]
    val mds = Vector.newBuilder[String]
    val htmls = Vector.newBuilder[String]
    pages.foreach { page =>
      val raw0 =
        try new TextExtractor(doc, opts.spaceInsertionThreshold).extractRaw(page)
        catch { case _: Throwable => Vector.empty }
      // /Rotate pages: sort in display orientation
      val (raw, mediaBox) = graft.pdf.extract.Rotation.normalize(raw0, page)
      val spatial = graft.pdf.extract.ReadingOrder.mergeAdjacent(
        graft.pdf.extract.ReadingOrder.dedup(
          graft.pdf.extract.ReadingOrder.sortSpans(raw, mediaBox)))
      // Tagged PDFs: structure-tree MCID order wins for plain text
      // (reference: document.rs:1659-1666 → extract_text_structure_order)
      val forText = graft.pdf.structure.StructTree.readingOrder(doc, page) match {
        case Some(order) if raw.exists(_.mcid >= 0) =>
          val inOrder = order.toSet
          val byMcid = raw.filter(_.mcid >= 0).groupBy(_.mcid)
          val ordered = order.flatMap(m =>
            byMcid.getOrElse(m, Vector.empty).sortBy(_.sequence))
          val leftovers = spatial.filter(s => s.mcid < 0 || !inOrder.contains(s.mcid))
          graft.pdf.extract.ReadingOrder.mergeAdjacent(ordered ++ leftovers)
        case _ => spatial
      }
      nSpans += forText.size
      texts += TextAssembler.assemble(forText)
      // markdown reading-order dispatch (reference: markdown.rs:561-703);
      // lazy: a text-only conversion never orders the page for markdown
      lazy val forMd = opts.markdownMode match {
        case ReadingOrderMode.TopToBottomLeftToRight => spatial
        case ReadingOrderMode.ColumnAware =>
          // per-page adaptive σ/region thresholds (document_analyzer.rs)
          graft.pdf.extract.ReadingOrder.mergeAdjacent(
            graft.pdf.extract.ReadingOrder.dedup(
              graft.pdf.layout.XYCut.sortSpansAdaptive(raw, mediaBox)))
        case ReadingOrderMode.StructureTreeFirst => forText
        case ReadingOrderMode.Hybrid =>
          // complexity-routed (hybrid/smart_analyzer.rs:117-160):
          // ≥ Moderate → adaptive XY-Cut; Simple → classical sort
          graft.pdf.extract.ReadingOrder.mergeAdjacent(
            graft.pdf.extract.ReadingOrder.dedup(
              graft.pdf.layout.Hybrid.readingOrder(raw, mediaBox)))
      }
      if (opts.outputs.markdown) mds += Markdown.convertPage(forMd)
      if (opts.outputs.html) htmls += Html.convertPage(forMd, preserveLayout = opts.preserveLayout)
    }
    // page joins (reference: text "\n\n"; markdown "\n---\n\n",
    // document.rs:2317-2333)
    val text = texts.result().filter(_.nonEmpty).mkString("\n\n")
    val md = mds.result().filter(_.nonEmpty).mkString("\n\n---\n\n")
    val html = htmls.result().filter(_.nonEmpty).mkString("\n")
    val title = graft.pdf.doc.DocExtras.docTitle(doc)
    ExtractResult(text, md, html, title, pages.size, nSpans)
  }
}
