package perfbench

import graft.html.BoilerplateStripper
import graft.pdf.{ConversionOptions, ExtractResult, PdfExtractor}
import graft.pdf.convert.{Html, Markdown, TextAssembler}
import graft.pdf.cos.PdfObj
import graft.pdf.doc.{DocExtras, PdfDocument}
import graft.pdf.extract.{ReadingOrder, Rotation, TextExtractor}
import graft.pdf.font.FontInfo
import graft.pdf.structure.StructTree

/** Single-threaded replay of the extraction kernel, one public call per
  * layer, each wrapped in a span. The PDF steps are those of
  * `PdfExtractor.extract` with the default options; the HTML step is
  * `BoilerplateStripper.extractAll`. Two probes are added so the layers
  * that `extractRaw` runs internally get their own time:
  *  - `pdf.codec`: `doc.pageContent(page)`, the decode `extractRaw`
  *    repeats first thing;
  *  - `pdf.font`: fills `doc.fontInfoCache` the way `extractRaw` does,
  *    so its own font lookups then hit.
  * The metrics subtract the repeated decode from the content VM's time. */
object KernelReplay {

  final case class Stats(
      docs: Int, pdfDocs: Int, htmlDocs: Int, pages: Long, rawSpans: Long,
      pdfInBytes: Long, pdfOutBytes: Long, matches: Int, spans: Seq[Span],
      mismatched: Seq[Int])

  private def replayPdf(bytes: Array[Byte], tr: Tracer, counts: Array[Long]): ExtractResult = {
    val maxPages = PdfExtractor.DefaultMaxPages
    val (doc, pages) = tr.span("pdf.doc") {
      val d = new PdfDocument(bytes, "")
      (d, d.pages.take(maxPages))
    }
    var nSpans = 0
    val texts = Vector.newBuilder[String]
    val mds = Vector.newBuilder[String]
    val htmls = Vector.newBuilder[String]
    pages.foreach { page =>
      tr.span("pdf.codec")(doc.pageContent(page))
      tr.span("pdf.font") {
        doc.dictGet(page.resources, "Font") match {
          case fd: PdfObj.Dict =>
            fd.entries.keys.foreach { name =>
              val key: AnyRef = fd.get(name).getOrElse(PdfObj.Null) match {
                case r: PdfObj.Ref => java.lang.Integer.valueOf(r.id)
                case other         => other
              }
              doc.fontInfoCache.getOrElseUpdate(key, {
                try FontInfo.fromDict(doc, doc.resolveDict(fd.get(name).getOrElse(PdfObj.Null)))
                catch { case _: Throwable => FontInfo.default }
              })
            }
          case _ => ()
        }
      }
      val raw0 = tr.span("pdf.content") {
        try new TextExtractor(doc).extractRaw(page)
        catch { case _: Throwable => Vector.empty }
      }
      counts(0) += raw0.size
      val (forText, spatial) = tr.span("pdf.layout") {
        val (raw, mediaBox) = Rotation.normalize(raw0, page)
        val spatial = ReadingOrder.mergeAdjacent(
          ReadingOrder.dedup(ReadingOrder.sortSpans(raw, mediaBox)))
        val forText = StructTree.readingOrder(doc, page) match {
          case Some(order) if raw.exists(_.mcid >= 0) =>
            val inOrder = order.toSet
            val byMcid = raw.filter(_.mcid >= 0).groupBy(_.mcid)
            val ordered = order.flatMap(m => byMcid.getOrElse(m, Vector.empty).sortBy(_.sequence))
            val leftovers = spatial.filter(s => s.mcid < 0 || !inOrder.contains(s.mcid))
            ReadingOrder.mergeAdjacent(ordered ++ leftovers)
          case _ => spatial
        }
        (forText, spatial)
      }
      nSpans += forText.size
      texts += tr.span("pdf.convert.text")(TextAssembler.assemble(forText))
      mds += tr.span("pdf.convert.markdown")(Markdown.convertPage(spatial))
      htmls += tr.span("pdf.convert.html")(Html.convertPage(spatial, preserveLayout = false))
    }
    counts(1) += pages.size
    val (text, md, html) = tr.span("pdf.convert.join") {
      (texts.result().filter(_.nonEmpty).mkString("\n\n"),
        mds.result().filter(_.nonEmpty).mkString("\n\n---\n\n"),
        htmls.result().filter(_.nonEmpty).mkString("\n"))
    }
    val title = tr.span("pdf.doc.title")(DocExtras.docTitle(doc))
    ExtractResult(text, md, html, title, pages.size, nSpans)
  }

  /** Replays every doc of `sample` `reps` times under one root span, then
    * compares each doc's replayed output with the program's own entry
    * point (outside the timed root). */
  def run(sample: IndexedSeq[Array[Byte]], reps: Int): Stats = {
    val tr = new Tracer
    val counts = new Array[Long](2) // raw spans, pages (over all reps)
    var out: IndexedSeq[Either[ExtractResult, (String, String, String)]] = IndexedSeq.empty
    tr.span("replay") {
      (1 to reps).foreach { _ =>
        out = sample.map { bytes =>
          tr.span("doc") {
            if (PdfExtractor.isPdf(bytes)) Left(replayPdf(bytes, tr, counts))
            else Right(tr.span("html.strip")(BoilerplateStripper.extractAll(bytes)))
          }
        }
      }
    }
    val mismatched = sample.indices.filterNot { i =>
      out(i) match {
        case Left(r)  => PdfExtractor.extract(sample(i), ConversionOptions()) == r
        case Right(t) => BoilerplateStripper.extractAll(sample(i)) == t
      }
    }
    val pdfIdx = sample.indices.filter(i => out(i).isLeft)
    val outBytes = pdfIdx.map { i =>
      val r = out(i).left.toOption.get
      (r.text.getBytes("UTF-8").length + r.markdown.getBytes("UTF-8").length +
        r.html.getBytes("UTF-8").length).toLong
    }.sum
    Stats(
      docs = sample.size, pdfDocs = pdfIdx.size, htmlDocs = sample.size - pdfIdx.size,
      pages = counts(1) / math.max(reps, 1), rawSpans = counts(0) / math.max(reps, 1),
      pdfInBytes = pdfIdx.map(i => sample(i).length.toLong).sum, pdfOutBytes = outBytes,
      matches = sample.size - mismatched.size, spans = tr.spans, mismatched = mismatched)
  }

  /** Per-layer metrics of one replay (times are per doc or per page of
    * one rep; `kernel.share.*` splits the kernel's self time, the repeated
    * decode excluded, into the layers BASELINE.md names). */
  def metrics(s: Stats, reps: Int): Seq[(String, Double)] = {
    val self = Tracer.selfByName(s.spans)
    def us(name: String): Double = self.getOrElse(name, 0L) / 1e3 / math.max(reps, 1)
    def per(x: Double, n: Long): Double = if (n > 0) x / n else 0.0
    val decode = us("pdf.codec")
    val vm = math.max(0.0, us("pdf.content") - decode)
    val layers = Seq(
      "doc" -> (us("pdf.doc") + us("pdf.doc.title")),
      "codec" -> decode,
      "font" -> us("pdf.font"),
      "content" -> vm,
      "layout" -> us("pdf.layout"),
      "convert" -> (us("pdf.convert.text") + us("pdf.convert.markdown") +
        us("pdf.convert.html") + us("pdf.convert.join")),
      "html" -> us("html.strip"))
    val kernel = layers.map(_._2).sum
    Seq(
      "pdf.doc.open_us" -> per(us("pdf.doc"), s.pdfDocs),
      "pdf.codec.decode_us_per_page" -> per(decode, s.pages),
      "pdf.font.load_us_per_page" -> per(us("pdf.font"), s.pages),
      "pdf.content.vm_us_per_page" -> per(vm, s.pages),
      "pdf.content.spans_per_page" -> per(s.rawSpans.toDouble, s.pages),
      "pdf.layout.us_per_page" -> per(us("pdf.layout"), s.pages),
      "pdf.convert.text_us_per_page" -> per(us("pdf.convert.text"), s.pages),
      "pdf.convert.markdown_us_per_page" -> per(us("pdf.convert.markdown"), s.pages),
      "pdf.convert.html_us_per_page" -> per(us("pdf.convert.html"), s.pages),
      "pdf.convert.out_bytes_per_in_byte" -> per(s.pdfOutBytes.toDouble, s.pdfInBytes),
      "html.strip_us_per_doc" -> per(us("html.strip"), s.htmlDocs)) ++
      layers.map { case (l, t) => s"kernel.share.$l" -> (if (kernel > 0) t / kernel else 0.0) } ++
      Seq(
        "kernel.replay_docs" -> s.docs.toDouble,
        "kernel.replay_match" -> s.matches.toDouble)
  }
}
