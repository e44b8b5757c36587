package graft.pipeline

import graft.hocr.{Hocr, HocrText}
import graft.html.Boilerplate
import graft.layout.{Assembly, MediaOcr, RuneIndex}

/** Pure per-span extraction — the unit of distributed work.
  *
  * kind = 'html'       -> DOM boilerplate strip (north rule)
  * kind = 'pdf_layout' -> reading-order stitch (H-13) straight from the
  *                        hOCR DOM (HocrText.fromMarkup, equal to the
  *                        H-1..H-11 parse + stitch); no page yields ""
  *                        (the reference swallows per-element errors,
  *                        parse.go:66-71)
  * kind = 'media'      -> deterministic OCR-style layout classification
  *                        (replaces the gRPC call G-22), then the G-13
  *                        hOCR assembly and the H-13 stitch
  * other kinds pass through unchanged.
  */
object SpanExtract {

  def extractSpanText(kind: String, text: String, mediaRef: String): String = kind match {
    // NULL span fields degrade like parse failures do (yield ""), never
    // NPE the task: nullable parquet from an external writer must not
    // kill the batch job or the shared streaming query
    case "html" =>
      if (text == null) "" else Boilerplate.extractMainText(text)
    case "pdf_layout" =>
      if (text == null) "" else HocrText.fromMarkup(text)
    case "media" =>
      if (mediaRef == null) ""
      else {
        val r = MediaOcr.classify(mediaRef)
        val page = Assembly.createHocrPage(r.page, new RuneIndex(r.text), 1)
        HocrText.extractText(Hocr(pages = Vector(page)))
      }
    case _ => text
  }
}
