package graft.pipeline

import org.apache.spark.unsafe.types.UTF8String

import graft.hocr.HocrText
import graft.html.{Arena, Boilerplate}
import graft.layout.MediaOcr

/** Pure per-span extraction — the unit of distributed work.
  *
  * kind = 'html'       -> DOM boilerplate strip (north rule)
  * kind = 'pdf_layout' -> reading-order stitch (H-13) straight from the
  *                        hOCR DOM (HocrText.fromMarkup, equal to the
  *                        H-1..H-11 parse + stitch); no page yields ""
  *                        (the reference swallows per-element errors,
  *                        parse.go:66-71)
  * kind = 'media'      -> the deterministic OCR-style classifier's
  *                        stitch law (MediaOcr.text; replaces the gRPC
  *                        call G-22), pinned equal to classify -> G-13
  *                        -> H-13 by MediaTextSpec
  * other kinds pass through unchanged.
  *
  * Spark runs this per span inside one native expression that every
  * Extract path uses (org.apache.spark.sql.graft.ExtractSpanSeq): it
  * calls the UTF8String entry of [[extractSpanText]] only for the
  * [[TransformedKinds]] and hands every other span's text through as the
  * same UTF8String. Every kernel reads the span's UTF-8 bytes in place
  * through an [[Arena]] (html and pdf_layout the text, media the ref)
  * and writes its output into the arena as UTF-8: no String is decoded
  * and none is encoded. One arena, with the kernels' walk state, serves
  * a task's spans, so a span allocates only its output. The String
  * entry is a wrapper over the same kernels (its text read as UTF-8, as
  * every Spark column holds it).
  */
object SpanExtract {

  final val Html = "html"
  final val PdfLayout = "pdf_layout"
  final val Media = "media"

  /** The kinds [[extractSpanText]] transforms; every other kind's text
    * passes through unchanged (`case _ => text`). */
  val TransformedKinds: Array[String] = Array(Html, PdfLayout, Media)

  def extractSpanText(kind: String, text: String, mediaRef: String): String = kind match {
    // NULL span fields degrade like parse failures do (yield ""), never
    // NPE the task: nullable parquet from an external writer must not
    // kill the batch job or the shared streaming query
    case Html =>
      if (text == null) "" else Boilerplate.extractMainText(text)
    case PdfLayout =>
      if (text == null) "" else HocrText.fromMarkup(text)
    case Media =>
      if (mediaRef == null) "" else MediaOcr.text(mediaRef)
    case _ => text
  }

  /** The same over UTF8Strings, equal to `fromString(extractSpanText(
    * kind, text.toString, mediaRef.toString))`. `arena` is the kernels'
    * scratch; one serves any number of spans in turn, and the result
    * never aliases it. */
  def extractSpanText(kind: String, text: UTF8String, mediaRef: UTF8String, arena: Arena): UTF8String =
    kind match {
      case Html | PdfLayout =>
        if (text == null) UTF8String.EMPTY_UTF8
        else {
          arena.load(text)
          if (kind == Html) Boilerplate.extractMainText(arena) else HocrText.fromMarkup(arena)
          arena.result()
        }
      case Media =>
        if (mediaRef == null) UTF8String.EMPTY_UTF8
        else {
          MediaOcr.text(mediaRef, arena)
          arena.result()
        }
      case _ => text
    }
}
