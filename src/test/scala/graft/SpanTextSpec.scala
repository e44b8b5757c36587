package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.layout.MediaOcr
import graft.pipeline.SpanExtract
import graft.queries.HtmlTextQ

/** The two text LAWS behind q_extract_html_text / q_extract_pdf_text
  * (and the capstone q_extract_span_equality):
  *
  *  - html: HtmlTextQ.predictHtmlText (the static strip law the DuckDB
  *    oracle computes) must equal the REAL pipeline — HtmlDom.parse ->
  *    Boilerplate.extractMainText — on every html span CorpusGen
  *    generates. Both data-dependent branches (h%3 ads div, h%2 second
  *    paragraph) must fire in bulk: the ads branch exercises the
  *    link-density drop, the second paragraph the block join.
  *  - pdf_layout: MediaOcr.text("pdf://<doc>/<i>") — the media stitch
  *    law, different seed — must equal the REAL
  *    round-trip: CorpusGen renders genuine hOCR XHTML from the
  *    classifier page and extraction does HocrParse -> H-13 stitch. Any
  *    loss in render -> parse (entity escaping, line IDs, bbox fields,
  *    break-char cleaning) diverges here.
  *
  * Texts are corpus-shaped (10-100 single-spaced lowercase words, the
  * driver generator's shape, verified at sf0.001/0.01/0.1) plus edge
  * shapes: the 1-word doc and a word-count band around the 40-word body
  * slice floor, so slice clamping at both ends is exercised.
  */
class SpanTextSpec extends AnyFunSuite {

  private def mkText(d: Int): String = {
    val wl = 1 + Math.floorMod(graft.layout.MediaOcr.hash64(s"lawlen:$d"), 100L).toInt
    (0 until wl).map { j =>
      val h = graft.layout.MediaOcr.hash64(s"lawword:$d:$j")
      val len = 1 + Math.floorMod(h, 9L).toInt
      (0 until len).map(c => ('a' + Math.floorMod(h >>> (4 * c + 4), 26L).toInt).toChar).mkString
    }.mkString(" ")
  }

  test("predictHtmlText == parse+strip on every generated html span (both branches fired)") {
    var htmlSpans = 0
    var ads = 0
    var second = 0
    (0 until 400).foreach { d =>
      val docId = d.toLong
      val text = mkText(d)
      CorpusGen.genDoc(docId, text).spans.zipWithIndex.foreach { case (sp, i) =>
        if (sp.kind == "html") {
          htmlSpans += 1
          val h = graft.layout.MediaOcr.hash64(s"span:$docId:$i")
          if (Math.floorMod(h, 3L) == 0) ads += 1
          if (Math.floorMod(h, 2L) == 0) second += 1
          val real = SpanExtract.extractSpanText("html", sp.text, "")
          val predicted = HtmlTextQ.predictHtmlText(text, docId, i)
          assert(predicted == real,
            s"doc=$docId span=$i\npredicted=<$predicted>\nreal=<$real>\nhtml=<${sp.text}>")
        }
      }
    }
    assert(htmlSpans > 500, s"only $htmlSpans html spans generated")
    assert(ads > 100, s"ads-div branch fired only $ads times")
    assert(second > 100, s"second-paragraph branch fired only $second times")
  }

  test("MediaOcr.text(pdf://) == render -> parse -> stitch on every generated pdf span") {
    var pdfSpans = 0
    (0 until 300).foreach { d =>
      val docId = d.toLong
      val text = mkText(d + 100000)
      CorpusGen.genDoc(docId, text).spans.zipWithIndex.foreach { case (sp, i) =>
        if (sp.kind == "pdf_layout") {
          pdfSpans += 1
          val real = SpanExtract.extractSpanText("pdf_layout", sp.text, "")
          val predicted = MediaOcr.text(s"pdf://$docId/$i")
          assert(predicted == real,
            s"doc=$docId span=$i\npredicted=<$predicted>\nreal=<$real>")
        }
      }
    }
    assert(pdfSpans > 300, s"only $pdfSpans pdf spans generated")
  }

  test("html law survives the mega-doc span range (> 256 spans, ordinals 3 digits)") {
    // doc_id 251 is a mega doc: span ordinals reach >= 256, exercising
    // multi-digit span_order in both the heading and the second paragraph
    val docId = 251L
    val text = mkText(251)
    val spans = CorpusGen.genDoc(docId, text).spans
    assert(spans.length > 256)
    spans.zipWithIndex.foreach { case (sp, i) =>
      if (sp.kind == "html")
        assert(HtmlTextQ.predictHtmlText(text, docId, i) ==
          SpanExtract.extractSpanText("html", sp.text, ""))
    }
  }
}
