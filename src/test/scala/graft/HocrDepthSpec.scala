package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.hocr.{HocrParse, HocrText}
import graft.html.Arena
import graft.pipeline.SpanExtract

/** 100k-deep hOCR on the 1 MiB stack a Spark task thread gets: the DOM
  * walks (pages, class buckets, line words, word text) must not spend
  * thread stack per nesting level. Every entry point — the arena stitch
  * (HocrText.fromMarkup, the pdf_layout kernel, from a String and from
  * UTF8String bytes) and the parsed model — gives the literal text. */
class HocrDepthSpec extends AnyFunSuite {

  private val N = 100000
  private val page = "<div class='ocr_page'>"

  /** (shape, markup, its text) */
  private val shapes = Seq(
    ("plain <span>s inside an ocr_line",
      s"$page<span class='ocr_line' id='l'>" + "<span>" * N +
        "<span class='ocrx_word'>deep</span>" + "</span>" * N + "</span></div>",
      "deep \n\n\n"),
    ("<div>s above the ocr_page",
      "<div>" * N + s"$page<span class='ocr_line'><span class='ocrx_word'>page</span></span></div>" +
        "</div>" * N,
      "page \n\n\n"),
    // every level holds " x ", the next level and " ": each level's text
    // is trimmed, so the word is N x's and the innermost " y"
    ("<b>s inside an ocrx_word",
      s"$page<span class='ocr_line'><span class='ocrx_word'>" + "<b> x " * N + "y" + " </b>" * N +
        "</span></span></div>",
      "x" * N + " y \n\n\n"),
    ("nested ocr_lines, one word each",
      page + "<span class='ocr_line'><span class='ocrx_word'>w</span>" * N + "</span>" * N + "</div>",
      "w " * N + "\n\n\n"))

  /** `f` on a thread with a 1 MiB stack, within 10 s. */
  private def onSmallStack[A](f: => A): A = {
    val result = new AtomicReference[Either[Throwable, A]]()
    val t = new Thread(null, () => result.set(try Right(f) catch { case e: Throwable => Left(e) }),
      "deep-hocr", 1L << 20)
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(Span(10, Seconds)) {
      t.start()
      t.join()
    }
    result.get.fold(e => fail(s"threw $e"), identity)
  }

  shapes.foreach { case (shape, markup, text) =>
    test(s"100k deep, $shape: literal text on a 1 MiB stack") {
      assert(onSmallStack(HocrText.fromMarkup(markup)) == text)
      assert(onSmallStack(SpanExtract.extractSpanText("pdf_layout", UTF8String.fromString(markup), null,
        new Arena).toString) == text)
      assert(onSmallStack(HocrParse.parseHocrString(markup).map(HocrText.extractText)) == Right(text))
    }
  }
}
