package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.hocr.HocrText
import graft.html.{Arena, Boilerplate}
import graft.pipeline.SpanExtract

/** 100k end tags that close nothing, under 100k open elements: the
  * parser must reject each stray end tag without walking the open
  * stack (that walk made the parse quadratic — minutes for a 1 MB
  * span). Both kernels built on the parser, the html boilerplate strip
  * and the pdf_layout hOCR stitch, give the literal text through both
  * entries (String and UTF8String). */
class StrayEndTagSpec extends AnyFunSuite {

  private val N = 100000
  private val para = Seq.fill(20)("word").mkString(" ") + "!"
  /** N unclosed <div>, an unclosed <p>, then N stray </span> */
  private val soup = "<div>" * N + s"<p>$para" + "</span>" * N

  private def viaBytes(kind: String, s: String): String =
    SpanExtract.extractSpanText(kind, UTF8String.fromString(s), null, new Arena).toString

  /** `f` on a thread with a 1 MiB stack, within 10 s. */
  private def onSmallStack[A](f: => A): A = {
    val result = new AtomicReference[Either[Throwable, A]]()
    val t = new Thread(null, () => result.set(try Right(f) catch { case e: Throwable => Left(e) }),
      "stray-end-tags", 1L << 20)
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(Span(10, Seconds)) {
      t.start()
      t.join()
    }
    result.get.fold(e => fail(s"threw $e"), identity)
  }

  test("100k stray end tags under 100k open elements: html kernel, literal text") {
    assert(para.length == 100)
    assert(onSmallStack(Boilerplate.extractMainText(soup)) == para)
    assert(onSmallStack(viaBytes("html", soup)) == para)
  }

  test("100k stray end tags under 100k open elements: hOCR kernel, literal text") {
    val page = "<div class='ocr_page'><span class='ocr_line'><span class='ocrx_word'>first</span></span>" +
      soup + "</div>"
    assert(onSmallStack(HocrText.fromMarkup(page)) == "first \n\n\n")
    assert(onSmallStack(viaBytes("pdf_layout", page)) == "first \n\n\n")
  }
}
