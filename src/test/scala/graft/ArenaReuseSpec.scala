package graft

import java.lang.management.ManagementFactory

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.html.Arena
import graft.pipeline.SpanExtract

/** One arena over many documents, as a task's spans share one
  * (ExtractSpanSeq's generated code holds an arena per partition): what
  * a document leaves behind is bounded by that document, every output
  * equals a fresh arena's, and once warm a span allocates its output and
  * nothing more. */
class ArenaReuseSpec extends AnyFunSuite {

  private val prose = "This paragraph holds enough words of prose to be kept by the filter"

  private def viaArena(kind: String, s: UTF8String, arena: Arena): UTF8String =
    if (kind == SpanExtract.Media) SpanExtract.extractSpanText(kind, null, s, arena)
    else SpanExtract.extractSpanText(kind, s, null, arena)

  test("10k documents, each with a name of its own and stray end tags: bounded names, fresh-arena outputs") {
    val arena = new Arena
    (0 until 10000).foreach { i =>
      val doc = UTF8String.fromString(
        s"<div class='ocr_page'><x-tag$i><p>$prose $i</p></b><span class='ocr_line'>" +
          s"<span class='ocrx_word'>w$i</span></span></x-tag$i></z$i></div>")
      Seq(SpanExtract.Html, SpanExtract.PdfLayout, SpanExtract.Media).foreach { kind =>
        val got = viaArena(kind, doc, arena)
        // x-tag$i is the one name outside Arena.Tags; z$i closes nothing
        // and is never interned
        if (kind != SpanExtract.Media) assert(arena.extraCount <= 1, s"doc $i: ${arena.extraCount} extra names")
        assert(got == viaArena(kind, doc, new Arena), s"doc $i, $kind")
      }
    }
  }

  test("warm, one arena allocates a span's output and at most 64 B more, over 1,000 html, pdf_layout and media spans") {
    val text = Seq.tabulate(300)(i => prose.split(' ')(i % 13) + (if (i % 7 == 0) "." else "")).mkString(" ")
    val spans = Iterator.from(0).flatMap(d => CorpusGen.genDoc(d.toLong, text).spans)
      .filter(s => SpanExtract.TransformedKinds.contains(s.kind)).take(1000).toArray
    val n = spans.length
    SpanExtract.TransformedKinds.foreach(k => assert(spans.count(_.kind == k) >= 200, k))
    val kinds = spans.map(_.kind)
    val texts = spans.map(s => UTF8String.fromString(s.text))
    val refs = spans.map(s => UTF8String.fromString(s.media_ref))
    val outs = new Array[UTF8String](n)
    val copies = new Array[UTF8String](n)
    val arena = new Arena
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

    /** Bytes allocated by one pass of the kernels over the spans. */
    def kernels(): Long = {
      val before = mx.getCurrentThreadAllocatedBytes
      var i = 0
      while (i < n) { outs(i) = SpanExtract.extractSpanText(kinds(i), texts(i), refs(i), arena); i += 1 }
      mx.getCurrentThreadAllocatedBytes - before
    }
    /** Bytes allocated by making outputs of the same lengths. */
    def outputs(): Long = {
      val before = mx.getCurrentThreadAllocatedBytes
      var i = 0
      while (i < n) { copies(i) = UTF8String.fromBytes(new Array[Byte](outs(i).numBytes)); i += 1 }
      mx.getCurrentThreadAllocatedBytes - before
    }

    (0 until 40).foreach { _ => kernels(); outputs() }
    val kernel = (0 until 5).map(_ => kernels()).min
    val output = (0 until 5).map(_ => outputs()).min
    info(f"kernels ${kernel.toDouble / n}%.1f B/span, their outputs ${output.toDouble / n}%.1f B/span")
    assert(outs.forall(o => o != null && o.numBytes > 0))
    assert(kernel <= output + 64L * n,
      f"kernels allocate ${(kernel - output).toDouble / n}%.1f B/span beyond their output")
  }
}
