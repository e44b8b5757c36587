package graftbench

import java.lang.management.ManagementFactory

import graft.hocr.{Hocr, HocrParse, HocrText}
import graft.layout.MediaOcr
import graft.pipeline.SpanExtract

/** Allocation counters from the JVM's per-thread allocated-bytes
  * accounting. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def thread(): Long = mx.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** thread id -> bytes allocated so far, for every live thread. */
  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** Bytes allocated JVM-wide since `before` (threads that ended in
    * between are not counted; Spark's task threads are pooled). */
  def since(before: Map[Long, Long]): Long =
    snapshot().iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.sum
}

/** Single-threaded kernel probe over a sample of a workload's own spans,
  * warmed to steady state before it is timed. */
object Probe {

  final case class Result(nsPerSpan: Double, bytesPerSpan: Double, emptyOutRatio: Double)

  private val SampleSize = 256
  private val WarmNs = 150000000L
  private val RoundNs = 40000000L
  private val Rounds = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over rounds of ns and allocated bytes per item; `emptyOut`
    * counts items whose kernel turned non-empty input into "". */
  private def time[A](items: IndexedSeq[A])(kernel: A => Any)(emptyOut: (A, Any) => Boolean): Result = {
    def sweep(): Unit = items.foreach(kernel)
    val warmUntil = System.nanoTime() + WarmNs
    do sweep() while (System.nanoTime() < warmUntil)
    val rounds = (1 to Rounds).map { _ =>
      val b0 = Alloc.thread()
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < RoundNs) { sweep(); n += items.size }
      ((System.nanoTime() - t0).toDouble / n, (Alloc.thread() - b0).toDouble / n)
    }
    val empties = items.count(a => emptyOut(a, kernel(a)))
    Result(median(rounds.map(_._1)), median(rounds.map(_._2)), empties.toDouble / items.size)
  }

  private def sample(docs: Seq[BDoc], kind: String): IndexedSeq[BSpan] =
    docs.iterator.flatMap(_.spans).filter(_.kind == kind).take(SampleSize).toIndexedSeq

  /** Per-layer kernel metrics, keyed by metric name. Every kind must be
    * present in the workload's input. */
  def run(docs: Seq[BDoc], tr: Tracer): Seq[(String, Double, String)] = {
    val perKind = Seq("html", "pdf_layout", "media").flatMap { kind =>
      val spans = sample(docs, kind)
      require(spans.nonEmpty, s"the workload has no $kind spans to probe")
      val r = tr.span(s"SpanExtract.$kind") {
        time(spans)(s => SpanExtract.extractSpanText(s.kind, s.text, s.media_ref)) { (s, out) =>
          val in = if (kind == "media") s.media_ref else s.text
          in.nonEmpty && out == ""
        }
      }
      Seq((s"SpanExtract.$kind.ns_per_span", r.nsPerSpan, "ns/span"),
        (s"SpanExtract.$kind.alloc_bytes_per_span", r.bytesPerSpan, "B/span"),
        (s"SpanExtract.$kind.empty_out_ratio", r.emptyOutRatio, "ratio"))
    }
    val never = (_: Any, _: Any) => false
    val pdf = sample(docs, "pdf_layout").map(_.text)
    val parse = tr.span("HocrParse") { time(pdf)(HocrParse.parseHocrString)(never) }
    val parsed: IndexedSeq[Hocr] = pdf.flatMap(HocrParse.parseHocrString(_).toOption)
    val text = tr.span("HocrText") { time(parsed)(HocrText.extractText)(never) }
    val refs = sample(docs, "media").map(_.media_ref)
    val classify = tr.span("MediaOcr") { time(refs)(MediaOcr.classify)(never) }
    perKind ++ Seq(
      ("HocrParse.ns_per_span", parse.nsPerSpan, "ns/span"),
      ("HocrText.ns_per_span", text.nsPerSpan, "ns/span"),
      ("MediaOcr.classify_ns_per_span", classify.nsPerSpan, "ns/span"))
  }
}
