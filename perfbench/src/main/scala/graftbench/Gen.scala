package graftbench

/** splitmix64: the benchmark's only source of randomness. */
final class Rng(seed: Long) {
  private var s = seed
  def long(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def int(n: Int): Int = java.lang.Math.floorMod(long(), n.toLong).toInt
  def between(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)
  def unit(): Double = (long() >>> 11) * (1.0 / (1L << 53))
}

/** Input rows, in the single-row layout graft reads
  * (doc_id, spans: array<struct<kind,text,media_ref,offset>>) and in the
  * pre-split layout (doc_id, part_idx, spans, n_spans). */
final case class BSpan(kind: String, text: String, media_ref: String, offset: Int)
final case class BDoc(doc_id: String, spans: Seq[BSpan])
final case class BPart(doc_id: String, part_idx: Int, spans: Seq[BSpan], n_spans: Int)

/** A workload's input dimensions. Only the content depends on the seed:
  * doc counts, mega-doc sizes and doc ids are fixed, so bucket sizes and
  * the skew shape are the same for every seed.
  *
  * @param smallDocs docs with [[Gen.SmallSpans]] spans each
  * @param smallMix  kind -> share for the spans of small docs
  * @param megaSpans span count of each single-row mega-doc
  * @param megaMix   kind -> share for the spans of mega-docs
  * @param stagePreSplit stage the pre-split layout, not the single-row
  *                  table, for the resumable sink */
final case class Shape(
    name: String,
    smallDocs: Int,
    smallMix: Seq[(String, Double)],
    megaSpans: Seq[Int],
    megaMix: Seq[(String, Double)],
    stagePreSplit: Boolean)

object Shape {
  /** Sizes keep one run of a workload near 50 s on a 4-core host
    * (NOTES.md has the measured sizes). */
  val all: Seq[Shape] = Seq(
    // kernel-bound: every doc is below Extract.DefaultSpreadThreshold; the
    // resumable sink reads the same docs in the pre-split layout
    Shape("mixed_small_docs", 3000,
      Seq("html" -> 0.4, "pdf_layout" -> 0.3, "media" -> 0.3), Nil, Nil,
      stagePreSplit = true),
    // exchange- and stitch-bound: unsplittable mega rows of mostly
    // pass-through spans; the few html/pdf_layout spans keep every kernel
    // probe defined on this workload too
    Shape("mega_doc_skew", 2000,
      Seq("text" -> 0.8, "html" -> 0.08, "pdf_layout" -> 0.06, "media" -> 0.06),
      Seq(10000, 15000, 20000, 30000), Seq("text" -> 0.95, "media" -> 0.05),
      stagePreSplit = false))

  def byName(name: String): Option[Shape] = all.find(_.name == name)
}

/** Seeded input generator. Self-contained on purpose: it writes its own
  * HTML page chrome and its own hOCR XHTML and calls no graft code, so a
  * change to graft's own fixture generator or renderer cannot change the
  * benchmark's inputs. */
object Gen {

  /** Spans per small doc, uniform and inclusive; the most a small doc can
    * have stays far below Extract.DefaultSpreadThreshold. */
  val SmallSpans: (Int, Int) = (2, 7)

  private val Words = Array(
    "the", "market", "report", "shows", "growth", "across", "several",
    "regions", "while", "costs", "remained", "stable", "during", "quarter",
    "analysts", "expect", "further", "gains", "next", "year", "city",
    "council", "approved", "new", "budget", "for", "public", "transport",
    "schools", "and", "parks", "research", "team", "found", "evidence",
    "that", "sleep", "improves", "memory", "in", "older", "adults", "local",
    "farmers", "harvest", "early", "after", "warm", "spring", "weather",
    "engine", "reads", "documents", "extracts", "main", "content", "from",
    "pages", "with", "tables", "figures", "captions", "scanned", "forms",
    "river", "bridge", "opened", "to", "traffic", "on", "monday", "museum",
    "exhibit", "draws", "record", "crowds", "this", "summer", "library",
    "extends", "opening", "hours", "students", "volunteers", "planted",
    "trees", "along", "northern", "shore", "company", "announced", "plans",
    "hire", "engineers", "factory", "output", "rose", "percent", "last",
    "month", "according", "official", "figures", "released", "today")

  private def words(r: Rng, n: Int, sb: StringBuilder): StringBuilder = {
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.int(Words.length)))
      i += 1
    }
    sb
  }

  private def sentence(r: Rng, lo: Int, hi: Int): String =
    words(r, r.between(lo, hi), new StringBuilder).append('.').toString

  /** ~0.7 KB page: nav, header, optional ad, one or two main paragraphs,
    * aside and footer. */
  def html(r: Rng): String = {
    val sb = new StringBuilder(1024)
    sb.append("<html><head><title>").append(sentence(r, 3, 6))
      .append("</title><script>var t=").append(r.int(1000)).append(";</script></head><body>")
    sb.append("<nav><a href='/'>Home</a> <a href='/news'>News</a> ")
      .append("<a href='/shop'>Shop</a> <a href='/about'>About</a></nav>")
    sb.append("<header><h1>").append(sentence(r, 4, 8)).append("</h1></header>")
    if (r.int(2) == 0)
      sb.append("<div class='ad'><a href='/ad/").append(r.int(100))
        .append("'>Sponsored: ").append(sentence(r, 3, 5)).append("</a></div>")
    sb.append("<div id='content'><p>").append(sentence(r, 20, 35)).append("</p>")
    if (r.int(2) == 0) sb.append("<p>").append(sentence(r, 12, 24)).append("</p>")
    sb.append("</div><aside><a href='/r1'>").append(sentence(r, 2, 3))
      .append("</a> <a href='/r2'>").append(sentence(r, 2, 3)).append("</a></aside>")
    sb.append("<footer>Copyright 2026 Example Inc. <a href='/privacy'>Privacy</a></footer>")
    sb.append("</body></html>")
    sb.toString
  }

  private def bbox(sb: StringBuilder, x1: Int, y1: Int, x2: Int, y2: Int): StringBuilder =
    sb.append("bbox ").append(x1).append(' ').append(y1).append(' ')
      .append(x2).append(' ').append(y2)

  /** ~4.5 KB one-page hOCR XHTML: 2 blocks of 1-2 paragraphs of 2-3 lines
    * of 3-5 words, each element with a bbox title. */
  def hocr(r: Rng, n: Int): String = {
    val sb = new StringBuilder(6144)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML 1.0 Transitional//EN\" ")
      .append("\"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd\">\n")
    sb.append("<html xmlns=\"http://www.w3.org/1999/xhtml\" xml:lang=\"en\" lang=\"en\">\n<head>\n")
    sb.append("  <title>scan ").append(n).append("</title>\n")
    sb.append("  <meta http-equiv=\"Content-Type\" content=\"text/html;charset=utf-8\" />\n")
    sb.append("  <meta name=\"ocr-system\" content=\"scanner\" />\n")
    sb.append("  <meta name=\"ocr-number-of-pages\" content=\"1\" />\n</head>\n<body>\n")
    sb.append("  <div class='ocr_page' id='page_1' title='")
    bbox(sb, 0, 0, 2480, 3508).append("; ppageno 1'>\n")
    var par = 0
    var line = 0
    var word = 0
    var y = 200
    var block = 1
    while (block <= 2) {
      sb.append("    <div class='ocr_carea' id='block_1_").append(block).append("' title='")
      bbox(sb, 150, y, 2330, y + 1200).append("'>\n")
      val nPar = r.between(1, 2)
      var p = 0
      while (p < nPar) {
        par += 1
        sb.append("      <p class='ocr_par' id='par_1_").append(par).append("' lang='eng' title='")
        bbox(sb, 150, y, 2330, y + 400).append("'>\n")
        val nLine = r.between(2, 3)
        var l = 0
        while (l < nLine) {
          line += 1
          sb.append("        <span class='ocr_line' id='line_1_").append(line).append("' title='")
          bbox(sb, 150, y, 2330, y + 60).append("; baseline 0.002 -12'>")
          val nWord = r.between(3, 5)
          var x = 150
          var w = 0
          while (w < nWord) {
            word += 1
            val text = Words(r.int(Words.length))
            val x2 = x + 40 * text.length
            sb.append("\n          <span class='ocrx_word' id='word_1_").append(word).append("' title='")
            bbox(sb, x, y, x2, y + 50).append("; x_wconf ").append(70 + r.int(30))
              .append("'>").append(text).append("</span>")
            x = x2 + 30
            w += 1
          }
          sb.append("\n        </span>\n")
          y += 70
          l += 1
        }
        sb.append("      </p>\n")
        p += 1
      }
      sb.append("    </div>\n")
      y += 100
      block += 1
    }
    sb.append("  </div>\n</body>\n</html>\n")
    sb.toString
  }

  private def pick(r: Rng, mix: Seq[(String, Double)]): String = {
    val u = r.unit()
    var acc = 0.0
    mix.find { case (_, share) => acc += share; u < acc }.getOrElse(mix.last)._1
  }

  private def span(r: Rng, kind: String, n: Int, offset: Int): BSpan = kind match {
    case "html"       => BSpan("html", html(r), "", offset)
    case "pdf_layout" => BSpan("pdf_layout", hocr(r, n), "", offset)
    case "media"      => BSpan("media", "", f"img://${r.long()}%016x", offset)
    case k            => BSpan(k, sentence(r, 15, 30), "", offset)
  }

  private def doc(seed: Long, idx: Int, nSpans: Int, mix: Seq[(String, Double)]): BDoc = {
    val r = new Rng(new Rng(seed).long() ^ (idx.toLong * 0xD1B54A32D192ED03L))
    val spans = new Array[BSpan](nSpans)
    var offset = 0
    var i = 0
    while (i < nSpans) {
      spans(i) = span(r, pick(r, mix), i, offset)
      offset += 1 + spans(i).text.length
      i += 1
    }
    BDoc(f"doc_$idx%07d", spans.toSeq)
  }

  /** The first `count` docs of a workload (all by default); mega-docs sit
    * at evenly spaced positions so each lands in a different input file. */
  def docs(shape: Shape, seed: Long, count: Int = -1): Vector[BDoc] = {
    val total = shape.smallDocs + shape.megaSpans.size
    val megaAt = shape.megaSpans.indices.map(i => (i * 2 + 1) * total / (2 * shape.megaSpans.size) -> i).toMap
    Vector.tabulate(if (count < 0) total else math.min(count, total)) { idx =>
      megaAt.get(idx) match {
        case Some(m) => doc(seed, idx, shape.megaSpans(m), shape.megaMix)
        case None =>
          val r = new Rng(seed * 31 + idx)
          doc(seed, idx, r.between(SmallSpans._1, SmallSpans._2), shape.smallMix)
      }
    }
  }

  /** The pre-split layout: each doc's spans in `partSize` chunks, with
    * n_spans the doc total. */
  def preSplit(docs: Seq[BDoc], partSize: Int): Seq[BPart] =
    docs.flatMap(d => d.spans.grouped(partSize).zipWithIndex.map { case (chunk, p) =>
      BPart(d.doc_id, p, chunk, d.spans.size)
    })
}
