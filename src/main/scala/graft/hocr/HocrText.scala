package graft.hocr

import scala.collection.mutable

import graft.html.Arena

/** Reading-order text extraction — mirrors
  * /root/reference/pkg/hocr/helpers.go:10-102 exactly, including the
  * line-dedup-by-ID behavior (empty-ID lines all collide after the first)
  * and the separators: word -> "text ", line -> "\n", page -> "\n\n".
  *
  * Order per page: areas (slice order) -> page-direct paragraphs ->
  * page-direct lines. Inside an area: paragraphs -> direct lines ->
  * direct words. Inside a paragraph: lines -> direct words.
  *
  * Two entry points with one output: [[extractText]] over the parsed
  * model, and [[fromMarkup]] straight from the markup's arena. */
object HocrText {

  /** `extractText(parseHocrString(markup))`, with "" where the parse
    * finds no page, computed without the hOCR model (read as the
    * markup's UTF-8 bytes). */
  def fromMarkup(markup: String): String = {
    val a = Arena.of(markup)
    fromMarkup(a)
    a.resultString()
  }

  /** [[fromMarkup]] of the document `a` holds, into its output
    * ([[Arena.result]]). The walk is HocrParse's own [[HocrParse.Tree]]
    * (page, bucket, line-word and word-text rules), writing each word's
    * text as it is reached, so no `title` is parsed, no HWord..HPage is
    * built, and only word texts are decoded. The extraction hot path
    * (SpanExtract's pdf_layout kind) reads only word texts and line ids,
    * and allocation rate is its scaling limiter. The buckets come in
    * bucket order, not document order (areas, then paragraphs, then
    * lines), which is why this walks a whole-document arena and not a
    * token stream. The walk is the arena's own. */
  def fromMarkup(a: Arena): Unit = a.hocr.run()

  /** The stitch over the document its arena holds. An arena holds one
    * walk for all its documents; [[run]] starts each afresh. */
  private[graft] final class Walk(a: Arena) {
    private val t = new HocrParse.Tree(a)
    /** The ids of the page's lines written so far. */
    private val lineIds = new SliceSet
    private var wordsWritten = 0

    // the steps as functions, made once per walk instead of once per call
    private val pageStep: Int => Unit = page
    private val areaStep: Int => Unit = area
    private val paragraphStep: Int => Unit = paragraph
    private val lineStep: Int => Unit = line
    private val wordStep: Int => Unit = word

    def run(): Unit = {
      t.reset()
      a.resetOut(math.max(64, (a.srcEnd - a.srcStart) / 8))
      val s = t.pages()
      t.each(s, 0)(pageStep)
      a.pool.n = s
      a.finish()
    }

    private def page(n: Int): Unit = {
      lineIds.clear()
      val s = t.collect(n, HocrParse.PageBuckets)
      t.each(s, 0)(areaStep)
      t.each(s, 1)(paragraphStep)
      t.each(s, 2)(lineStep)
      a.pool.n = s
      a.ensureOut(2)
      a.put('\n'); a.put('\n')
    }

    private def area(n: Int): Unit = {
      val s = t.collect(n, HocrParse.AreaBuckets)
      t.each(s, 0)(paragraphStep)
      t.each(s, 1)(lineStep)
      words(s, 2)
      a.pool.n = s
    }

    private def paragraph(n: Int): Unit = {
      val s = t.collect(n, HocrParse.ParaBuckets)
      t.each(s, 0)(lineStep)
      words(s, 1)
      a.pool.n = s
    }

    /** Area- or paragraph-direct words: one line, none when empty. */
    private def words(s: Int, b: Int): Unit = {
      val before = wordsWritten
      t.each(s, b)(wordStep)
      if (wordsWritten > before) { a.ensureOut(1); a.put('\n') }
    }

    /** A line once per id (processLine keeps the LAST `id` attribute). */
    private def line(n: Int): Unit = {
      val id = a.lastAttr(n, Arena.IdAttr)
      val fresh =
        if (id < 0) lineIds.add(a.src, 0, 0)
        else { a.valueOf(id); lineIds.add(a.textArr, a.textFrom, a.textTo) }
      if (fresh) {
        val s = t.lineWords(n)
        t.each(s, 0)(wordStep)
        a.pool.n = s
        a.ensureOut(1)
        a.put('\n')
      }
    }

    /** A word's text and a space. */
    private def word(n: Int): Unit = {
      t.wordText(n)
      a.ensureOut(1)
      a.put(' ')
      wordsWritten += 1
    }
  }

  /** A set of byte strings (line ids), copied into one pool. */
  private final class SliceSet {
    private var bytes = new Array[Byte](64)
    private var used = 0
    private var starts = new Array[Int](8)
    private var ends = new Array[Int](8)
    private var size = 0
    private var table = new Array[Int](16) // entry + 1, 0 = empty

    def clear(): Unit = {
      if (size > 0) java.util.Arrays.fill(table, 0)
      used = 0
      size = 0
    }

    /** Adds `arr(from until to)`; false when it was present. */
    def add(arr: Array[Byte], from: Int, to: Int): Boolean = {
      var h = 1
      var i = from
      while (i < to) { h = 31 * h + arr(i); i += 1 }
      var slot = (h ^ (h >>> 16)) & (table.length - 1)
      while (table(slot) != 0) {
        val e = table(slot) - 1
        if (java.util.Arrays.equals(bytes, starts(e), ends(e), arr, from, to)) return false
        slot = (slot + 1) & (table.length - 1)
      }
      if (used + (to - from) > bytes.length) bytes = java.util.Arrays.copyOf(bytes, math.max(2 * bytes.length, used + to - from))
      System.arraycopy(arr, from, bytes, used, to - from)
      if (size == starts.length) {
        starts = java.util.Arrays.copyOf(starts, 2 * size)
        ends = java.util.Arrays.copyOf(ends, 2 * size)
      }
      starts(size) = used
      used += to - from
      ends(size) = used
      table(slot) = size + 1
      size += 1
      if (2 * size > table.length) rehash()
      true
    }

    private def rehash(): Unit = {
      val old = table
      table = new Array[Int](2 * old.length)
      var k = 0
      while (k < size) {
        var h = 1
        var i = starts(k)
        while (i < ends(k)) { h = 31 * h + bytes(i); i += 1 }
        var slot = (h ^ (h >>> 16)) & (table.length - 1)
        while (table(slot) != 0) slot = (slot + 1) & (table.length - 1)
        table(slot) = k + 1
        k += 1
      }
    }
  }

  def extractText(doc: Hocr): String = {
    val sb = new StringBuilder
    doc.pages.foreach { page =>
      val processed = mutable.HashSet.empty[String]
      page.areas.foreach(a => extractAreaText(sb, a, processed))
      page.paragraphs.foreach(p => extractParagraphText(sb, p, processed))
      page.lines.foreach { line =>
        if (!processed.contains(line.id)) {
          extractLineText(sb, line)
          processed += line.id
        }
      }
      sb.append("\n\n")
    }
    sb.toString
  }

  private def extractAreaText(sb: StringBuilder, area: HArea, processed: mutable.HashSet[String]): Unit = {
    area.paragraphs.foreach(p => extractParagraphText(sb, p, processed))
    area.lines.foreach { line =>
      if (!processed.contains(line.id)) {
        extractLineText(sb, line)
        processed += line.id
      }
    }
    if (area.words.nonEmpty) {
      area.words.foreach(w => sb.append(w.text).append(' '))
      sb.append('\n')
    }
  }

  private def extractParagraphText(sb: StringBuilder, para: HPara, processed: mutable.HashSet[String]): Unit = {
    para.lines.foreach { line =>
      if (!processed.contains(line.id)) {
        extractLineText(sb, line)
        processed += line.id
      }
    }
    if (para.words.nonEmpty) {
      para.words.foreach(w => sb.append(w.text).append(' '))
      sb.append('\n')
    }
  }

  private def extractLineText(sb: StringBuilder, line: HLine): Unit = {
    line.words.foreach(w => sb.append(w.text).append(' '))
    sb.append('\n')
  }
}
