package graft.hocr

import scala.collection.mutable

import graft.html.HtmlDom
import graft.html.HtmlDom.Node

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
  * model, and [[fromMarkup]] straight from the markup's DOM. */
object HocrText {

  /** `extractText(parseHocrString(markup))`, with "" where the parse
    * finds no page, computed without the hOCR model: the DOM walk uses
    * HocrParse's own page, bucket and word rules and emits each word's
    * text as it is reached, so no `title` is parsed and no
    * HWord..HPage is built. The extraction hot path (SpanExtract's
    * pdf_layout kind) reads only word texts and line ids, and allocation
    * rate is its scaling limiter. */
  def fromMarkup(markup: String): String = {
    val pages = HocrParse.pageNodes(HtmlDom.parse(markup))
    if (pages.isEmpty) return ""
    val sb = new java.lang.StringBuilder
    val processed = mutable.HashSet.empty[String]
    pages.foreach { page =>
      processed.clear()
      val Array(areas, paras, lines) = HocrParse.collectByClass(page, HocrParse.PageClasses)
      areas.foreach { area =>
        val Array(aParas, aLines, aWords) = HocrParse.collectByClass(area, HocrParse.AreaClasses)
        aParas.foreach(p => paragraphFromMarkup(sb, p, processed))
        aLines.foreach(l => lineFromMarkup(sb, l, processed))
        wordsFromMarkup(sb, aWords)
      }
      paras.foreach(p => paragraphFromMarkup(sb, p, processed))
      lines.foreach(l => lineFromMarkup(sb, l, processed))
      sb.append("\n\n")
    }
    sb.toString
  }

  private def paragraphFromMarkup(sb: java.lang.StringBuilder, para: Node,
      processed: mutable.HashSet[String]): Unit = {
    val Array(lines, words) = HocrParse.collectByClass(para, HocrParse.ParaClasses)
    lines.foreach(l => lineFromMarkup(sb, l, processed))
    wordsFromMarkup(sb, words)
  }

  /** A line once per id (processLine keeps the LAST `id` attribute). */
  private def lineFromMarkup(sb: java.lang.StringBuilder, line: Node,
      processed: mutable.HashSet[String]): Unit = {
    var id = ""
    line.attrs.foreach { case (k, v) => if (k == "id") id = v }
    if (processed.add(id)) {
      HocrParse.lineWordNodes(line).foreach(w => sb.append(HocrParse.wordText(w)).append(' '))
      sb.append('\n')
    }
  }

  /** Area- or paragraph-direct words: one line, none when empty. */
  private def wordsFromMarkup(sb: java.lang.StringBuilder, words: collection.Seq[Node]): Unit =
    if (words.nonEmpty) {
      words.foreach(w => sb.append(HocrParse.wordText(w)).append(' '))
      sb.append('\n')
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
