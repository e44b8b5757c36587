package graft.html

import graft.html.HtmlDom.{ElementNode, Node, TextNode}
import graft.text.GoStrings

/** Main-content extraction from raw HTML (the north rule's "HTML
  * boilerplate strip ... DOM heuristics (tag/text-density scoring,
  * link-density pruning)").
  *
  * The algorithm is deterministic and self-contained (in the spirit of
  * Boilerpipe/jusText, from the published descriptions, not their code):
  *
  *  1. Parse the DOM; DROP subtrees rooted at non-content tags:
  *     script, style, noscript, template, iframe, svg, canvas, form,
  *     button, select, option, nav, footer, aside.
  *  2. Segment the remaining tree into BLOCKS: a block ends at each
  *     block-level element boundary (p, div, section, article, main,
  *     h1-h6, li, ul, ol, table, tr, td, th, blockquote, pre, br, ...).
  *     Inline elements (a, span, b, i, em, strong, ...) do not split.
  *  3. Per block compute: textLen (codepoints after whitespace collapse),
  *     linkLen (codepoints contributed inside <a>), tagCount (inline
  *     elements spanned), and the densities
  *       textDensity = textLen / (1 + tagCount)
  *       linkDensity = linkLen / textLen.
  *  4. KEEP a block iff
  *       - heading (h1-h6 ancestor): textLen >= 3 and linkDensity == 0
  *       - list item (li ancestor):  textLen >= 30 and linkDensity <= 0.2
  *       - otherwise:                textLen >= 25 and linkDensity <= 1/3
  *                                   and textDensity >= 8.
  *  5. Output = kept blocks joined with "\n".
  *
  * Thresholds are part of this engine's pinned semantics (golden tests).
  */
object Boilerplate {

  // NOTE: <header> is intentionally NOT dropped — it typically holds the
  // article h1; its boilerplate content (nav, logo links) is removed by
  // the nav drop and the link-density rule instead.
  private val dropTags = Set(
    "script", "style", "noscript", "template", "iframe", "svg", "canvas",
    "form", "button", "select", "option", "nav", "footer", "aside")

  private val blockTags = Set(
    "p", "div", "section", "article", "main", "body", "html",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "ul", "ol", "li", "dl", "dt", "dd",
    "table", "thead", "tbody", "tr", "td", "th",
    "blockquote", "pre", "figure", "figcaption", "hr", "br",
    "address", "fieldset", "legend")

  private val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  // the walk's inherited flags: inside an <a>, a heading, an <li>
  private final val InLink = 1
  private final val InHeading = 2
  private final val InLi = 4

  private final class Block {
    val text = new StringBuilder
    var linkLen = 0
    var tagCount = 0
    var heading = false
    var listItem = false
    def textLen: Int = collapsed.codePointCount(0, collapsed.length)
    private var collapsedCache: String = null
    def collapsed: String = {
      if (collapsedCache == null) collapsedCache = collapseWs(text.toString)
      collapsedCache
    }
  }

  /** Collapse whitespace runs to single spaces and trim (Go-space class). */
  private def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (GoStrings.isSpace(c)) pendingSpace = true
      else {
        if (pendingSpace && sb.nonEmpty) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Extract main content text from raw HTML. */
  def extractMainText(html: String): String = {
    val dom = HtmlDom.parse(html)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
    var cur = new Block

    def flush(): Unit = {
      if (cur.collapsed.nonEmpty) blocks += cur
      cur = new Block
    }

    // Pre-order walk on an explicit stack, so that nesting depth costs
    // heap, not thread stack (a Spark task thread has 1 MiB). Each entry
    // is a node with its inherited link/heading/li flags; a null node is
    // the flush a block element owes after its last child.
    var nodes = new Array[Node](32)
    var flags = new Array[Int](32)
    var top = 0
    def push(n: Node, f: Int): Unit = {
      if (top == nodes.length) {
        nodes = java.util.Arrays.copyOf(nodes, 2 * top)
        flags = java.util.Arrays.copyOf(flags, 2 * top)
      }
      nodes(top) = n; flags(top) = f; top += 1
    }
    def pushChildren(n: Node, f: Int): Unit = {
      var i = n.children.length - 1
      while (i >= 0) { push(n.children(i), f); i -= 1 }
    }
    push(dom, 0)
    while (top > 0) {
      top -= 1
      val n = nodes(top)
      val f = flags(top)
      nodes(top) = null
      if (n == null) flush()
      else n.nodeType match {
        case TextNode =>
          val t = n.data
          cur.text.append(t)
          if ((f & InLink) != 0) {
            val cw = collapseWs(t)
            cur.linkLen += cw.codePointCount(0, cw.length)
          }
          if ((f & InHeading) != 0) cur.heading = true
          if ((f & InLi) != 0) cur.listItem = true
        case ElementNode =>
          val tag = n.data
          if (!dropTags.contains(tag)) {
            val isBlock = blockTags.contains(tag)
            if (isBlock) { flush(); push(null, 0) }
            else cur.tagCount += 1
            pushChildren(n, f |
              (if (tag == "a") InLink else 0) |
              (if (headingTags.contains(tag)) InHeading else 0) |
              (if (tag == "li") InLi else 0))
          }
        case _ =>
          pushChildren(n, f)
      }
    }
    flush()

    val kept = blocks.filter { b =>
      val len = b.textLen
      if (len == 0) false
      else {
        val linkDensity = b.linkLen.toDouble / len
        val textDensity = len.toDouble / (1 + b.tagCount)
        if (b.heading) len >= 3 && b.linkLen == 0
        else if (b.listItem) len >= 30 && linkDensity <= 0.2
        else len >= 25 && linkDensity <= (1.0 / 3.0) && textDensity >= 8.0
      }
    }
    kept.map(_.collapsed).mkString("\n")
  }
}
