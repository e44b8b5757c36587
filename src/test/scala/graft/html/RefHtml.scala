package graft.html

import java.util.Locale

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.html.HtmlDom.{DocumentNode, ElementNode, Node, NodeType, TextNode}
import graft.text.GoStrings

/** The String tokenizer that [[Arena]] replaced, kept verbatim as the
  * reference of the differential tests: it builds the same
  * [[HtmlDom.Node]]s that `HtmlDom.parse` materializes from the arena. */
object RefHtmlDom {

  /** Shared empty buffers for leaf (text/comment) nodes — the parser
    * never appends to a leaf's attrs/children (only element/document
    * nodes go on the open stack), and every consumer is read-only, so
    * all leaves can share one empty instance instead of allocating two
    * 16-slot ArrayBuffers each. Leaves are ~half of all nodes and this
    * sits on the extraction hot path where allocation rate is the
    * 16-thread scaling limiter (StageProbe profile).
    *
    * The invariant is enforced STRUCTURALLY, not by comment: the shared
    * instances throw on every mutating call, so a future code path that
    * appends to a leaf fails fast on first use instead of silently
    * aliasing state across every document on every thread. */
  private final class FrozenBuffer[A] extends ArrayBuffer[A](0) {
    private def die: Nothing = throw new UnsupportedOperationException(
      "shared leaf-node buffer is immutable (HtmlDom.FrozenBuffer)")
    override def addOne(e: A): this.type = die
    override def prepend(e: A): this.type = die
    override def insert(i: Int, e: A): Unit = die
    override def insertAll(i: Int, es: scala.collection.IterableOnce[A]): Unit = die
    override def update(i: Int, e: A): Unit = die
    override def remove(i: Int): A = die
    override def remove(i: Int, n: Int): Unit = die
    override def clear(): Unit = die
  }
  private val NoAttrs: ArrayBuffer[(String, String)] = new FrozenBuffer[(String, String)]
  private val NoChildren: ArrayBuffer[Node] = new FrozenBuffer[Node]
  private def leaf(tpe: NodeType, data: String): Node =
    new Node(tpe, data, NoAttrs, NoChildren)

  /** Elements that never have children. */
  private val voidElements = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  /** Raw-text elements: content is consumed verbatim until the end tag. */
  private val rawTextElements = Set("script", "style")

  private val namedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©",
    "reg" -> "®", "trade" -> "™", "hellip" -> "…",
    "mdash" -> "—", "ndash" -> "–", "lsquo" -> "‘",
    "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "laquo" -> "«", "raquo" -> "»", "middot" -> "·",
    "bull" -> "•", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "uuml" -> "ü", "ouml" -> "ö",
    "auml" -> "ä", "szlig" -> "ß", "ccedil" -> "ç")

  def decodeEntities(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (amp >= 0) {
      sb.append(s, i, amp)
      val semi = s.indexOf(';', amp + 1)
      if (semi > amp && semi - amp <= 12) {
        val body = s.substring(amp + 1, semi)
        val decoded: Option[String] =
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try Some(new String(Character.toChars(Integer.parseInt(body.substring(2), 16))))
            catch { case _: Exception => None }
          } else if (body.startsWith("#")) {
            try Some(new String(Character.toChars(Integer.parseInt(body.substring(1)))))
            catch { case _: Exception => None }
          } else namedEntities.get(body)
        decoded match {
          case Some(d) => sb.append(d); i = semi + 1
          case None    => sb.append('&'); i = amp + 1
        }
      } else { sb.append('&'); i = amp + 1 }
      amp = s.indexOf('&', i)
    }
    sb.append(s, i, s.length)
    sb.toString
  }

  /** Parse an HTML string into a document node. Never throws on malformed
    * input — unclosed/mismatched tags are tolerated. */
  def parse(input: String): Node = {
    val doc = new Node(DocumentNode, "")
    val stack = ArrayBuffer[Node](doc)
    def top: Node = stack.last
    val n = input.length
    var i = 0
    // Open elements per tag name, so an end tag that closes nothing is
    // rejected without scanning the stack (N stray end tags under N open
    // elements were quadratic). Built on the first end tag that does not
    // close the top element: well-formed markup never allocates it.
    var open: mutable.HashMap[String, Int] = null
    def count(tag: String, d: Int): Unit = open(tag) = open.getOrElse(tag, 0) + d
    def pop(): Unit = { if (open != null) count(top.data, -1); stack.dropRightInPlace(1) }

    def emitText(start: Int, end: Int): Unit =
      if (end > start)
        top.children += leaf(TextNode, decodeEntities(input.substring(start, end)))

    while (i < n) {
      val lt = input.indexOf('<', i)
      if (lt < 0) { emitText(i, n); i = n }
      else {
        emitText(i, lt)
        if (lt + 1 >= n) { i = n }
        else input.charAt(lt + 1) match {
          case '!' =>
            // comment or doctype
            if (input.startsWith("<!--", lt)) {
              val end = input.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else {
              val end = input.indexOf('>', lt)
              i = if (end < 0) n else end + 1
            }
          case '?' =>
            val end = input.indexOf('>', lt)
            i = if (end < 0) n else end + 1
          case '/' =>
            val end = input.indexOf('>', lt)
            val name = lowerAscii((if (end < 0) input.substring(lt + 2)
                        else input.substring(lt + 2, end)).trim)
            // pop until a matching open element; ignore stray end tags
            if (stack.length > 1 && top.data == name) pop()
            else {
              if (open == null) {
                open = mutable.HashMap.empty
                stack.iterator.drop(1).foreach(e => count(e.data, 1))
              }
              if (open.getOrElse(name, 0) > 0) {
                while (top.data != name) pop()
                pop()
              }
            }
            i = if (end < 0) n else end + 1
          case c if Character.isLetter(c) =>
            val (node, selfClosed, next) = parseTag(input, lt)
            top.children += node
            i = next
            val tag = node.data
            if (!selfClosed && !voidElements.contains(tag)) {
              if (rawTextElements.contains(tag)) {
                val close = indexOfIgnoreCase(input, "</" + tag, i)
                val end = if (close < 0) n else close
                if (end > i) node.children += leaf(TextNode, input.substring(i, end))
                val gt = input.indexOf('>', end)
                i = if (close < 0) n else (if (gt < 0) n else gt + 1)
              } else {
                stack += node
                if (open != null) count(tag, 1)
              }
            }
          case _ =>
            // stray '<' — treat as text
            top.children += leaf(TextNode, "<")
            i = lt + 1
        }
      }
    }
    doc
  }

  /** `toLowerCase` without the copy when the string is already
    * lowercase ASCII — the overwhelmingly common case for tag and
    * attribute names on this path, which is allocation-rate-bound
    * (CLAUDE.md measurement realities). Locale.ROOT: under the default
    * locale a Turkish JVM lowercases "DIV" to "dıv", so the DOM (and
    * every extraction) would depend on the executor's locale. */
  private def lowerAscii(s: String): String = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || c > 127) return s.toLowerCase(Locale.ROOT)
      i += 1
    }
    s
  }

  /** Tag and attribute names that the extraction inputs actually carry
    * (the hOCR of `HocrRender` and perfbench's generator, and the HTML
    * chrome of `CorpusGen` and perfbench), indexed by length. Within a
    * length the hottest name comes first: `lowerName` tries them in
    * order, and every hOCR element carries `class`, `id` and `title`,
    * every hOCR line and word is a `span`. A name not listed here still
    * parses, it just gets its own copy. */
  private val knownNames: Array[Array[String]] = {
    val names = Seq(
      "id", "h1",
      "a", "p",
      "div", "nav",
      "span", "href", "lang", "meta", "name", "html", "head", "body",
      "class", "title", "aside", "xmlns",
      "script", "header", "footer", "style",
      "content", "xml:lang", "http-equiv")
    Array.tabulate(names.map(_.length).max + 1)(n =>
      names.filter(_.length == n).toArray)
  }

  /** `lowerAscii(input.substring(start, end))`, returning the shared
    * constant for a well-known name instead of a fresh copy. The match
    * is ASCII-only: `regionMatches(true, ...)` would also fold non-ASCII
    * letters such as 'İ' or the Kelvin sign onto ASCII ones, which
    * `lowerAscii` does not. */
  private def lowerName(input: String, start: Int, end: Int): String = {
    val len = end - start
    if (len < knownNames.length) {
      val candidates = knownNames(len)
      var k = 0
      while (k < candidates.length) {
        val name = candidates(k)
        var j = 0
        while (j < len && asciiLower(input.charAt(start + j)) == name.charAt(j)) j += 1
        if (j == len) return name
        k += 1
      }
    }
    lowerAscii(input.substring(start, end))
  }

  private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  private def indexOfIgnoreCase(haystack: String, needle: String, from: Int): Int = {
    var i = Math.max(from, 0)
    val limit = haystack.length - needle.length
    while (i <= limit) {
      if (haystack.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Parse one start tag beginning at `lt` (input(lt)=='<').
    * Returns (node, selfClosed, indexAfterTag). */
  private def parseTag(input: String, lt: Int): (Node, Boolean, Int) = {
    val n = input.length
    var i = lt + 1
    val nameStart = i
    while (i < n && (Character.isLetterOrDigit(input.charAt(i)) ||
           input.charAt(i) == '-' || input.charAt(i) == ':')) i += 1
    val node = new Node(ElementNode, lowerName(input, nameStart, i))
    var selfClosed = false
    var done = false
    while (!done && i < n) {
      while (i < n && Character.isWhitespace(input.charAt(i))) i += 1
      if (i >= n) done = true
      else input.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && input.charAt(i + 1) == '>') { selfClosed = true; i += 2; done = true }
          else i += 1
        case _ =>
          val aStart = i
          while (i < n && !Character.isWhitespace(input.charAt(i)) &&
                 input.charAt(i) != '=' && input.charAt(i) != '>' &&
                 input.charAt(i) != '/') i += 1
          val aName = lowerName(input, aStart, i)
          while (i < n && Character.isWhitespace(input.charAt(i))) i += 1
          var aVal = ""
          if (i < n && input.charAt(i) == '=') {
            i += 1
            while (i < n && Character.isWhitespace(input.charAt(i))) i += 1
            if (i < n && (input.charAt(i) == '"' || input.charAt(i) == '\'')) {
              val q = input.charAt(i)
              val vEnd = input.indexOf(q, i + 1)
              if (vEnd < 0) { aVal = input.substring(i + 1); i = n }
              else { aVal = input.substring(i + 1, vEnd); i = vEnd + 1 }
            } else {
              val vStart = i
              while (i < n && !Character.isWhitespace(input.charAt(i)) &&
                     input.charAt(i) != '>') i += 1
              aVal = input.substring(vStart, i)
            }
          }
          if (aName.nonEmpty) node.attrs += ((aName, decodeEntities(aVal)))
      }
    }
    (node, selfClosed, i)
  }
}

/** The node-walking boilerplate strip that the arena walk replaced, kept
  * verbatim over [[RefHtmlDom]] as the differential reference. */
object RefBoilerplate {

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
    val dom = RefHtmlDom.parse(html)
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
