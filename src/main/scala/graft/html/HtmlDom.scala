package graft.html

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

/** Minimal HTML DOM for the extraction engine.
  *
  * The reference parses hOCR with golang.org/x/net/html
  * (/root/reference/pkg/hocr/parse.go:46). We only need the subset its
  * callers observe: element nodes with lowercased tag + attributes, text
  * nodes with entities decoded, and document order. No external parser is
  * available offline, so this is a small hand-rolled tokenizer with
  * tolerant (pop-until-match) end-tag handling.
  */
object HtmlDom {

  sealed trait NodeType
  case object ElementNode extends NodeType
  case object TextNode extends NodeType
  case object CommentNode extends NodeType
  case object DocumentNode extends NodeType

  final class Node(
      val nodeType: NodeType,
      /** tag name (lowercase) for elements; text payload for text/comment */
      val data: String,
      // small initial capacities: `ArrayBuffer.empty` allocates 16 slots,
      // and most elements hold a few attributes and children (an hOCR
      // word: class, id, title and one text node)
      val attrs: ArrayBuffer[(String, String)] = new ArrayBuffer[(String, String)](4),
      val children: ArrayBuffer[Node] = new ArrayBuffer[Node](2)
  ) {
    def attr(name: String): String = {
      val it = attrs.iterator
      while (it.hasNext) { val (k, v) = it.next(); if (k == name) return v }
      ""
    }
    def isElem(tag: String): Boolean = nodeType == ElementNode && data == tag
  }

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
            var k = stack.length - 1
            while (k > 0 && stack(k).data != name) k -= 1
            if (k > 0) stack.dropRightInPlace(stack.length - k)
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
              } else stack += node
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
