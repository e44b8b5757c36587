package graft.hocr

import scala.collection.mutable.ArrayBuffer

import graft.html.HtmlDom.{ElementNode, Node, TextNode}
import graft.model.BBox
import graft.text.GoStrings

/** The hOCR model walk over [[graft.html.HtmlDom.Node]]s that the arena
  * walk of [[HocrParse]] replaced, kept verbatim as the reference of the
  * differential tests. Title parsing is shared ([[HocrParse.parseTitle]]). */
object RefHocr {
  import HocrParse.{bboxFromProps, parseTitle}

  /** The model of a parsed document. */
  def parseDom(dom: Node): Either[String, Hocr] = {
    val pages = pageNodes(dom)
    if (pages.isEmpty) Left("no ocr_page elements found in HOCR data")
    else Right(extractDocumentMeta(dom).copy(pages = pages.map(processPage).toVector))
  }

  /** findPages (parse.go:55-77): `div.ocr_page` elements in document
    * order; early-return per page subtree (a page nested in a page is not
    * a page of its own). */
  private def pageNodes(dom: Node): ArrayBuffer[Node] = {
    val pages = ArrayBuffer.empty[Node]
    def isPage(n: Node): Boolean =
      n.nodeType == ElementNode && n.data == "div" && n.attr("class").contains("ocr_page")
    if (isPage(dom)) pages += dom
    else preOrder(dom) { n => if (isPage(n)) { pages += n; false } else true }
    pages
  }

  /** The pre-order walk of every recursive DOM search in this file (the
    * reference recurses, parse.go): `visit` sees `root`'s descendants in
    * document order and returns whether to descend into the node it was
    * given. It runs on an explicit stack, so nesting depth costs heap,
    * not thread stack (a Spark task thread has 1 MiB). */
  private def preOrder(root: Node)(visit: Node => Boolean): Unit = {
    var stack = new Array[Node](16)
    var top = 0
    def pushChildren(n: Node): Unit = {
      val cs = n.children
      if (top + cs.length > stack.length)
        stack = java.util.Arrays.copyOf(stack, math.max(2 * stack.length, top + cs.length))
      var i = cs.length - 1
      while (i >= 0) { stack(top) = cs(i); top += 1; i -= 1 }
    }
    pushChildren(root)
    while (top > 0) {
      top -= 1
      val n = stack(top)
      if (visit(n)) pushChildren(n)
    }
  }

  /** extractDocumentMeta (parse.go:123-193). */
  private def extractDocumentMeta(doc: Node): Hocr = {
    var title = ""
    var description = ""
    var language = ""
    var metadata = Map.empty[String, String]

    // findHTMLLang (parse.go:138-155): top-level html element's lang/xml:lang.
    doc.children.foreach { c =>
      if (c.nodeType == ElementNode && c.data == "html") {
        val it = c.attrs.iterator
        var found = false
        while (it.hasNext && !found) {
          val (k, v) = it.next()
          if (k == "lang" || k == "xml:lang") { language = v; found = true }
        }
      }
    }

    // findHead (parse.go:124-135): first head element, DFS.
    var head: Option[Node] = None
    preOrder(doc) { c =>
      if (head.isEmpty && c.isElem("head")) head = Some(c)
      head.isEmpty
    }

    head.foreach { h =>
      h.children.foreach { c =>
        if (c.nodeType == ElementNode) c.data match {
          case "title" =>
            c.children.headOption.foreach { fc =>
              if (fc.nodeType == TextNode) title = fc.data
            }
          case "meta" =>
            var name = ""
            var content = ""
            c.attrs.foreach { case (k, v) =>
              if (k == "name") name = v else if (k == "content") content = v
            }
            if (name.nonEmpty && content.nonEmpty) {
              if (name == "ocr-system" || name == "ocr-capabilities" ||
                  name == "ocr-number-of-pages" || name == "ocr-langs")
                metadata = metadata.updated(name, content)
              else if (name == "description") description = content
              else if (name == "dc.language") language = content
            }
          case _ =>
        }
      }
    }
    Hocr(title = title, description = description, language = language, metadata = metadata)
  }

  /** The bucket classes of each container, in the order they are tested
    * (processPage, processArea, processParagraph). */
  private val PageClasses = Array("ocr_carea", "ocr_par", "ocr_line")
  private val AreaClasses = Array("ocr_par", "ocr_line", "ocrx_word")
  private val ParaClasses = Array("ocr_line", "ocrx_word")

  /** Child collection with descent stopping at the first matching class
    * (parse.go:231-249 pattern): one bucket per entry of `classes`,
    * filled in document order. A node goes to the first class its
    * `class` attribute contains, and its subtree is not descended. */
  private def collectByClass(parent: Node, classes: Array[String]): Array[ArrayBuffer[Node]] = {
    val buckets = Array.fill(classes.length)(new ArrayBuffer[Node](4))
    preOrder(parent) { node =>
      val cls = if (node.nodeType == ElementNode) node.attr("class") else ""
      var bi = 0
      if (cls.isEmpty) bi = classes.length
      else while (bi < classes.length && !cls.contains(classes(bi))) bi += 1
      if (bi < classes.length) { buckets(bi) += node; false } else true
    }
    buckets
  }

  /** A line's words (parse.go:465-478): full recursion with early stop
    * only at ocrx_word nodes. */
  private def lineWordNodes(line: Node): ArrayBuffer[Node] = {
    val words = new ArrayBuffer[Node](8)
    preOrder(line) { node =>
      val word = node.nodeType == ElementNode && node.attr("class").contains("ocrx_word")
      if (word) words += node
      !word
    }
    words
  }

  /** A word's text (processWord): only when the node has children. */
  private def wordText(n: Node): String =
    if (n.children.nonEmpty) extractTextContent(n) else ""

  /** processPage (parse.go:196-280). */
  def processPage(n: Node): HPage = {
    var id = ""; var lang = ""; var title = ""
    var pageNumber = 0; var imageName = ""
    var bbox = BBox.zero
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          title = v
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("image").foreach(img => if (img.nonEmpty) imageName = img.head)
          props.get("ppageno").foreach(pp =>
            if (pp.nonEmpty) pageNumber = GoStrings.atoiOrZero(pp.head))
        case _ =>
      }
    }
    val Array(areaNodes, paraNodes, lineNodes) = collectByClass(n, PageClasses)
    HPage(id = id, title = title, pageNumber = pageNumber, imageName = imageName,
      lang = lang, bbox = bbox,
      areas = areaNodes.map(processArea).toVector,
      paragraphs = paraNodes.map(processParagraph).toVector,
      lines = lineNodes.map(processLine).toVector)
  }

  /** processArea (parse.go:283-364): non-bbox title props -> metadata,
    * values joined with " ". */
  def processArea(n: Node): HArea = {
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          metadata = props.collect { case (pk, pv) if pk != "bbox" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val Array(paraNodes, lineNodes, wordNodes) = collectByClass(n, AreaClasses)
    HArea(id = id, lang = lang, bbox = bbox,
      paragraphs = paraNodes.map(processParagraph).toVector,
      lines = lineNodes.map(processLine).toVector,
      words = wordNodes.map(processWord).toVector,
      metadata = metadata)
  }

  /** processParagraph (parse.go:367-436). */
  def processParagraph(n: Node): HPara = {
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          metadata = props.collect { case (pk, pv) if pk != "bbox" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val Array(lineNodes, wordNodes) = collectByClass(n, ParaClasses)
    HPara(id = id, lang = lang, bbox = bbox,
      lines = lineNodes.map(processLine).toVector,
      words = wordNodes.map(processWord).toVector,
      metadata = metadata)
  }

  /** processLine (parse.go:439-495): words found by full recursion with
    * early stop only at ocrx_word nodes. */
  def processLine(n: Node): HLine = {
    var id = ""; var lang = ""; var baseline = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("baseline").foreach(b => baseline = b.mkString(" "))
          metadata = props.collect { case (pk, pv) if pk != "bbox" && pk != "baseline" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    HLine(id = id, lang = lang, bbox = bbox, baseline = baseline,
      words = lineWordNodes(n).map(processWord).toVector, metadata = metadata)
  }

  /** processWord (parse.go:498-539): title lang overrides attr lang;
    * text only when the node has children. */
  def processWord(n: Node): HWord = {
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var confidence = 0.0
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("x_wconf").foreach(c =>
            if (c.nonEmpty) confidence = GoStrings.parseFloatOrZero(c.head))
          props.get("lang").foreach(l => if (l.nonEmpty) lang = l.head)
          metadata = props.collect {
            case (pk, pv) if pk != "bbox" && pk != "x_wconf" && pk != "lang" => pk -> pv.mkString(" ")
          }
        case _ =>
      }
    }
    HWord(id = id, text = wordText(n), bbox = bbox, confidence = confidence,
      lang = lang, metadata = metadata)
  }

  /** extractTextContent (parse.go:542-552): DFS concat of text nodes with
    * TrimSpace at every level (inner trims, then outer trims the concat —
    * inter-element spaces are dropped). Single-text-child fast path (the
    * overwhelmingly common word shape): trim(trim(x)) == trim(x), so the
    * walk is skipped. The walk runs on an explicit stack with one shared
    * builder: an element's text is the builder's tail from where the
    * element opened, trimmed when the element closes. */
  def extractTextContent(n: Node): String = {
    if (n.nodeType == TextNode) return GoStrings.trimSpace(n.data)
    if (n.children.length == 1 && n.children(0).nodeType == TextNode)
      return GoStrings.trimSpace(n.children(0).data)
    val sb = new java.lang.StringBuilder
    var nodes = new Array[Node](16)
    var next = new Array[Int](16) // the open element's next child
    var from = new Array[Int](16) // where the open element's text starts
    var top = 0
    def open(e: Node): Unit = {
      if (top == nodes.length) {
        nodes = java.util.Arrays.copyOf(nodes, 2 * top)
        next = java.util.Arrays.copyOf(next, 2 * top)
        from = java.util.Arrays.copyOf(from, 2 * top)
      }
      nodes(top) = e; next(top) = 0; from(top) = sb.length; top += 1
    }
    open(n)
    while (top > 0) {
      val e = nodes(top - 1)
      if (next(top - 1) < e.children.length) {
        val c = e.children(next(top - 1))
        next(top - 1) += 1
        if (c.nodeType == TextNode) {
          val t = c.data
          var i = 0
          var j = t.length
          while (i < j && GoStrings.isSpace(t.charAt(i))) i += 1
          while (j > i && GoStrings.isSpace(t.charAt(j - 1))) j -= 1
          sb.append(t, i, j)
        } else open(c)
      } else {
        // trim the closing element's text in place
        top -= 1
        val start = from(top)
        var j = sb.length
        while (j > start && GoStrings.isSpace(sb.charAt(j - 1))) j -= 1
        sb.setLength(j)
        var i = start
        while (i < j && GoStrings.isSpace(sb.charAt(i))) i += 1
        sb.delete(start, i)
      }
    }
    sb.toString
  }
}
