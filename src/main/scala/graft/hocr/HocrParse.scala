package graft.hocr

import graft.html.Arena
import graft.model.BBox
import graft.text.GoStrings

/** hOCR parsing — mirrors the reference implementation's pkg/hocr/parse.go.
  *
  * The reference walks a golang.org/x/net/html tree; this walks the
  * document's [[Arena]]. Its page, bucket, line-word and word-text rules
  * ([[Tree]]) are the ones [[HocrText.fromMarkup]] writes text with, so
  * the model and the stitch cannot drift apart. */
object HocrParse {

  /** ParseHOCR (parse.go:13-83). Returns Left(error message) when no
    * ocr_page elements are found. */
  def parseHocr(data: Array[Byte]): Either[String, Hocr] = {
    val decoded = GoStrings.decodeWithSniff(data)
    parseHocrString(decoded)
  }

  /** The model of `decoded`, read as its UTF-8 bytes. */
  def parseHocrString(decoded: String): Either[String, Hocr] = parse(Arena.of(decoded))

  /** The model of the document `a` holds. */
  private[graft] def parse(a: Arena): Either[String, Hocr] = {
    val t = new Tree(a)
    t.reset()
    val s = t.pages()
    if (a.pool.n == s) Left("no ocr_page elements found in HOCR data")
    else Right(extractDocumentMeta(a).copy(pages = bucket(t, s, 0)(processPage(t, _))))
  }

  /** The class names the rules test, each a bit of [[Tree.classes]]. */
  private val Classes = Array("ocr_page", "ocr_carea", "ocr_par", "ocr_line", "ocrx_word")
  private def bits(names: String*): Array[Int] = names.map(c => 1 << Classes.indexOf(c)).toArray
  private val PageBit = 1 << Classes.indexOf("ocr_page")
  private val WordBit = 1 << Classes.indexOf("ocrx_word")

  /** The bucket classes of each container, in the order they are tested
    * (processPage, processArea, processParagraph). */
  private[hocr] val PageBuckets = bits("ocr_carea", "ocr_par", "ocr_line")
  private[hocr] val AreaBuckets = bits("ocr_par", "ocr_line", "ocrx_word")
  private[hocr] val ParaBuckets = bits("ocr_line", "ocrx_word")

  private val Div = Arena.tagId("div")
  private val Html = Arena.tagId("html")
  private val Head = Arena.tagId("head")
  private val Title = Arena.tagId("title")
  private val Meta = Arena.tagId("meta")

  /** hOCR's walk rules over the document `a` holds. Each search appends
    * its finds to the arena's pool as (node, bucket) pairs and returns
    * where they start; its caller reads them with [[each]] and then cuts
    * the pool back. The searches run on the arena's explicit stacks, so
    * nesting depth costs heap, not thread stack (a Spark task thread has
    * 1 MiB). [[reset]] points the rules at the document the arena holds;
    * one tree serves the arena's documents in turn. */
  private[hocr] final class Tree(val a: Arena) {

    /** Per node, the bits of [[Classes]] its first `class` contains
      * (0 for a node that is not an element). */
    private var classes: Array[Int] = null

    /** Read the document the arena holds now. */
    def reset(): Unit = {
      a.marks.ensure(a.nNodes)
      val m = a.marks.a
      java.util.Arrays.fill(m, 0, a.nNodes, 0)
      var k = 0
      while (k < a.nNodes) {
        if (a.isElem(k)) {
          val c = a.firstAttr(k, Arena.ClassAttr)
          if (c >= 0) { a.valueOf(c); m(k) = classBits(a.textArr, a.textFrom, a.textTo) }
        }
        k += 1
      }
      classes = m
    }

    /** findPages (parse.go:55-77): `div.ocr_page` elements in document
      * order, in bucket 0; a page nested in a page is not a page of its
      * own. */
    def pages(): Int = {
      val start = a.pool.n
      val st = a.stack
      st.n = 0
      a.pushChildren(st, 0)
      while (st.n > 0) {
        val n = st.pop()
        if (a.isElem(n) && a.tagOf(n) == Div && (classes(n) & PageBit) != 0) { a.pool.add(n); a.pool.add(0) }
        else a.pushChildren(st, n)
      }
      start
    }

    /** collectByClass (parse.go:231-249 pattern): `parent`'s
      * descendants, in document order, that carry one of `wanted`; each
      * goes to the bucket of the first one it contains, and its subtree
      * is not descended. */
    def collect(parent: Int, wanted: Array[Int]): Int = {
      val start = a.pool.n
      val st = a.stack
      st.n = 0
      a.pushChildren(st, parent)
      while (st.n > 0) {
        val n = st.pop()
        val m = classes(n)
        var b = 0
        while (b < wanted.length && (m & wanted(b)) == 0) b += 1
        if (b < wanted.length) { a.pool.add(n); a.pool.add(b) }
        else a.pushChildren(st, n)
      }
      start
    }

    /** A line's words (parse.go:465-478), in bucket 0: full recursion
      * with an early stop only at ocrx_word nodes. */
    def lineWords(line: Int): Int = {
      val start = a.pool.n
      val st = a.stack
      st.n = 0
      a.pushChildren(st, line)
      while (st.n > 0) {
        val c = st.pop()
        if ((classes(c) & WordBit) != 0) { a.pool.add(c); a.pool.add(0) } else a.pushChildren(st, c)
      }
      start
    }

    /** `f` on bucket `b` of the pairs from `s` to the pool's end. */
    def each(s: Int, b: Int)(f: Int => Unit): Unit = {
      val e = a.pool.n
      var i = s
      while (i < e) { if (a.pool.a(i + 1) == b) f(a.pool.a(i)); i += 2 }
    }

    /** extractTextContent (parse.go:542-552) of word `n`, appended to the
      * arena's output: every descendant text node trimmed (TrimSpace), in
      * document order. Each element's text is then trimmed already, so
      * the trim of every level above is a no-op. */
    def wordText(n: Int): Unit = {
      val st = a.stack2
      st.n = 0
      a.pushChildren(st, n)
      while (st.n > 0) {
        val c = st.pop()
        if (a.isText(c)) {
          a.textOf(c)
          val arr = a.textArr
          var i = a.textFrom
          var j = a.textTo
          while (i < j && isSpaceAt(arr, i)) i += Arena.seqLen(arr(i))
          while (j > i && isSpaceAt(arr, lastSeq(arr, j))) j = lastSeq(arr, j)
          a.append(arr, i, j)
        } else a.pushChildren(st, c)
      }
    }
  }

  /** Whether `arr(from until to)` contains each of [[Classes]], as bits. */
  private def classBits(arr: Array[Byte], from: Int, to: Int): Int = {
    var m = 0
    var i = from
    while (i + 3 <= to) {
      if (arr(i) == 'o' && arr(i + 1) == 'c' && arr(i + 2) == 'r') {
        var b = 0
        while (b < Classes.length) {
          val name = Classes(b)
          if (i + name.length <= to) {
            var j = 3
            while (j < name.length && arr(i + j) == name.charAt(j)) j += 1
            if (j == name.length) m |= 1 << b
          }
          b += 1
        }
      }
      i += 1
    }
    m
  }

  private def isSpaceAt(arr: Array[Byte], i: Int): Boolean = {
    val b = arr(i)
    if (b >= 0) GoStrings.isSpace(b.toChar)
    else Arena.seqLen(b) < 4 && GoStrings.isSpace(Arena.cp(arr, i).toChar)
  }

  /** Start of the sequence that ends at `end`. */
  private def lastSeq(arr: Array[Byte], end: Int): Int = {
    var i = end - 1
    while ((arr(i) & 0xC0) == 0x80) i -= 1
    i
  }

  /** ParseTitle (parse.go:87-105): split on ';', TrimSpace, Fields;
    * first token = key, rest = values. Later duplicate keys overwrite. */
  def parseTitle(title: String): Map[String, Seq[String]] = {
    var result = Map.empty[String, Seq[String]]
    var from = 0
    while (from <= title.length) {
      val semi = title.indexOf(';', from)
      val end = if (semi < 0) title.length else semi
      val part = GoStrings.trimSpace(title.substring(from, end))
      if (part.nonEmpty) {
        val items = GoStrings.fields(part)
        if (items.nonEmpty)
          result = result.updated(items(0), scala.collection.immutable.ArraySeq.unsafeWrapArray(items).drop(1))
      }
      from = end + 1
    }
    result
  }

  /** ParseBoundingBoxFromTitle (parse.go:109-120); unparseable floats -> 0. */
  def parseBBoxFromTitle(title: String): Option[BBox] =
    bboxFromProps(parseTitle(title))

  /** bbox from an already-parsed title map (the reference parses every
    * title TWICE — once for the bbox, once for the props; we parse once,
    * observable output identical). */
  def bboxFromProps(props: Map[String, Seq[String]]): Option[BBox] =
    props.get("bbox") match {
      case Some(bbox) if bbox.length >= 4 =>
        Some(BBox(
          GoStrings.parseFloatOrZero(bbox(0)), GoStrings.parseFloatOrZero(bbox(1)),
          GoStrings.parseFloatOrZero(bbox(2)), GoStrings.parseFloatOrZero(bbox(3))))
      case _ => None
    }

  /** extractDocumentMeta (parse.go:123-193). */
  private def extractDocumentMeta(a: Arena): Hocr = {
    var title = ""
    var description = ""
    var language = ""
    var metadata = Map.empty[String, String]

    // findHTMLLang (parse.go:138-155): top-level html element's lang/xml:lang.
    var c = a.first(0)
    while (c >= 0) {
      if (a.isElem(c) && a.tagOf(c) == Html) {
        var j = a.start(c)
        var found = false
        while (j < a.end(c) && !found) {
          val k = a.attrName(j)
          if (k == "lang" || k == "xml:lang") { language = value(a, j); found = true }
          j += 1
        }
      }
      c = a.next(c)
    }

    // findHead (parse.go:124-135): first head element, DFS.
    var head = -1
    val st = a.stack
    st.n = 0
    a.pushChildren(st, 0)
    while (head < 0 && st.n > 0) {
      val n = st.pop()
      if (a.isElem(n) && a.tagOf(n) == Head) head = n else a.pushChildren(st, n)
    }

    if (head >= 0) {
      c = a.first(head)
      while (c >= 0) {
        if (a.isElem(c) && a.tagOf(c) == Title) {
          val fc = a.first(c)
          if (fc >= 0 && a.isText(fc)) { a.textOf(fc); title = a.textString }
        } else if (a.isElem(c) && a.tagOf(c) == Meta) {
          var name = ""
          var content = ""
          eachAttr(a, c) { (k, j) =>
            if (k == "name") name = value(a, j) else if (k == "content") content = value(a, j)
          }
          if (name.nonEmpty && content.nonEmpty) {
            if (name == "ocr-system" || name == "ocr-capabilities" ||
                name == "ocr-number-of-pages" || name == "ocr-langs")
              metadata = metadata.updated(name, content)
            else if (name == "description") description = content
            else if (name == "dc.language") language = content
          }
        }
        c = a.next(c)
      }
    }
    Hocr(title = title, description = description, language = language, metadata = metadata)
  }

  /** `f(name, attribute)` for each attribute of element `n`, in order. */
  private def eachAttr(a: Arena, n: Int)(f: (String, Int) => Unit): Unit = {
    var j = a.start(n)
    while (j < a.end(n)) { f(a.attrName(j), j); j += 1 }
  }

  /** The decoded value of attribute `j`. */
  private def value(a: Arena, j: Int): String = { a.valueOf(j); a.textString }

  /** The nodes of bucket `b` from `s`, each made by `f`. */
  private def bucket[T](t: Tree, s: Int, b: Int)(f: Int => T): Vector[T] = {
    val v = Vector.newBuilder[T]
    t.each(s, b)(n => v += f(n))
    v.result()
  }

  /** processPage (parse.go:196-280).
    *
    * This walk (and the area/para/line/word ones below) accumulates
    * into locals and constructs each case class ONCE: the previous
    * copy-per-attribute style allocated 4-6 intermediate instances per
    * node. Field-for-field the same result, including attr-order
    * overwrite semantics. */
  private def processPage(t: Tree, n: Int): HPage = {
    val a = t.a
    var id = ""; var lang = ""; var title = ""
    var pageNumber = 0; var imageName = ""
    var bbox = BBox.zero
    eachAttr(a, n) { (k, j) =>
      k match {
        case "id"   => id = value(a, j)
        case "lang" => lang = value(a, j)
        case "title" =>
          title = value(a, j)
          val props = parseTitle(title)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("image").foreach(img => if (img.nonEmpty) imageName = img.head)
          props.get("ppageno").foreach(pp =>
            if (pp.nonEmpty) pageNumber = GoStrings.atoiOrZero(pp.head))
        case _ =>
      }
    }
    val s = t.collect(n, PageBuckets)
    val page = HPage(id = id, title = title, pageNumber = pageNumber, imageName = imageName,
      lang = lang, bbox = bbox,
      areas = bucket(t, s, 0)(processArea(t, _)),
      paragraphs = bucket(t, s, 1)(processParagraph(t, _)),
      lines = bucket(t, s, 2)(processLine(t, _)))
    a.pool.n = s
    page
  }

  /** processArea (parse.go:283-364): non-bbox title props -> metadata,
    * values joined with " ". */
  private def processArea(t: Tree, n: Int): HArea = {
    val a = t.a
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    eachAttr(a, n) { (k, j) =>
      k match {
        case "id"   => id = value(a, j)
        case "lang" => lang = value(a, j)
        case "title" =>
          val props = parseTitle(value(a, j))
          bboxFromProps(props).foreach(b => bbox = b)
          metadata = props.collect { case (pk, pv) if pk != "bbox" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val s = t.collect(n, AreaBuckets)
    val area = HArea(id = id, lang = lang, bbox = bbox,
      paragraphs = bucket(t, s, 0)(processParagraph(t, _)),
      lines = bucket(t, s, 1)(processLine(t, _)),
      words = bucket(t, s, 2)(processWord(t, _)),
      metadata = metadata)
    a.pool.n = s
    area
  }

  /** processParagraph (parse.go:367-436). */
  private def processParagraph(t: Tree, n: Int): HPara = {
    val a = t.a
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    eachAttr(a, n) { (k, j) =>
      k match {
        case "id"   => id = value(a, j)
        case "lang" => lang = value(a, j)
        case "title" =>
          val props = parseTitle(value(a, j))
          bboxFromProps(props).foreach(b => bbox = b)
          metadata = props.collect { case (pk, pv) if pk != "bbox" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val s = t.collect(n, ParaBuckets)
    val para = HPara(id = id, lang = lang, bbox = bbox,
      lines = bucket(t, s, 0)(processLine(t, _)),
      words = bucket(t, s, 1)(processWord(t, _)),
      metadata = metadata)
    a.pool.n = s
    para
  }

  /** processLine (parse.go:439-495). */
  private def processLine(t: Tree, n: Int): HLine = {
    val a = t.a
    var id = ""; var lang = ""; var baseline = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    eachAttr(a, n) { (k, j) =>
      k match {
        case "id"   => id = value(a, j)
        case "lang" => lang = value(a, j)
        case "title" =>
          val props = parseTitle(value(a, j))
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("baseline").foreach(b => baseline = b.mkString(" "))
          metadata = props.collect { case (pk, pv) if pk != "bbox" && pk != "baseline" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val s = t.lineWords(n)
    val line = HLine(id = id, lang = lang, bbox = bbox, baseline = baseline,
      words = bucket(t, s, 0)(processWord(t, _)), metadata = metadata)
    a.pool.n = s
    line
  }

  /** processWord (parse.go:498-539): title lang overrides attr lang. */
  private def processWord(t: Tree, n: Int): HWord = {
    val a = t.a
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var confidence = 0.0
    var metadata = Map.empty[String, String]
    eachAttr(a, n) { (k, j) =>
      k match {
        case "id"   => id = value(a, j)
        case "lang" => lang = value(a, j)
        case "title" =>
          val props = parseTitle(value(a, j))
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
    a.resetOut(0)
    t.wordText(n)
    HWord(id = id, text = a.outString(), bbox = bbox, confidence = confidence,
      lang = lang, metadata = metadata)
  }
}
