package graft.html

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one markup tokenizer: a document parsed from its UTF-8 bytes into
  * a flat arena of ints, with no node objects and no substring copies.
  *
  * Node `k` is the five ints at `nodes(k * Stride)`: INFO (type, the
  * has-`&` bit and the tag id), FIRST child, NEXT sibling, and START/END.
  * A text node's START/END are its byte range in [[src]]; an element's
  * are its range of attributes. Attribute `j` is the five ints at
  * `attrs(j * Stride)`: INFO (class, id or other, and the has-`&` bit),
  * and the byte ranges of its name and its raw value. Node 0 is the
  * document. Tag ids index [[Arena.Tags]]; a name outside it gets an id
  * of its own, for the document's life.
  *
  * The tree rules are those of the reference tokenizer
  * (golang.org/x/net/html's subset that graft's callers observe):
  *   - an end tag pops up to the nearest open element of its name; one
  *     that closes no open element is dropped, in O(1) (a per-tag count
  *     of open elements, built on the first end tag that does not close
  *     the top element);
  *   - void elements never open; `script` and `style` take their content
  *     verbatim up to a case-insensitive `</script` or `</style`;
  *   - `<!--` skips to `-->`, other `<!` and `<?` to `>`; a `<` not
  *     followed by a letter is text;
  *   - tag and attribute names are lowercased in the root locale, and a
  *     valueless attribute has the value "".
  * Every character class is judged per UTF-16 char, as a `String`
  * tokenizer sees it: both halves of a 4-byte sequence are surrogates,
  * neither a letter nor whitespace. Input that is not valid UTF-8 is
  * first normalized as `new String(bytes, UTF_8)` does it (U+FFFD), so
  * the arena reads what `UTF8String.toString` would have read.
  *
  * Text is decoded (entities resolved) only where a kernel keeps it, into
  * [[out]]. Text from entities that name a lone surrogate is held as its
  * 3-byte generalized UTF-8 form while a kernel writes, so that a high and
  * a low surrogate that end up adjacent join into one code point, exactly
  * as they would in a `String`; [[finish]] writes each one left alone as
  * `?`, which is what `String.getBytes(UTF_8)` writes.
  *
  * One arena serves any number of documents in turn (a task's spans):
  * its buffers only grow, to the largest document's size, while every
  * other piece of state belongs to one document and is reset by [[load]].
  * The kernels keep their walk state here too ([[boilerplate]], [[hocr]],
  * [[rng]]), made on the first span of their kind and reset by each
  * span, so that a span allocates only its output ([[result]]). It is
  * not thread-safe. */
final class Arena {
  import Arena._

  /** The document's bytes are `src(srcStart until srcEnd)`. */
  private[graft] var src: Array[Byte] = NoBytes
  private[graft] var srcStart = 0
  private[graft] var srcEnd = 0
  private var own: Array[Byte] = NoBytes

  // sized by load() from the document, then grown only by doubling
  private[graft] var nodes: Array[Int] = NoInts
  private[graft] var nNodes = 0
  private[graft] var attrs: Array[Int] = NoInts
  private[graft] var nAttrs = 0

  /** The document's lowercased names outside [[Arena.Tags]], by id -
    * Tags.length. */
  private var extraIds: java.util.HashMap[String, Integer] = null
  private var extraNames: Array[String] = null

  // the open-element stack of the parse: node and its last child
  private var open: Array[Int] = new Array[Int](16)
  private var openLast: Array[Int] = new Array[Int](16)
  private var depth = 0
  /** Open elements per tag id, kept from the document's first end tag
    * that misses the top element on ([[counting]]). */
  private var openCount: Array[Int] = NoInts
  private var counting = false

  /** Kernel output. */
  private[graft] var out: Array[Byte] = NoBytes
  private[graft] var outLen = 0
  private var outSurrogates = false

  /** A decoded text or attribute value: `buf(0 until bufLen)`. */
  private[graft] var buf: Array[Byte] = NoBytes
  private[graft] var bufLen = 0
  private var bufSurrogates = false

  /** Scratch int lists for the kernels' walks. */
  private[graft] val stack = new Ints
  private[graft] val stack2 = new Ints
  private[graft] val pool = new Ints
  private[graft] val marks = new Ints

  // ---- the kernels' walk state ----

  private[graft] lazy val boilerplate = new Boilerplate.Walk(this)
  private[graft] lazy val hocr = new graft.hocr.HocrText.Walk(this)
  private[graft] lazy val rng = new graft.layout.MediaOcr.Rng(0L)

  // ---- input ----

  /** Parse `s`'s bytes; an on-heap UTF8String is read in place. */
  def load(s: UTF8String): Unit = { source(s); parse() }

  /** Parse `s` as its UTF-8 encoding. */
  def load(s: String): Unit = {
    val b = s.getBytes(UTF_8)
    load(b, 0, b.length)
  }

  /** Parse `bytes(off until off + len)`, which must not change while the
    * arena reads it. */
  def load(bytes: Array[Byte], off: Int, len: Int): Unit = { source(bytes, off, len); parse() }

  /** Hold `s`'s bytes as [[src]] without parsing them, an on-heap
    * UTF8String in place; normalized as the byte overload below does. */
  private[graft] def source(s: UTF8String): Unit = s.getBaseObject match {
    case b: Array[Byte] =>
      source(b, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ =>
      if (own.length < s.numBytes) own = new Array[Byte](s.numBytes)
      s.writeToMemory(own, Platform.BYTE_ARRAY_OFFSET)
      source(own, 0, s.numBytes)
  }

  /** Hold `bytes(off until off + len)` as [[src]] without parsing them:
    * in place when they are strict UTF-8, else their U+FFFD normalization,
    * what `new String(bytes, UTF_8)` reads. */
  private[graft] def source(bytes: Array[Byte], off: Int, len: Int): Unit = {
    val end = off + len
    if (valid(bytes, off, end)) { src = bytes; srcStart = off; srcEnd = end }
    else {
      src = new String(bytes, off, len, UTF_8).getBytes(UTF_8)
      srcStart = 0; srcEnd = src.length
    }
  }

  /** Whether `bytes(off until end)` is strict UTF-8. */
  private def valid(bytes: Array[Byte], off: Int, end: Int): Boolean = {
    var i = off
    while (i < end) {
      if (bytes(i) >= 0) i += 1
      else {
        val n = seqLenValid(bytes, i, end)
        if (n == 0) return false
        i += n
      }
    }
    true
  }

  // ---- the tokenizer ----

  /** Parse [[src]] into a tree of its own: nothing of an earlier
    * document survives but buffer capacity. */
  private def parse(): Unit = {
    // what bounds the node and attribute counts: a '<' makes at most a
    // text node before it and one more node (an element, a stray '<' or a
    // raw text), and `</`, `<!` and `<?` make no more; a valued attribute
    // has its '='
    var lts = 0
    var closes = 0
    var eqs = 0
    var i = srcStart
    while (i < srcEnd) {
      val b = src(i)
      if (b == '<') {
        lts += 1
        if (i + 1 < srcEnd && (src(i + 1) == '/' || src(i + 1) == '!' || src(i + 1) == '?')) closes += 1
      } else if (b == '=') eqs += 1
      i += 1
    }
    val maxNodes = 2 + 2 * lts - closes
    if (nodes.length < Stride * maxNodes) nodes = new Array[Int](Stride * maxNodes)
    if (attrs.length < Stride * (eqs + 1)) attrs = new Array[Int](Stride * (eqs + 1))
    nNodes = 0; nAttrs = 0
    if (extraIds != null && !extraIds.isEmpty) extraIds.clear()
    counting = false
    newNode(Doc, 0, 0)
    depth = 0
    pushOpen(0)
    val n = srcEnd
    i = srcStart
    while (i < n) {
      var lt = i
      var amp = false
      while (lt < n && src(lt) != '<') { if (src(lt) == '&') amp = true; lt += 1 }
      if (lt > i) appendChild(newNode(Text | (if (amp) Amp else 0), i, lt))
      if (lt + 1 >= n) i = n
      else {
        val c = src(lt + 1)
        if (c == '!') {
          // comment or doctype
          i = if (startsWith(CommentOpen, lt)) {
            val e = indexOfBytes(CommentClose, lt + 4)
            if (e < 0) n else e + 3
          } else after('>', lt)
        } else if (c == '?') i = after('>', lt)
        else if (c == '/') {
          val gt = indexOf('>', lt)
          var s = lt + 2
          var e = if (gt < 0) n else gt
          // String.trim: every char <= U+0020 is one byte here
          while (s < e && (src(s) & 0xFF) <= 0x20) s += 1
          while (e > s && (src(e - 1) & 0xFF) <= 0x20) e -= 1
          endTag(nameId(s, e, intern = false))
          i = if (gt < 0) n else gt + 1
        } else if (isLetterAt(lt + 1)) i = startTag(lt)
        else {
          // stray '<': text
          appendChild(newNode(Text, lt, lt + 1))
          i = lt + 1
        }
      }
    }
  }

  private def endTag(id: Int): Unit =
    if (depth > 1 && tagOf(open(depth - 1)) == id) popOpen()
    else {
      if (!counting) {
        counting = true
        val size = Tags.length + extraCount + 8
        if (openCount.length < size) openCount = new Array[Int](size)
        else java.util.Arrays.fill(openCount, 0)
        var d = 1
        while (d < depth) { openCount(tagOf(open(d))) += 1; d += 1 }
      }
      if (id >= 0 && id < openCount.length && openCount(id) > 0) {
        while (tagOf(open(depth - 1)) != id) popOpen()
        popOpen()
      }
    }

  /** The start tag at `lt`; returns the index after it (and after a raw
    * text element's content). */
  private def startTag(lt: Int): Int = {
    val n = srcEnd
    var i = lt + 1
    val nameStart = i
    while (i < n && isNameCharAt(i)) i += seqLen(src(i))
    val tag = nameId(nameStart, i, intern = true)
    val node = newNode(Elem | (tag << TagShift), nAttrs, nAttrs)
    appendChild(node)
    var selfClosed = false
    var done = false
    while (!done && i < n) {
      i = skipWs(i)
      if (i >= n) done = true
      else if (src(i) == '>') { i += 1; done = true }
      else if (src(i) == '/') {
        if (i + 1 < n && src(i + 1) == '>') { selfClosed = true; i += 2; done = true }
        else i += 1
      } else {
        val aStart = i
        while (i < n && src(i) != '=' && src(i) != '>' && src(i) != '/' && !isWsAt(i)) i += seqLen(src(i))
        val aEnd = i
        i = skipWs(i)
        var vs = i
        var ve = i
        if (i < n && src(i) == '=') {
          i = skipWs(i + 1)
          if (i < n && (src(i) == '"' || src(i) == '\'')) {
            val close = indexOf(src(i), i + 1)
            vs = i + 1
            ve = if (close < 0) n else close
            i = if (close < 0) n else close + 1
          } else {
            vs = i
            while (i < n && src(i) != '>' && !isWsAt(i)) i += seqLen(src(i))
            ve = i
          }
        }
        if (aEnd > aStart) addAttr(aStart, aEnd, vs, ve)
      }
    }
    nodes(node * Stride + End) = nAttrs
    if (!selfClosed && !(tag < VoidTag.length && VoidTag(tag))) {
      if (tag == Script || tag == Style) {
        val close = rawClose(Tags(tag), i)
        val end = if (close < 0) n else close
        if (end > i) {
          val text = newNode(Text, i, end)
          nodes(node * Stride + First) = text
        }
        if (close < 0) n else after('>', end)
      } else { pushOpen(node); i }
    } else i
  }

  private def addAttr(ns: Int, ne: Int, vs: Int, ve: Int): Unit = {
    if (attrs.length < Stride * (nAttrs + 1)) attrs = java.util.Arrays.copyOf(attrs, 2 * attrs.length)
    var kind = OtherAttr
    if (asciiNameIs(ns, ne, "class")) kind = ClassAttr
    else if (asciiNameIs(ns, ne, "id")) kind = IdAttr
    var k = vs
    while (k < ve && src(k) != '&') k += 1
    val p = nAttrs * Stride
    attrs(p) = kind | (if (k < ve) Amp else 0)
    attrs(p + 1) = ns; attrs(p + 2) = ne; attrs(p + 3) = vs; attrs(p + 4) = ve
    nAttrs += 1
  }

  /** `name == lowerAscii(name bytes)` for an ASCII `name` without a `k`:
    * no other char lowercases into one (U+212A KELVIN SIGN becomes `k`,
    * U+0130 becomes two chars), so an ASCII compare is exact. */
  private def asciiNameIs(s: Int, e: Int, name: String): Boolean =
    e - s == name.length && {
      var j = 0
      while (j < name.length && asciiLower(src(s + j)) == name.charAt(j)) j += 1
      j == name.length
    }

  /** Index of the first case-insensitive `</tag` at or after `from`, or
    * -1: `String.regionMatches(true, ...)` per UTF-16 char, so `ſ`
    * (U+017F) matches `s`, and `İ` and `ı` match `i`. */
  private def rawClose(tag: String, from: Int): Int = {
    var p = indexOf('<', from)
    while (p >= 0) {
      if (p + 1 < srcEnd && src(p + 1) == '/') {
        var q = p + 2
        var j = 0
        while (j < tag.length && q < srcEnd && {
          val b = src(q)
          if (b >= 0) { q += 1; asciiLower(b) == tag.charAt(j) }
          else { val l = seqLen(b); val c = cp(q); q += l; l < 4 && caseMatches(c.toChar, tag.charAt(j)) }
        }) j += 1
        if (j == tag.length) return p
      }
      p = indexOf('<', p + 1)
    }
    -1
  }

  private def newNode(info: Int, start: Int, end: Int): Int = {
    if (nodes.length < Stride * (nNodes + 1)) nodes = java.util.Arrays.copyOf(nodes, 2 * nodes.length)
    val p = nNodes * Stride
    nodes(p) = info; nodes(p + First) = -1; nodes(p + Next) = -1
    nodes(p + Start) = start; nodes(p + End) = end
    nNodes += 1
    nNodes - 1
  }

  private def appendChild(child: Int): Unit = {
    val d = depth - 1
    val last = openLast(d)
    if (last < 0) nodes(open(d) * Stride + First) = child
    else nodes(last * Stride + Next) = child
    openLast(d) = child
  }

  private def pushOpen(node: Int): Unit = {
    if (depth == open.length) {
      open = java.util.Arrays.copyOf(open, 2 * depth)
      openLast = java.util.Arrays.copyOf(openLast, 2 * depth)
    }
    open(depth) = node; openLast(depth) = -1; depth += 1
    if (counting && node != 0) {
      val t = tagOf(node)
      if (t >= openCount.length) openCount = java.util.Arrays.copyOf(openCount, 2 * t + 8)
      openCount(t) += 1
    }
  }

  private def popOpen(): Unit = {
    depth -= 1
    if (counting) openCount(tagOf(open(depth))) -= 1
  }

  /** The tag id of `lowerAscii(name)`: a [[Arena.Tags]] index, else an
    * id of its own (interned, or -1 when `intern` is off and the name was
    * never seen: it then equals no open element's). */
  private def nameId(s: Int, e: Int, intern: Boolean): Int = {
    val len = e - s
    var ascii = true
    var k = s
    while (k < e && ascii) { ascii = src(k) >= 0; k += 1 }
    if (ascii) {
      val id = known(s, e, Tags, ByLength)
      if (id >= 0) return id
    }
    // ASCII names not matched above are no Tags entry; others lowercase
    // in the root locale, where U+212A KELVIN SIGN becomes 'k'
    if (ascii && !intern && extraCount == 0) return -1
    val name = lowerAscii(new String(src, s, len, UTF_8))
    if (!ascii) {
      val known = TagIds.get(name)
      if (known != null) return known
    }
    if (extraIds != null) {
      val x = extraIds.get(name)
      if (x != null) return x
    }
    if (!intern) return -1
    if (extraIds == null) { extraIds = new java.util.HashMap; extraNames = new Array[String](8) }
    val id = Tags.length + extraIds.size
    if (extraIds.size == extraNames.length) extraNames = java.util.Arrays.copyOf(extraNames, 2 * extraNames.length)
    extraNames(extraIds.size) = name
    extraIds.put(name, id)
    id
  }

  /** The index in `names` of the ASCII name `src(s until e)` compared
    * ASCII-case-insensitively, or -1; `byLength` indexes `names` by
    * length. */
  private def known(s: Int, e: Int, names: Array[String], byLength: Array[Array[Int]]): Int = {
    val len = e - s
    if (len < byLength.length) {
      val ids = byLength(len)
      var c = 0
      while (c < ids.length) {
        val name = names(ids(c))
        var j = 0
        while (j < len && asciiLower(src(s + j)) == name.charAt(j)) j += 1
        if (j == len) return ids(c)
        c += 1
      }
    }
    -1
  }

  /** The number of names outside [[Arena.Tags]] the document holds. */
  private[graft] def extraCount: Int = if (extraIds == null) 0 else extraIds.size

  // ---- byte scanning ----

  private def indexOf(b: Int, from: Int): Int = {
    var i = from
    while (i < srcEnd && src(i) != b) i += 1
    if (i < srcEnd) i else -1
  }

  private def after(b: Int, from: Int): Int = {
    val i = indexOf(b, from)
    if (i < 0) srcEnd else i + 1
  }

  private def startsWith(s: Array[Byte], at: Int): Boolean =
    at + s.length <= srcEnd && {
      var j = 0
      while (j < s.length && src(at + j) == s(j)) j += 1
      j == s.length
    }

  private def indexOfBytes(s: Array[Byte], from: Int): Int = {
    var i = from
    while (i + s.length <= srcEnd) {
      if (startsWith(s, i)) return i
      i += 1
    }
    -1
  }

  /** The code point of the valid sequence at `i`. */
  private[graft] def cp(i: Int): Int = Arena.cp(src, i)

  private def isLetterAt(i: Int): Boolean = {
    val b = src(i)
    if (b >= 0) Character.isLetter(b.toInt)
    else seqLen(b) < 4 && Character.isLetter(cp(i))
  }

  private def isNameCharAt(i: Int): Boolean = {
    val b = src(i)
    if (b >= 0) b == '-' || b == ':' || Character.isLetterOrDigit(b.toInt)
    else seqLen(b) < 4 && Character.isLetterOrDigit(cp(i))
  }

  private def isWsAt(i: Int): Boolean = {
    val b = src(i)
    if (b >= 0) Character.isWhitespace(b.toInt)
    else seqLen(b) < 4 && Character.isWhitespace(cp(i))
  }

  private def skipWs(from: Int): Int = {
    var i = from
    while (i < srcEnd && isWsAt(i)) i += seqLen(src(i))
    i
  }

  // ---- node access ----

  private[graft] def info(k: Int): Int = nodes(k * Stride)
  private[graft] def isElem(k: Int): Boolean = (nodes(k * Stride) & TypeMask) == Elem
  private[graft] def isText(k: Int): Boolean = (nodes(k * Stride) & TypeMask) == Text
  private[graft] def tagOf(k: Int): Int = nodes(k * Stride) >>> TagShift
  private[graft] def first(k: Int): Int = nodes(k * Stride + First)
  private[graft] def next(k: Int): Int = nodes(k * Stride + Next)
  private[graft] def start(k: Int): Int = nodes(k * Stride + Start)
  private[graft] def end(k: Int): Int = nodes(k * Stride + End)

  /** The lowercased tag name of element `k`. */
  private[graft] def tagName(k: Int): String = {
    val t = tagOf(k)
    if (t < Tags.length) Tags(t) else extraNames(t - Tags.length)
  }

  /** The lowercased name of attribute `j`. */
  private[graft] def attrName(j: Int): String = {
    val s = attrs(j * Stride + 1)
    val e = attrs(j * Stride + 2)
    val k = known(s, e, AttrNames, AttrsByLength)
    if (k >= 0) AttrNames(k) else lowerAscii(new String(src, s, e - s, UTF_8))
  }

  /** The first attribute of element `k` of the given kind, or -1. */
  private[graft] def firstAttr(k: Int, kind: Int): Int = {
    var j = start(k)
    while (j < end(k) && (attrs(j * Stride) & KindMask) != kind) j += 1
    if (j < end(k)) j else -1
  }

  /** The last attribute of element `k` of the given kind, or -1. */
  private[graft] def lastAttr(k: Int, kind: Int): Int = {
    var j = end(k) - 1
    while (j >= start(k) && (attrs(j * Stride) & KindMask) != kind) j -= 1
    if (j >= start(k)) j else -1
  }

  /** Push the children of `k` onto `st` so that the first is on top. */
  private[graft] def pushChildren(st: Ints, k: Int): Unit = {
    var c = first(k)
    var n = 0
    while (c >= 0) { n += 1; c = next(c) }
    st.ensure(st.n + n)
    c = first(k)
    var p = st.n + n - 1
    while (c >= 0) { st.a(p) = c; p -= 1; c = next(c) }
    st.n += n
  }

  // ---- decoded text ----

  /** The text of node `k` (or value of attribute `j`, [[valueOf]]) as
    * `(textArr, textFrom, textTo)`: the source range when it holds no
    * entity, else the decoded [[buf]]. */
  private[graft] var textArr: Array[Byte] = NoBytes
  private[graft] var textFrom = 0
  private[graft] var textTo = 0

  private[graft] def textOf(k: Int): Unit = view(start(k), end(k), (info(k) & Amp) != 0)

  private[graft] def valueOf(j: Int): Unit =
    view(attrs(j * Stride + 3), attrs(j * Stride + 4), (attrs(j * Stride) & Amp) != 0)

  private def view(s: Int, e: Int, amp: Boolean): Unit =
    if (!amp) { textArr = src; textFrom = s; textTo = e }
    else { decode(s, e); textArr = buf; textFrom = 0; textTo = bufLen }

  /** Resolve the entities of `src(s until e)` into [[buf]]: a body of at
    * most 11 UTF-16 chars up to the first ';', named or numeric; anything
    * else leaves a literal '&'. */
  private def decode(s: Int, e: Int): Unit = {
    bufLen = 0
    bufSurrogates = false
    if (buf.length < e - s) buf = new Array[Byte](math.max(64, e - s))
    var i = s
    while (i < e) {
      val b = src(i)
      if (b != '&') { buf(bufLen) = b; bufLen += 1; i += 1 }
      else {
        // the first ';' within 12 chars of the '&'
        var j = i + 1
        var units = 0
        while (j < e && src(j) != ';' && units <= 11) {
          val l = seqLen(src(j))
          units += (if (l == 4) 2 else 1)
          j += l
        }
        if (j < e && src(j) == ';' && units <= 11 && entity(i + 1, j)) i = j + 1
        else { buf(bufLen) = '&'; bufLen += 1; i += 1 }
      }
    }
  }

  /** Append the decoded entity body `src(s until e)` to [[buf]], or
    * false when it is none. An entity is never longer than its source. */
  private def entity(s: Int, e: Int): Boolean = {
    val d = Arena.entity(new String(src, s, e - s, UTF_8))
    d != null && {
      var c = 0
      while (c < d.length) {
        val x = d.codePointAt(c)
        putCodePoint(x)
        c += Character.charCount(x)
      }
      true
    }
  }

  /** Append `c` to [[buf]]; a surrogate takes its 3-byte form and a low
    * one joins a high one just before it. */
  private def putCodePoint(c: Int): Unit = {
    if (c >= 0xD800 && c <= 0xDFFF) bufSurrogates = true
    bufLen = Arena.put(buf, bufLen, c)
  }

  /** [[buf]] as a String (lone surrogates kept as chars). */
  private[graft] def bufString: String =
    if (!bufSurrogates) new String(buf, 0, bufLen, UTF_8) else Arena.wtf8String(buf, 0, bufLen)

  /** `(textArr, textFrom, textTo)` as a String. */
  private[graft] def textString: String =
    if (textArr eq buf) bufString else new String(textArr, textFrom, textTo - textFrom, UTF_8)

  // ---- output ----

  private[graft] def resetOut(capacity: Int): Unit = {
    if (out.length < capacity) out = new Array[Byte](capacity)
    outLen = 0
    outSurrogates = false
  }

  private[graft] def ensureOut(extra: Int): Unit =
    if (outLen + extra > out.length) out = java.util.Arrays.copyOf(out, math.max(2 * out.length, outLen + extra))

  /** Append one byte (ASCII) to [[out]]; capacity is the caller's. */
  private[graft] def put(b: Byte): Unit = { out(outLen) = b; outLen += 1 }

  /** Append `arr(from until to)` to [[out]], joining a leading low
    * surrogate to a high one that ends the output. */
  private[graft] def append(arr: Array[Byte], from: Int, to: Int): Unit = {
    if (to <= from) return
    ensureOut(to - from)
    if (arr(from) == SurrogateLead && (arr(from + 1) & 0xF0) == 0xB0 && outLen >= 3 &&
        out(outLen - 3) == SurrogateLead && (out(outLen - 2) & 0xF0) == 0xA0) {
      outLen -= 3
      outLen = Arena.put(out, outLen, Character.toCodePoint(Arena.cp(out, outLen).toChar, Arena.cp(arr, from).toChar))
      append(arr, from + 3, to)
    } else {
      System.arraycopy(arr, from, out, outLen, to - from)
      outLen += to - from
      if ((arr eq buf) && bufSurrogates) outSurrogates = true
    }
  }

  /** Write every lone surrogate left in [[out]] as `?`. */
  private[graft] def finish(): Unit = if (outSurrogates) {
    var r = 0
    var w = 0
    while (r < outLen) {
      if (out(r) == SurrogateLead && (out(r + 1) & 0xE0) == 0xA0) { out(w) = '?'; w += 1; r += 3 }
      else { out(w) = out(r); w += 1; r += 1 }
    }
    outLen = w
  }

  /** The output as a String, before [[finish]]: a lone surrogate stays
    * a char, as in a String built by concatenation. */
  private[graft] def outString(): String =
    if (!outSurrogates) new String(out, 0, outLen, UTF_8) else Arena.wtf8String(out, 0, outLen)

  /** The output, after [[finish]]. */
  def result(): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(out, outLen))
  def resultString(): String = new String(out, 0, outLen, UTF_8)
}

object Arena {

  /** Ints per node and per attribute. */
  private[graft] final val Stride = 5
  private final val First = 1
  private final val Next = 2
  private final val Start = 3
  private final val End = 4

  // node INFO: type in bits 0-1, the has-'&' bit, the tag id above
  private[graft] final val TypeMask = 3
  private[graft] final val Doc = 0
  private[graft] final val Elem = 1
  private[graft] final val Text = 2
  private[graft] final val Amp = 4
  private final val TagShift = 3
  // attribute INFO: its kind in bits 0-1, the has-'&' bit
  private[graft] final val KindMask = 3
  private[graft] final val OtherAttr = 0
  private[graft] final val ClassAttr = 1
  private[graft] final val IdAttr = 2

  private val NoBytes = new Array[Byte](0)
  private val NoInts = new Array[Int](0)
  private val CommentOpen = "<!--".getBytes(UTF_8)
  private val CommentClose = "-->".getBytes(UTF_8)
  private final val SurrogateLead = 0xED.toByte

  // The tag sets the kernels test live here, next to Tags, which is
  // built from them: a name added to a set cannot miss its fixed id.

  /** Boilerplate's step 1: subtrees that are dropped. <header> is
    * intentionally NOT dropped — it typically holds the article h1; its
    * boilerplate content (nav, logo links) is removed by the nav drop and
    * the link-density rule instead. */
  private[graft] val DropTags = Set(
    "script", "style", "noscript", "template", "iframe", "svg", "canvas",
    "form", "button", "select", "option", "nav", "footer", "aside")

  /** Boilerplate's step 2: elements that end a block. */
  private[graft] val BlockTags = Set(
    "p", "div", "section", "article", "main", "body", "html",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "ul", "ol", "li", "dl", "dt", "dd",
    "table", "thead", "tbody", "tr", "td", "th",
    "blockquote", "pre", "figure", "figcaption", "hr", "br",
    "address", "fieldset", "legend")

  private[graft] val HeadingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Elements that never have children. */
  private val VoidTags = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  /** The tag names with a fixed id: the sets above, the single tags the
    * kernels test ([[tagId]]), and names the generated inputs use. Each
    * other name gets an id of its own per arena. */
  val Tags: Array[String] = (Seq(
    "html", "head", "title", "meta", "script", "style", "div", "span", "a", "li",
    "header", "tfoot", "b", "i", "em", "strong", "small", "code", "sup", "sub", "u", "label", "textarea") ++
    DropTags.toSeq.sorted ++ BlockTags.toSeq.sorted ++ VoidTags.toSeq.sorted).distinct.toArray

  private val TagIds: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]
    Tags.indices.foreach(i => m.put(Tags(i), i))
    m
  }

  /** The id of a [[Tags]] name. */
  def tagId(name: String): Int = {
    val i = TagIds.get(name)
    require(i != null, s"$name is not in Arena.Tags")
    i
  }

  /** For each id, whether it is one of `names`, which must all be Tags. */
  def tagSet(names: Set[String]): Array[Boolean] = {
    names.foreach(tagId)
    Tags.map(names.contains)
  }

  private val ByLength = byLength(Tags)

  /** Attribute names the inputs carry, shared instead of copied. */
  private val AttrNames = Array(
    "class", "id", "title", "href", "lang", "name", "content", "xmlns", "xml:lang", "http-equiv",
    "src", "style", "type", "rel", "alt", "charset")
  private val AttrsByLength = byLength(AttrNames)

  private def byLength(names: Array[String]): Array[Array[Int]] =
    Array.tabulate(names.map(_.length).max + 1)(n => names.indices.filter(names(_).length == n).toArray)

  private val VoidTag = tagSet(VoidTags)
  private val Script = tagId("script")
  private val Style = tagId("style")

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

  /** The text of the entity body `body` (between '&' and ';'), or null
    * when it is none: a numeric body goes through `Integer.parseInt`
    * (signs and non-ASCII digits included) and `Character.toChars`. */
  private def entity(body: String): String =
    if (body.startsWith("#x") || body.startsWith("#X")) {
      try new String(Character.toChars(Integer.parseInt(body.substring(2), 16)))
      catch { case _: Exception => null }
    } else if (body.startsWith("#")) {
      try new String(Character.toChars(Integer.parseInt(body.substring(1))))
      catch { case _: Exception => null }
    } else namedEntities.getOrElse(body, null)

  /** A parsed `s`. */
  def of(s: String): Arena = { val a = new Arena; a.load(s); a }

  private def asciiLower(b: Byte): Char = if (b >= 'A' && b <= 'Z') (b + 32).toChar else b.toChar

  /** `toLowerCase(Locale.ROOT)` without the copy when `s` is already
    * lowercase ASCII. Locale.ROOT: under a Turkish default locale "DIV"
    * lowercases to "dıv", so the DOM would depend on the executor. */
  private[graft] def lowerAscii(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || c > 127) return s.toLowerCase(Locale.ROOT)
      i += 1
    }
    s
  }

  /** `String.regionMatches(true, ...)` of one char against ASCII `a`. */
  private[graft] def caseMatches(c: Char, a: Char): Boolean =
    c == a || {
      val u1 = Character.toUpperCase(c)
      val u2 = Character.toUpperCase(a)
      u1 == u2 || Character.toLowerCase(u1) == Character.toLowerCase(u2)
    }

  /** Bytes in the sequence that `lead` starts (valid input). */
  private[graft] def seqLen(lead: Byte): Int = {
    val b = lead & 0xFF
    if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4
  }

  /** The length of the strictly valid UTF-8 sequence at `i` (a non-ASCII
    * lead), or 0 where `new String(_, UTF_8)` would substitute U+FFFD. */
  private def seqLenValid(a: Array[Byte], i: Int, end: Int): Int = {
    def cont(k: Int): Boolean = k < end && (a(k) & 0xC0) == 0x80
    val b = a(i) & 0xFF
    if (b < 0xC2) 0
    else if (b < 0xE0) { if (cont(i + 1)) 2 else 0 }
    else if (b < 0xF0) {
      val b1 = if (i + 1 < end) a(i + 1) & 0xFF else 0
      if (!cont(i + 1) || !cont(i + 2) || (b == 0xE0 && b1 < 0xA0) || (b == 0xED && b1 >= 0xA0)) 0 else 3
    } else if (b < 0xF5) {
      val b1 = if (i + 1 < end) a(i + 1) & 0xFF else 0
      if (!cont(i + 1) || !cont(i + 2) || !cont(i + 3) || (b == 0xF0 && b1 < 0x90) || (b == 0xF4 && b1 >= 0x90)) 0
      else 4
    } else 0
  }

  /** The code point of the sequence at `i` (surrogates in 3 bytes). */
  private[graft] def cp(a: Array[Byte], i: Int): Int = {
    val b = a(i) & 0xFF
    if (b < 0x80) b
    else if (b < 0xE0) ((b & 0x1F) << 6) | (a(i + 1) & 0x3F)
    else if (b < 0xF0) ((b & 0x0F) << 12) | ((a(i + 1) & 0x3F) << 6) | (a(i + 2) & 0x3F)
    else ((b & 0x07) << 18) | ((a(i + 1) & 0x3F) << 12) | ((a(i + 2) & 0x3F) << 6) | (a(i + 3) & 0x3F)
  }

  /** Write `c` at `a(at)` (room is the caller's; a surrogate in 3 bytes,
    * a low one after a high one joining it); returns the new end. */
  private def put(a: Array[Byte], at: Int, c: Int): Int =
    if (c < 0x80) { a(at) = c.toByte; at + 1 }
    else if (c < 0x800) {
      a(at) = (0xC0 | (c >> 6)).toByte; a(at + 1) = (0x80 | (c & 0x3F)).toByte; at + 2
    } else if (c < 0x10000) {
      if (c >= 0xDC00 && c <= 0xDFFF && at >= 3 && a(at - 3) == SurrogateLead && (a(at - 2) & 0xF0) == 0xA0)
        put(a, at - 3, Character.toCodePoint(cp(a, at - 3).toChar, c.toChar))
      else {
        a(at) = (0xE0 | (c >> 12)).toByte; a(at + 1) = (0x80 | ((c >> 6) & 0x3F)).toByte
        a(at + 2) = (0x80 | (c & 0x3F)).toByte; at + 3
      }
    } else {
      a(at) = (0xF0 | (c >> 18)).toByte; a(at + 1) = (0x80 | ((c >> 12) & 0x3F)).toByte
      a(at + 2) = (0x80 | ((c >> 6) & 0x3F)).toByte; a(at + 3) = (0x80 | (c & 0x3F)).toByte; at + 4
    }

  /** Generalized UTF-8 (surrogates in 3 bytes) to a String. */
  private def wtf8String(a: Array[Byte], from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      sb.appendCodePoint(cp(a, i))
      i += seqLen(a(i))
    }
    sb.toString
  }

  /** A growable int list. */
  private[graft] final class Ints {
    var a: Array[Int] = new Array[Int](16)
    var n = 0
    def ensure(size: Int): Unit = if (size > a.length) a = java.util.Arrays.copyOf(a, math.max(2 * a.length, size))
    def add(x: Int): Unit = { ensure(n + 1); a(n) = x; n += 1 }
    def pop(): Int = { n -= 1; a(n) }
  }
}
