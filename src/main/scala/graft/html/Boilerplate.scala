package graft.html

import graft.text.GoStrings

/** Main-content extraction from raw HTML (the north rule's "HTML
  * boilerplate strip ... DOM heuristics (tag/text-density scoring,
  * link-density pruning)").
  *
  * The algorithm is deterministic and self-contained (in the spirit of
  * Boilerpipe/jusText, from the published descriptions, not their code):
  *
  *  1. Parse the document into an [[Arena]] straight from its UTF-8
  *     bytes (no String, no node objects); DROP subtrees rooted at
  *     non-content tags:
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
  *  5. Output = kept blocks joined with "\n", written as UTF-8 bytes:
  *     only the kept text is ever decoded.
  *
  * Thresholds are part of this engine's pinned semantics (golden tests).
  */
object Boilerplate {

  private val Drop = Arena.tagSet(Arena.DropTags)
  private val Block = Arena.tagSet(Arena.BlockTags)
  private val Heading = Arena.tagSet(Arena.HeadingTags)
  private val A = Arena.tagId("a")
  private val Li = Arena.tagId("li")
  private val AsciiSpace = Array.tabulate(128)(c => GoStrings.isSpace(c.toChar))

  // the walk's inherited flags: inside an <a>, a heading, an <li>
  private final val InLink = 1
  private final val InHeading = 2
  private final val InLi = 4

  /** Extract main content text from raw HTML (read as its UTF-8 bytes). */
  def extractMainText(html: String): String = {
    val a = Arena.of(html)
    extractMainText(a)
    a.resultString()
  }

  /** Extract main content text from the document `a` holds, into its
    * output ([[Arena.result]]), with the arena's own walk. */
  def extractMainText(a: Arena): Unit = a.boilerplate.run()

  /** One pre-order walk of the arena on an explicit stack, so that
    * nesting depth costs heap, not thread stack (a Spark task thread has
    * 1 MiB). Each entry is a node with its inherited link/heading/li
    * flags; -1 is the flush a block element owes after its last child.
    * A block's text is collapsed straight into the output as it is
    * reached; a block that is not kept is cut off again at its flush, and
    * kept blocks are separated by "\n". An arena holds one walk for all
    * its documents; [[run]] starts each afresh. */
  private[html] final class Walk(a: Arena) {
    private var anyKept = false
    private var sepAt = 0 // where the block's "\n" separator starts
    private var from = 0 // where the block's collapsed text starts
    private var pending = false // a whitespace run awaits the next char
    private var linkLen = 0
    private var tagCount = 0
    private var heading = false
    private var listItem = false

    def run(): Unit = {
      a.resetOut(math.max(64, (a.srcEnd - a.srcStart) / 4))
      anyKept = false
      open()
      val nodes = a.stack
      val flags = a.stack2
      nodes.n = 0; flags.n = 0
      nodes.add(0); flags.add(0)
      while (nodes.n > 0) {
        val k = nodes.pop()
        val f = flags.pop()
        if (k < 0) flush()
        else if (a.isText(k)) text(k, f)
        else {
          var g = f
          if (a.isElem(k)) {
            val t = a.tagOf(k)
            if (t < Drop.length && Drop(t)) g = -1
            else {
              if (t < Block.length && Block(t)) { flush(); nodes.add(-1); flags.add(0) }
              else tagCount += 1
              g = f |
                (if (t == A) InLink else 0) |
                (if (t < Heading.length && Heading(t)) InHeading else 0) |
                (if (t == Li) InLi else 0)
            }
          }
          if (g >= 0) {
            a.pushChildren(nodes, k)
            flags.ensure(nodes.n)
            while (flags.n < nodes.n) { flags.a(flags.n) = g; flags.n += 1 }
          }
        }
      }
      flush()
      a.outLen = sepAt // the separator the last open() wrote
      a.finish()
    }

    private def open(): Unit = {
      sepAt = a.outLen
      if (anyKept) { a.ensureOut(1); a.put('\n') }
      from = a.outLen
      pending = false
      linkLen = 0
      tagCount = 0
      heading = false
      listItem = false
    }

    /** End the block: keep it iff its collapsed text passes the rules. */
    private def flush(): Unit = {
      // textLen: code points of the collapsed text
      var len = 0
      var p = from
      while (p < a.outLen) { if ((a.out(p) & 0xC0) != 0x80) len += 1; p += 1 }
      val keep = len > 0 && {
        val linkDensity = linkLen.toDouble / len
        val textDensity = len.toDouble / (1 + tagCount)
        if (heading) len >= 3 && linkLen == 0
        else if (listItem) len >= 30 && linkDensity <= 0.2
        else len >= 25 && linkDensity <= (1.0 / 3.0) && textDensity >= 8.0
      }
      if (keep) anyKept = true else a.outLen = sepAt
      open()
    }

    /** Collapse text node `k` into the block; inside a link, add the code
    * points of its own collapsed text to linkLen. */
    private def text(k: Int, f: Int): Unit = {
      a.textOf(k)
      val arr = a.textArr
      var p = a.textFrom
      val e = a.textTo
      a.ensureOut(e - p + 1)
      var seen = false // a non-space char of this node was reached
      var gap = false // and whitespace followed it
      var own = 0
      while (p < e) {
        val b = arr(p)
        val l = if (b >= 0) 1 else Arena.seqLen(b)
        if (if (b >= 0) AsciiSpace(b) else l < 4 && GoStrings.isSpace(Arena.cp(arr, p).toChar)) {
          pending = true
          gap = seen
        } else {
          if (pending && a.outLen > from) a.put(' ')
          pending = false
          if (gap) own += 1
          gap = false
          seen = true
          own += 1
          if (l == 1) a.put(b) else a.append(arr, p, p + l)
        }
        p += l
      }
      if ((f & InLink) != 0) linkLen += own
      if ((f & InHeading) != 0) heading = true
      if ((f & InLi) != 0) listItem = true
    }
  }
}
