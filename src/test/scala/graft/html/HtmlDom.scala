package graft.html

import scala.collection.mutable.ArrayBuffer

/** A node view of an [[Arena]], for the tests: element nodes with
  * lowercased tag and attributes, text nodes with entities decoded, in
  * document order. The differential tests compare it with the tree the
  * String reference tokenizer (`RefHtmlDom`) builds; `src/main` reads the
  * arena itself and builds no nodes.
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

  /** Parse an HTML string into a document node. Never throws on malformed
    * input — unclosed/mismatched tags are tolerated. The [[Arena]]
    * tokenizes the string's UTF-8 encoding (a lone surrogate reads as
    * `?`, as in every Spark column), and this builds its nodes: element
    * tags and attribute names lowercased, text and attribute values with
    * entities resolved. The children chains are linked in one loop, so
    * nesting depth costs no thread stack. */
  def parse(input: String): Node = parse(Arena.of(input))

  /** The nodes of the document `a` holds. */
  def parse(a: Arena): Node = {
    val made = new Array[Node](a.nNodes)
    var k = 0
    while (k < a.nNodes) {
      made(k) =
        if (a.isText(k)) { a.textOf(k); new Node(TextNode, a.textString) }
        else if (a.isElem(k)) {
          val e = new Node(ElementNode, a.tagName(k))
          var j = a.start(k)
          while (j < a.end(k)) {
            a.valueOf(j)
            e.attrs += ((a.attrName(j), a.textString))
            j += 1
          }
          e
        } else new Node(DocumentNode, "")
      k += 1
    }
    k = 0
    while (k < a.nNodes) {
      var c = a.first(k)
      while (c >= 0) { made(k).children += made(c); c = a.next(c) }
      k += 1
    }
    made(0)
  }
}
