package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.hocr._
import graft.html.{Arena, Boilerplate, HtmlDom, RefBoilerplate, RefHtmlDom}
import graft.model.BBox
import graft.pipeline.SpanExtract
import graft.text.GoStrings

/** Property-based round-trip laws (SURVEY.md §5.2 item 2), driven by
  * deterministic scalacheck generators (seeded; scalatestplus bridge is
  * not available offline, so we sample explicitly). */
class PropertySpec extends AnyFunSuite {

  private val params = Gen.Parameters.default.withSize(12)
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(params, Seed(42L + i), retries = 200))

  // word text safe for the non-escaping renderer (text/template inserts
  // raw text, parse.go decodes entities — so avoid markup chars)
  private val wordText: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("é", "ß", "€", "😀", "中"))).map(_.take(6).mkString)

  private val genWord: Gen[HWord] = for {
    t <- wordText
    id <- Gen.identifier.map(_.take(8))
    conf <- Gen.chooseNum(0, 100).map(_.toDouble)
    x1 <- Gen.chooseNum(0, 500); y1 <- Gen.chooseNum(0, 500)
    w <- Gen.chooseNum(1, 100); h <- Gen.chooseNum(1, 40)
  } yield HWord(id = id, text = t, bbox = BBox(x1, y1, x1 + w, y1 + h), confidence = conf)

  private val genLine: Gen[HLine] = for {
    id <- Gen.identifier.map(_.take(8))
    words <- Gen.nonEmptyListOf(genWord).map(_.take(5).toVector)
  } yield HLine(id = id, words = words, bbox = BBox(0, 0, 600, 40))

  private val genPara: Gen[HPara] = for {
    id <- Gen.identifier.map(_.take(8))
    lines <- Gen.listOf(genLine).map(_.take(3).toVector)
    words <- Gen.listOf(genWord).map(_.take(2).toVector)
  } yield HPara(id = id, lines = lines, words = words, bbox = BBox(0, 0, 600, 200))

  private val genArea: Gen[HArea] = for {
    id <- Gen.identifier.map(_.take(8))
    paras <- Gen.listOf(genPara).map(_.take(2).toVector)
    lines <- Gen.listOf(genLine).map(_.take(2).toVector)
    words <- Gen.listOf(genWord).map(_.take(2).toVector)
  } yield HArea(id = id, paragraphs = paras, lines = lines, words = words, bbox = BBox(0, 0, 600, 400))

  private val genPage: Gen[HPage] = for {
    n <- Gen.chooseNum(1, 3)
    areas <- Gen.listOf(genArea).map(_.take(2).toVector)
    paras <- Gen.listOf(genPara).map(_.take(2).toVector)
    lines <- Gen.listOf(genLine).map(_.take(2).toVector)
  } yield HPage(id = s"page_$n", pageNumber = n, areas = areas, paragraphs = paras,
    lines = lines, bbox = BBox(0, 0, 1000, 1400))

  private val genHocr: Gen[Hocr] = for {
    pages <- Gen.nonEmptyListOf(genPage).map(_.take(3).toVector)
    lang <- Gen.oneOf("", "en", "de")
  } yield Hocr(title = "t", language = lang, pages = pages)

  test("property: extractText(parse(render(h))) == extractText(h), 60 trees") {
    samples(genHocr, 60).foreach { h =>
      val rendered = HocrRender.render(h)
      val reparsed = HocrParse.parseHocr(rendered.getBytes("UTF-8")).toOption.get
      assert(HocrText.extractText(reparsed) == HocrText.extractText(h), rendered.take(400))
    }
  }

  test("property: render o parse reaches a fixpoint after one iteration") {
    samples(genHocr, 30).foreach { h =>
      val r1 = HocrRender.render(h)
      val p1 = HocrParse.parseHocr(r1.getBytes("UTF-8")).toOption.get
      val r2 = HocrRender.render(p1)
      val p2 = HocrParse.parseHocr(r2.getBytes("UTF-8")).toOption.get
      assert(HocrRender.render(p2) == r2)
    }
  }

  test("property: runeSlice == naive codepoint-array slice with clamping") {
    val genStr = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const("😀"), Gen.const("é"), Gen.const("中")))
      .map(_.mkString)
    val triples = for {
      s <- genStr; a <- Gen.chooseNum(-3, 30); b <- Gen.chooseNum(-3, 30)
    } yield (s, a, b)
    samples(triples, 300).foreach { case (s, a, b) =>
      val cps = s.codePoints().toArray
      var start = Math.max(a, 0)
      var end = Math.min(b, cps.length)
      if (end < 0) end = 0
      if (start > end) start = end
      val expected = new String(cps.slice(start, end), 0, end - start)
      assert(GoStrings.runeSlice(s, a, b) == expected, s"($s, $a, $b)")
    }
  }

  test("property: goFloat round-trips through parseDouble; ints stay ints") {
    samples(Gen.chooseNum(-1e9, 1e9), 500).foreach { d =>
      assert(java.lang.Double.parseDouble(GoStrings.goFloat(d)) == d, d.toString)
    }
    samples(Gen.chooseNum(-100000, 100000), 300).foreach { i =>
      assert(GoStrings.goFloat(i.toDouble) == i.toString)
    }
  }

  test("property: PDF emit -> parse -> modify round-trip over random hOCR trees") {
    import graft.pdf.{PdfOps, PdfParse, PdfRender}
    samples(genHocr, 25).foreach { h =>
      PdfRender.applyOcrPdf(h, layerNameBase = "Scan Text") match {
        case Left(e) =>
          // only the reference's >10%-encoding-errors gate may refuse
          assert(e.contains("character encoding issues"), e)
        case Right(src) =>
          // parse: page count and MediaBox from every emitted page
          val doc = PdfParse.parse(src.pdf).toOption.get
          val pages = doc.pages.toOption.get
          assert(pages.length == h.pages.length)
          pages.zip(h.pages).foreach { case (p, hp) =>
            assert(p.mediaBox.exists { case (_, _, x2, y2) =>
              math.abs(x2 - hp.bbox.x2) < 0.01 && math.abs(y2 - hp.bbox.y2) < 0.01 })
            assert(p.contentObjs.nonEmpty)
            assert(doc.decodedStream(p.contentObjs.head).isRight)
          }
          // modify: import every page under a new layer; result reparses
          // with the same page count and carries both layer families
          PdfRender.modifyExistingPdf(src.pdf, h) match {
            case Left(e) => assert(e.contains("character encoding issues"), e)
            case Right(out) =>
              val re = PdfParse.parse(out.pdf).toOption.get
              assert(re.pages.toOption.get.length == h.pages.length)
              val layers = PdfOps.detectPdfLayers(out.pdf).toOption.get
              assert(layers.exists(_.startsWith("OCR Text")) &&
                layers.exists(_.startsWith("Scan Text")), layers)
          }
      }
    }
  }

  test("property: trimSpace/fields laws") {
    val genWs = Gen.listOf(Gen.oneOf("a", "b", " ", "\t", "\n", " ", "")).map(_.mkString)
    samples(genWs, 300).foreach { s =>
      val t = GoStrings.trimSpace(s)
      assert(t.isEmpty || (!GoStrings.isSpace(t.head) && !GoStrings.isSpace(t.last)))
      val f = GoStrings.fields(s)
      assert(f.forall(w => w.nonEmpty && !w.exists(GoStrings.isSpace)))
      assert(f.mkString("") == s.filterNot(GoStrings.isSpace))
    }
  }

  test("property: VectorExprs.quantize == BigDecimal HALF_UP of x*1000 (Spark Round law)") {
    // the exact semantics Spark's Round(DoubleType) implements — the
    // claim VectorExprs' Scaladoc makes, proven over generated floats
    // incl. .5 ties (k/16), negatives, tiny and large magnitudes
    def spec(x: Float): Long =
      java.math.BigDecimal.valueOf(x.toDouble * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val gen: Gen[Float] = Gen.oneOf(
      Gen.chooseNum(-32, 32).map(_ / 16.0f),          // exact .5 ties
      Gen.chooseNum(-1000000, 1000000).map(_ / 1e6f), // embedding range
      Gen.chooseNum(-2000, 2000).map(_ / 1e9f),       // quantizes to 0
      Gen.chooseNum(-100000, 100000).map(_.toFloat))  // large magnitudes
    samples(gen, 2000).foreach { x =>
      assert(graft.functions.VectorExprs.quantize(x) == spec(x), s"x=$x")
    }
  }

  test("property: PNG predictor round-trip for every filter tag (PdfParse.unpredict)") {
    // forward-apply each PNG filter to random rows, then unpredict must
    // restore the original bytes — covers Sub/Up/Average/Paeth paths the
    // xref-stream fixtures (which use Up) don't reach
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    def encode(data: Array[Byte], cols: Int, tag: Int): Array[Byte] = {
      val nRows = data.length / cols
      val out = new Array[Byte](nRows * (cols + 1))
      var prev = new Array[Byte](cols)
      for (r <- 0 until nRows) {
        val row = java.util.Arrays.copyOfRange(data, r * cols, (r + 1) * cols)
        out(r * (cols + 1)) = tag.toByte
        for (i <- 0 until cols) {
          val left = if (i > 0) row(i - 1) & 0xFF else 0
          val up = prev(i) & 0xFF
          val upLeft = if (i > 0) prev(i - 1) & 0xFF else 0
          val pred = tag match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case 4 => paeth(left, up, upLeft)
          }
          out(r * (cols + 1) + 1 + i) = (row(i) - pred).toByte
        }
        prev = row
      }
      out
    }
    val gen = for {
      cols <- Gen.chooseNum(1, 9)
      nRows <- Gen.chooseNum(1, 12)
      data <- Gen.listOfN(cols * nRows, Gen.chooseNum(-128, 127).map(_.toByte))
      tag <- Gen.chooseNum(0, 4)
    } yield (cols, data.toArray, tag)
    samples(gen, 300).foreach { case (cols, data, tag) =>
      val dec = graft.pdf.PdfParse.unpredict(encode(data, cols, tag), 10 + tag, cols)
      assert(dec.exists(_.sameElements(data)), s"tag=$tag cols=$cols: $dec")
    }
    // mixed tags per row (real writers vary the filter row-by-row)
    samples(gen, 100).foreach { case (cols, data, _) =>
      val nRows = data.length / cols
      val enc = new Array[Byte](nRows * (cols + 1))
      var prev = new Array[Byte](cols)
      for (r <- 0 until nRows) {
        val tag = (r * 7 + cols) % 5
        val one = encode(
          prev ++ java.util.Arrays.copyOfRange(data, r * cols, (r + 1) * cols), cols, tag)
        // take the second encoded row (encoded against `prev` correctly)
        System.arraycopy(one, cols + 1, enc, r * (cols + 1), cols + 1)
        prev = java.util.Arrays.copyOfRange(data, r * cols, (r + 1) * cols)
      }
      val dec = graft.pdf.PdfParse.unpredict(enc, 12, cols)
      assert(dec.exists(_.sameElements(data)), s"mixed tags cols=$cols")
    }
  }

  // ---- the arena tokenizer and its kernels against the String reference ----

  private val prose = "This paragraph holds enough words of prose to be kept by the filter"

  /** Text: entity floods and edge bodies, the whitespace classes, non-BMP
    * chars, and stray markup characters. */
  private val genMarkupText: Gen[String] = Gen.oneOf(
    prose, "short", "the quick brown fox jumps over the lazy dog", "\u00e9\u20ac\u4e2d", "\ud83d\ude00 \ud835\udd18",
    "x&amp;y", "a&lt;b&gt;", "&#+65;", "&#-65;", "&#\u0661\u0662;", "&#xD800;", "&#x110000;", "&#xD83D;&#xDE00;",
    "&#xD83D;", "&#xDE00;", "&#xDBFF;&#xDFFF;", "&nbsp;", "&bogus;", "&;", "&#;", "&#x;", "&aaaaaaaaaaaa;",
    "&#0000000065;", "&#65", "&hellip;&mdash;&copy;", "&\ud83d\ude00;", "&#x1F600;",
    "\u0085", "\u00a0", "\u2003", "\u3000", "\u1680", "\u001c", "\u2028", " ", "\n\t ", "  spaced   out  ",
    "?", "<", "< x", "<1", "<\ud83d\ude00", "<\u00e9t\u00e9>", "&", "=", ">", "&#+65;" * 40)

  private val genTagName: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("div", "p", "span", "a", "li", "h1", "b", "em", "section", "td"),
    2 -> Gen.oneOf("ul", "h2", "nav", "footer", "aside", "header", "br", "img", "input", "table", "title", "meta"),
    2 -> Gen.oneOf("DIV", "Div", "P", "LI", "A", "BLOCKQUOTE", "blockquote"),
    // U+212A KELVIN SIGN lowercases to 'k'; the long s, dotted and
    // dotless i do not lowercase to ASCII
    2 -> Gen.oneOf("BLOC\u212aQUOTE", "bloc\u212aquote", "\u017fcript", "SCR\u0130PT", "d\u0131v", "D\u0130V"),
    1 -> Gen.oneOf("foo", "x-y", "a:b", "custom1", "FOO", "\u00e9t\u00e9", "\u03a3\u03a3"))

  private val genAttr: Gen[String] = for {
    ws <- Gen.oneOf(" ", "  ", "\n", "\u2003", "\u001c", " \u00a0")
    name <- Gen.frequency(
      5 -> Gen.oneOf("class", "id", "title", "href"),
      2 -> Gen.oneOf("CLASS", "ID", "Class", "data-x", "\u0130D", "\u0131d", "cla\u017f\u017f", "x\ud83d\ude00"),
      1 -> Gen.oneOf("", "=", "'q'"))
    value <- Gen.frequency(
      3 -> Gen.oneOf("ocr_page", "ocr_carea", "ocr_par", "ocr_line", "ocrx_word", "ocr_line ocrx_word", "a", "b")
        .map(v => s"='$v'"),
      2 -> Gen.oneOf("", "=v", "= \"v w\"", "='&amp;&#xD83D;&#xDE00;'", "='ocr&#95;page'", "='a&#xD800;'",
        "='unterminated", "=\"x'y\"", "=a&lt;b", "='" + "x" * 3000 + "'"))
  } yield ws + name + value

  private def genMarkupNode(depth: Int): Gen[String] =
    if (depth <= 0) genMarkupText
    else Gen.frequency(
      4 -> genMarkupText,
      8 -> genMarkupElem(depth),
      3 -> genHocrElem(depth),
      1 -> Gen.oneOf("</span>", "</div>", "</P>", "</ div>", "</div foo>", "</>", "</", "</\u017fcript>",
        "</bloc\u212aquote>", "</foo >"),
      1 -> Gen.oneOf("<!-- a <b> comment -->", "<!--", "<!DOCTYPE html>", "<!x", "<?xml version='1.0'?>", "<?",
        "<br/>", "<img src=x/>", "<div/>", "<script/>"),
      1 -> genRawText)

  /** script and style: closed in any case spelling (`\u017f` matches s,
    * `\u0130` and `\u0131` match i), or never. */
  private val genRawText: Gen[String] = for {
    tag <- Gen.oneOf("script", "style", "SCRIPT", "Style")
    body <- Gen.oneOf("var a = 1 < 2 && b;", "&amp; <b>not markup</b>", "</scr", "</styl", prose)
    close <- Gen.oneOf("</script>", "</style>", "</\u017fcript>", "</scr\u0130pt>", "</SCR\u0131PT>",
      "</\u017ftyle >", "</script", "")
  } yield s"<$tag>$body$close"

  private def genMarkupElem(depth: Int): Gen[String] = for {
    tag <- genTagName
    n <- Gen.chooseNum(0, 3)
    attrs <- Gen.listOfN(n, genAttr)
    selfClose <- Gen.frequency(12 -> "", 1 -> "/")
    k <- Gen.chooseNum(0, 4)
    kids <- Gen.listOfN(k, Gen.lzy(genMarkupNode(depth - 1)))
    close <- Gen.frequency(8 -> s"</$tag>", 1 -> "", 1 -> s"</${tag.toUpperCase}>")
  } yield s"<$tag${attrs.mkString}$selfClose>${kids.mkString}$close"

  /** hOCR-shaped elements, so pages with lines and words arise. */
  private def genHocrElem(depth: Int): Gen[String] = for {
    (tag, cls) <- Gen.oneOf(("div", "ocr_page"), ("DIV", "ocr_page"), ("div", "ocr_carea"), ("p", "ocr_par"),
      ("span", "ocr_line"), ("span", "ocrx_word"), ("span", "ocrx_word"), ("span", "ocr_line ocrx_word"))
    id <- Gen.oneOf("", " id='a'", " id='b'", " id='&#97;'", " id='a' id='b'", " id=''", " id='&#xD83D;&#xDE00;'",
      " id='\ud83d\ude00'")
    k <- Gen.chooseNum(1, 4)
    kids <- Gen.listOfN(k, Gen.lzy(
      if (depth <= 1) genMarkupText
      else Gen.frequency(3 -> genHocrElem(depth - 1), 2 -> genMarkupText, 2 -> genMarkupNode(depth - 1))))
    close <- Gen.frequency(9 -> s"</$tag>", 1 -> "")
  } yield s"<$tag class='$cls'$id>${kids.mkString}$close"

  private val genMarkup: Gen[String] = for {
    n <- Gen.chooseNum(1, 5)
    nodes <- Gen.listOfN(n, genMarkupNode(4))
    page <- Gen.frequency(2 -> false, 1 -> true)
  } yield if (page) s"<div class='ocr_page'>${nodes.mkString}</div>" else nodes.mkString

  /** Whole trees equal: type, tag or text, attributes, children. */
  private def assertSameTree(got: HtmlDom.Node, ref: HtmlDom.Node, doc: => String): Unit = {
    val stack = scala.collection.mutable.Stack((got, ref))
    while (stack.nonEmpty) {
      val (g, r) = stack.pop()
      assert(g.nodeType == r.nodeType && g.data == r.data && g.attrs == r.attrs &&
        g.children.length == r.children.length, s"${g.data} vs ${r.data}: ${doc.take(600)}")
      g.children.indices.foreach(i => stack.push((g.children(i), r.children(i))))
    }
  }

  private def hocrRef(s: String): String = RefHocr.parseDom(RefHtmlDom.parse(s)).fold(_ => "", HocrText.extractText)

  /** Trees, html text, hOCR text and the hOCR model of the bytes `b`
    * against the String reference over `new String(b, UTF_8)` — what
    * `UTF8String.toString` reads — the texts compared as UTF-8 bytes,
    * through both kernel entries. The
    * UTF8String entry reads `b` in place at an offset, with `arena`
    * reused across documents as across a row's spans. */
  private def assertSameAsReference(b: Array[Byte], arena: Arena): Unit = {
    val s = new String(b, UTF_8)
    lazy val doc = s
    val padded = Array.fill[Byte](3)('#') ++ b
    val u = UTF8String.fromBytes(padded, 3, b.length)
    arena.load(u)
    assertSameTree(HtmlDom.parse(arena), RefHtmlDom.parse(s), doc)
    assertSameTree(HtmlDom.parse(s), RefHtmlDom.parse(s), doc)
    val html = RefBoilerplate.extractMainText(s).getBytes(UTF_8)
    assert(Boilerplate.extractMainText(s).getBytes(UTF_8).sameElements(html), doc.take(600))
    assert(SpanExtract.extractSpanText("html", u, null, arena).getBytes.sameElements(html), doc.take(600))
    val hocr = hocrRef(s).getBytes(UTF_8)
    assert(HocrText.fromMarkup(s).getBytes(UTF_8).sameElements(hocr), doc.take(600))
    assert(SpanExtract.extractSpanText("pdf_layout", u, null, arena).getBytes.sameElements(hocr), doc.take(600))
    // the hOCR model walks the same arena rules as the stitch: whole
    // models equal to the Node reference's
    val model = RefHocr.parseDom(RefHtmlDom.parse(s))
    assert(HocrParse.parse(arena) == model, doc.take(600))
    assert(HocrParse.parseHocrString(s) == model, doc.take(600))
  }

  test("property: arena trees and kernels == String reference on 1500 generated documents") {
    val arena = new Arena
    val docs = samples(genMarkup, 1500)
    docs.foreach(d => assertSameAsReference(d.getBytes(UTF_8), arena))
    // non-vacuous: kept html text, hOCR pages with words, surrogate and
    // Kelvin cases, raw-text closes spelled with the long s
    assert(docs.count(d => RefBoilerplate.extractMainText(d).nonEmpty) > 200)
    assert(docs.count(d => hocrRef(d).exists(_.isLetter)) > 50)
    assert(docs.count(d => RefBoilerplate.extractMainText(d).exists(Character.isSurrogate)) > 20)
    assert(docs.count(_.contains("\u212a")) > 50 && docs.count(_.contains("</\u017fcript>")) > 20)
  }

  /** Generated markup with invalid UTF-8 sequences cut in. */
  private val genInvalidUtf8: Gen[Array[Byte]] = {
    val junk = Seq(Array(0xFF), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80), Array(0xE2, 0x82), Array(0x80),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xF0, 0x9F, 0x98)).map(_.map(_.toByte))
    for {
      d <- genMarkup
      cuts <- Gen.listOfN(3, Gen.chooseNum(0, 1000))
      bad <- Gen.listOfN(3, Gen.oneOf(junk))
    } yield {
      val b = d.getBytes(UTF_8)
      cuts.zip(bad).sortBy(-_._1).foldLeft(b) { case (acc, (c, j)) =>
        val at = math.min(c, acc.length)
        acc.take(at) ++ j ++ acc.drop(at)
      }
    }
  }

  test("property: invalid UTF-8 is read as its U+FFFD normalization") {
    val arena = new Arena
    samples(genInvalidUtf8, 400).foreach(b => assertSameAsReference(b, arena))
  }

  /** Documents at the parser's extremes. */
  private lazy val extremes: Seq[String] = {
    val p = s"<p>$prose</p>"
    Seq(
      "<div>" * 10000 + p + "</div>" * 10000,
      "<div>" * 10000 + p + "</span>" * 10000 + "</div>" * 5000,
      "<li><a>" * 5000 + prose + "</a></li>" * 5000,
      "<div class='ocr_page'><span class='ocr_line'>" + "<b>" * 10000 +
        "<span class='ocrx_word'> deep </span>" + "</b>" * 10000 + "</span></div>",
      s"<div title='${"x" * 200000}'>$p</div>",
      s"<div class='ocr_page' id='${"&amp;" * 20000}'><span class='ocr_line' title=\"${"y" * 100000}\">" +
        "<span class='ocrx_word'>w</span></span></div>",
      s"$p<!-- ${"never closed " * 2000}",
      s"$p<script>${"var x = '</scr';" * 2000}",
      s"<p>${"&#+65;&#\u0661\u0662;&#xD800;&#x110000;" * 3000}</p>",
      "<p>" + "&#xD83D;&#xDE00;" * 5000 + "</p>" + "<P>" + "&#xDE00;&#xD83D;" * 5000 + "</P>",
      "<" * 20000 + p + "</" * 20000,
      "<div " + "a=b " * 20000 + ">" + p)
  }

  test("property: deep nesting, stray end tags, huge attributes, unterminated comments and raw text") {
    val arena = new Arena
    extremes.foreach(d => assertSameAsReference(d.getBytes(UTF_8), arena))
  }

  test("property: one arena over shuffled and large-before-small documents == a fresh arena per span") {
    // each document through every kernel (media reads it as its ref), the
    // kinds rotated per document, so every kernel follows every other
    val docs = (samples(genMarkup, 600).map(_.getBytes(UTF_8)) ++ samples(genInvalidUtf8, 200) ++
      extremes.map(_.getBytes(UTF_8))).toIndexedSeq
    val kinds = SpanExtract.TransformedKinds.toSeq
    def extract(kind: String, b: Array[Byte], arena: Arena): Array[Byte] = {
      val u = UTF8String.fromBytes(b)
      (if (kind == SpanExtract.Media) SpanExtract.extractSpanText(kind, null, u, arena)
      else SpanExtract.extractSpanText(kind, u, null, arena)).getBytes
    }
    val fresh = docs.map(b => kinds.map(k => extract(k, b, new Arena)))
    val rnd = new scala.util.Random(20261021L)
    Seq(
      "shuffled" -> rnd.shuffle(docs.indices.toVector),
      "large before small" -> docs.indices.toVector.sortBy(i => -docs(i).length)
    ).foreach { case (order, idx) =>
      val arena = new Arena
      idx.foreach { i =>
        kinds.indices.foreach { j =>
          val k = (i + j) % kinds.length
          assert(extract(kinds(k), docs(i), arena).sameElements(fresh(i)(k)),
            s"$order: ${kinds(k)} of ${new String(docs(i), UTF_8).take(600)}")
        }
      }
    }
    // non-vacuous: every kernel kept text from many documents
    kinds.indices.foreach(k => assert(fresh.count(_(k).nonEmpty) > 100, kinds(k)))
  }

  test("caseMatches is String.regionMatches(ignoreCase) for every char against a..z") {
    (0 until 0x10000).foreach { c =>
      ('a' to 'z').foreach { x =>
        assert(Arena.caseMatches(c.toChar, x) ==
          String.valueOf(c.toChar).regionMatches(true, 0, String.valueOf(x), 0, 1), f"U+$c%04X ~ $x")
      }
    }
  }
}
