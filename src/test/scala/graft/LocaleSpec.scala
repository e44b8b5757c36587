package graft

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.hocr.{HocrParse, HocrText}
import graft.html.{Arena, HtmlDom}
import graft.pipeline.SpanExtract
import graft.text.GoStrings

/** Extraction must not depend on the JVM default locale: under a
  * Turkish default, `"DIV".toLowerCase` is "dıv" (dotless ı), so a
  * locale-sensitive DOM would find no hOCR page and keep <SCRIPT> text.
  * Suites share one forked JVM, so the default is restored afterwards. */
class LocaleSpec extends AnyFunSuite {

  private val hocr =
    "<DIV CLASS='ocr_page' ID='p1'><SPAN CLASS='ocr_line' ID='L1'>" +
      "<SPAN CLASS='ocrx_word' TITLE='bbox 1 2 3 4'>Hi</SPAN></SPAN></DIV>"
  // SCRIPT is a well-known name (matched as ASCII); NOSCRIPT and ITEMID
  // take the general lowercasing path
  private val html =
    "<HTML><BODY><SCRIPT>var hidden = 'script text must never be extracted';</SCRIPT>" +
      "<NOSCRIPT>noscript text must never be extracted either</NOSCRIPT>" +
      "<DIV ID='main' ITEMID='x'><P>The main article paragraph is long enough to be kept by the " +
      "boilerplate filter as prose content.</P></DIV></BODY></HTML>"
  private val sniffed =
    "<meta content=\"text/html; charset=UTF-8\"><title>é</title>".getBytes(StandardCharsets.UTF_8)

  private def outputs: Seq[String] = Seq(
    SpanExtract.extractSpanText("pdf_layout", hocr, ""),
    HocrParse.parseHocrString(hocr).fold(_ => "", HocrText.extractText),
    SpanExtract.extractSpanText("html", html, ""),
    GoStrings.decodeWithSniff(sniffed),
    HtmlDom.parse(html).children.head.children.head.children.map(n =>
      n.data + n.attrs.map(_._1).mkString("[", ",", "]")).mkString(" "),
    // the UTF8String entry, one arena for both kinds
    SpanExtract.extractSpanText("pdf_layout", UTF8String.fromString(hocr), null, arena).toString,
    SpanExtract.extractSpanText("html", UTF8String.fromString(html), null, arena).toString)

  private val arena = new Arena

  private def underLocale[T](locale: Locale)(body: => T): T = {
    val categories = Locale.Category.values.toSeq
    val saved = (Locale.getDefault, categories.map(Locale.getDefault))
    Locale.setDefault(locale)
    try body
    finally {
      Locale.setDefault(saved._1)
      categories.zip(saved._2).foreach { case (c, l) => Locale.setDefault(c, l) }
    }
  }

  test("uppercase hOCR and HTML extract the same under a Turkish default locale") {
    val root = underLocale(Locale.ROOT)(outputs)
    val turkish = underLocale(Locale.forLanguageTag("tr-TR")) {
      assert("I".toLowerCase == "ı") // the locale really is in effect
      outputs
    }
    assert(turkish == root)
    assert(root(0) == "Hi \n\n\n")
    assert(root(1) == root(0))
    assert(root(2).contains("main article paragraph"))
    assert(!root(2).contains("script text"))
    assert(root(4) == "script[] noscript[] div[id,itemid]")
    assert(root(3).contains("<title>é<")) // read as UTF-8, not re-decoded as Latin-1
    assert(root(5) == root(0) && root(6) == root(2))
  }

  test("well-known names match ASCII case only, like lowerAscii") {
    def firstTag(s: String): String = HtmlDom.parse(s).children.head.data
    assert(firstTag("<DiV>x</DiV>") == "div")
    // 'İ' folds onto 'i' under case-insensitive regionMatches, but its
    // root-locale lowercase is "i̇": not the constant "div"
    assert(firstTag("<D\u0130V>x</D\u0130V>") == "di\u0307v")
    assert(HtmlDom.parse("<P CLASS=a>x</P>").children.head.attrs.toSeq == Seq("class" -> "a"))
  }

  test("root-locale and regionMatches folds reach the byte tokenizer: Kelvin sign, long s, dotted I") {
    // U+212A KELVIN SIGN lowercases to 'k': a block element, through
    // both kernel entries
    val prose = "a paragraph of prose that is long enough to be kept"
    val quoted = s"<div>$prose<BLOC\u212aQUOTE>$prose</BLOC\u212aQUOTE></div>"
    assert(HtmlDom.parse(quoted).children.head.children(1).data == "blockquote")
    assert(SpanExtract.extractSpanText("html", quoted, "") == s"$prose\n$prose")
    assert(SpanExtract.extractSpanText("html", UTF8String.fromString(quoted), null, arena).toString ==
      s"$prose\n$prose")
    // regionMatches(ignoreCase) folds U+017F onto 's' and U+0130 onto
    // 'i': each closes <script>, so the paragraph after it is content
    Seq("</\u017fcript>", "</SCR\u0130PT>").foreach { close =>
      val html = s"<script>var x = 1;$close<p>$prose</p>"
      assert(HtmlDom.parse(html).children.map(_.data) == Seq("script", "p"), close)
      assert(SpanExtract.extractSpanText("html", UTF8String.fromString(html), null, arena).toString == prose)
    }
  }
}
