package graft

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.hocr.{HocrParse, HocrText}
import graft.html.HtmlDom
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
      n.data + n.attrs.map(_._1).mkString("[", ",", "]")).mkString(" "))

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
  }

  test("well-known names match ASCII case only, like lowerAscii") {
    def firstTag(s: String): String = HtmlDom.parse(s).children.head.data
    assert(firstTag("<DiV>x</DiV>") == "div")
    // 'İ' folds onto 'i' under case-insensitive regionMatches, but its
    // root-locale lowercase is "i̇": not the constant "div"
    assert(firstTag("<D\u0130V>x</D\u0130V>") == "di\u0307v")
    assert(HtmlDom.parse("<P CLASS=a>x</P>").children.head.attrs.toSeq == Seq("class" -> "a"))
  }
}
