package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.hocr.{HocrParse, HocrText}

/** Differential law for the model-free hOCR text path:
  * `HocrText.fromMarkup(s) == parseHocrString(s).fold(_ => "", extractText)`
  * on generated hOCR and on every pdf_layout span of the sf0.001 corpus.
  * Generators are seeded and sampled explicitly (no scalatestplus
  * bridge offline), as in PropertySpec. */
class HocrMarkupSpec extends AnyFunSuite {

  private def viaModel(s: String): String =
    HocrParse.parseHocrString(s).fold(_ => "", HocrText.extractText)

  private val params = Gen.Parameters.default.withSize(10)
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(params, Seed(7000L + i), retries = 200))

  private val genText: Gen[String] = Gen.oneOf(
    "w", "two words", "  padded  ", "\n  ", " ", "x&amp;y", "&lt;b&gt;", "é€中", "")

  /** Class values, multi-class ones included: the first bucket a value
    * contains wins, so "ocr_line ocrx_word" is a line in a page, area or
    * paragraph and a word inside a line. */
  private val genClass: Gen[String] = Gen.frequency(
    3 -> Gen.const(""),
    1 -> Gen.const(" class=''"),
    1 -> Gen.const(" class='other'"),
    2 -> Gen.const(" class='ocr_carea'"),
    2 -> Gen.const(" class='ocr_par'"),
    4 -> Gen.const(" class='ocr_line'"),
    6 -> Gen.const(" class='ocrx_word'"),
    1 -> Gen.const(" class='ocr_line ocrx_word'"),
    1 -> Gen.const(" class='ocr_par ocr_line'"),
    1 -> Gen.const(" class='ocr_carea ocrx_word'"),
    1 -> Gen.const(" class='ocr_page'"),
    1 -> Gen.const(" class='ocr_line' class='ocrx_word'"))

  /** Missing, empty, colliding and repeated ids (processLine keeps the
    * last `id`, Node.attr returns the first). */
  private val genIds: Gen[String] = Gen.frequency(
    3 -> Gen.const(""),
    1 -> Gen.const(" id=''"),
    4 -> Gen.oneOf("a", "b", "c").map(id => s" id='$id'"),
    2 -> Gen.zip(Gen.oneOf("a", "b", ""), Gen.oneOf("a", "c", "")).map { case (x, y) =>
      s" id='$x' id='$y'" })

  private val genTitle: Gen[String] = Gen.oneOf(
    "", " title='bbox 1 2 3 4; x_wconf 91'", " title='bbox x; lang deu;;'")

  private def genNode(depth: Int): Gen[String] =
    if (depth <= 0) genText
    else Gen.frequency(
      3 -> genText,
      8 -> genElem(depth),
      1 -> Gen.oneOf("</span>", "</div>", "</p>")) // stray end tags

  private def genElem(depth: Int): Gen[String] = for {
    tag <- Gen.oneOf("span", "div", "p", "em")
    cls <- genClass
    ids <- genIds
    title <- genTitle
    n <- Gen.chooseNum(0, 4)
    kids <- Gen.listOfN(n, Gen.lzy(genNode(depth - 1)))
    closed <- Gen.frequency(9 -> true, 1 -> false) // unclosed elements
  } yield s"<$tag$cls$ids$title>${kids.mkString}" + (if (closed) s"</$tag>" else "")

  private def genPage(depth: Int): Gen[String] = for {
    n <- Gen.chooseNum(0, 5)
    kids <- Gen.listOfN(n, genNode(depth))
    closed <- Gen.frequency(9 -> true, 1 -> false)
  } yield s"<div class='ocr_page' id='page_1' title='bbox 0 0 100 100'>${kids.mkString}" +
    (if (closed) "</div>" else "")

  /** Zero to three pages (nested pages arise from unclosed ones and
    * from the ocr_page class inside a page) among loose nodes. */
  private val genDoc: Gen[String] = for {
    n <- Gen.chooseNum(0, 3)
    pages <- Gen.listOfN(n, genPage(4))
    loose <- Gen.listOfN(2, genNode(2))
  } yield s"<html><body>${loose.head}${pages.mkString}${loose(1)}</body></html>"

  test("fromMarkup == parse + extractText on 600 generated hOCR documents") {
    val docs = samples(genDoc, 600)
    docs.foreach(s => assert(HocrText.fromMarkup(s) == viaModel(s), s))
    // non-vacuous: pages with text, page-less input, and line-id collisions
    val outs = docs.map(HocrText.fromMarkup)
    assert(outs.count(_.exists(_.isLetter)) > 100)
    assert(docs.count(d => HocrParse.parseHocrString(d).isLeft) > 50)
    assert(docs.count(d => d.contains("id='a' id=")) > 20)
  }

  test("fromMarkup pins: ids, word placement, loose text, malformed and page-less input") {
    val cases = Seq(
      // duplicate line ids: the second line 'a' is dropped; missing ids
      // all collide on "" after the first
      "<div class='ocr_page'><span class='ocr_line' id='a'><span class='ocrx_word'>one</span></span>" +
        "<span class='ocr_line' id='a'><span class='ocrx_word'>dup</span></span>" +
        "<span class='ocr_line'><span class='ocrx_word'>x</span></span>" +
        "<span class='ocr_line' id=''><span class='ocrx_word'>y</span></span></div>" ->
        "one \nx \n\n\n",
      // repeated id attribute: the LAST one is the line id
      "<div class='ocr_page'><span class='ocr_line' id='a' id='b'><span class='ocrx_word'>1</span></span>" +
        "<span class='ocr_line' id='b'><span class='ocrx_word'>2</span></span>" +
        "<span class='ocr_line' id='a'><span class='ocrx_word'>3</span></span></div>" ->
        "1 \n3 \n\n\n",
      // multi-class: a line in the page, a word inside a line
      "<div class='ocr_page'><span class='ocr_line ocrx_word' id='l'>" +
        "<span class='ocr_line ocrx_word'>w</span></span></div>" -> "w \n\n\n",
      // words directly in an area and a paragraph; text outside words
      "<div class='ocr_page'><div class='ocr_carea'>loose<span class='ocrx_word'>aw</span>" +
        "<p class='ocr_par'><span class='ocrx_word'> pw </span>more</p></div></div>" ->
        "pw \naw \n\n\n",
      // unclosed word and stray end tags
      "<div class='ocr_page'><span class='ocr_line'></p><span class='ocrx_word'>u<b>v</b>" +
        "</div>" -> "uv \n\n\n",
      // nested and multiple pages
      "<div class='ocr_page'><div class='ocr_page'><span class='ocr_line'>" +
        "<span class='ocrx_word'>in</span></span></div></div>" +
        "<div class='ocr_page'></div>" -> "in \n\n\n\n\n",
      // no page
      "<span class='ocr_line'><span class='ocrx_word'>none</span></span>" -> "",
      "" -> "")
    cases.foreach { case (s, expected) =>
      assert(viaModel(s) == expected, s)
      assert(HocrText.fromMarkup(s) == expected, s)
    }
  }

  test("fromMarkup == parse + extractText on every pdf_layout span of sf0.001") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val texts = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
      .selectExpr("explode(spans) AS s").filter("s.kind = 'pdf_layout'")
      .selectExpr("s.text").collect().map(_.getString(0))
    assert(texts.length > 100)
    texts.foreach(s => assert(HocrText.fromMarkup(s) == viaModel(s)))
    assert(texts.forall(s => HocrText.fromMarkup(s).nonEmpty))
  }
}
