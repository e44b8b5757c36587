package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.hocr.{Hocr, HocrText}
import graft.html.Arena
import graft.layout.{Assembly, MediaOcr, RuneIndex}
import graft.pipeline.SpanExtract

/** The media-text stitch LAW that media extraction runs and the
  * q_extract_media_text oracle simulates: MediaOcr.text must equal the
  * MODEL path it replaces — classify -> G-13 assembly -> H-13 stitch —
  * for every ref. 100k refs in four shapes (the corpus's img://hex16,
  * CorpusGen's pdf://doc/i, random Unicode, short ASCII) plus "" make
  * both edge branches (orphan paragraph ~1/7, orphan line ~1/11) and the
  * non-BMP word fire thousands of times; a divergence in draw order,
  * containment, cleaning, or separators shifts every subsequent draw and
  * fails in bulk, not by luck. */
class MediaTextSpec extends AnyFunSuite {

  private def model(ref: String): String = {
    val r = MediaOcr.classify(ref)
    val page = Assembly.createHocrPage(r.page, new RuneIndex(r.text), 1)
    HocrText.extractText(Hocr(pages = Vector(page)))
  }

  /** A random string of valid code points, BMP and supplementary. */
  private def unicode(rnd: java.util.Random): String = {
    val sb = new java.lang.StringBuilder
    (0 until rnd.nextInt(24)).foreach { _ =>
      var cp = rnd.nextInt(0x30000)
      while (cp >= 0xD800 && cp <= 0xDFFF) cp = rnd.nextInt(0x30000)
      sb.appendCodePoint(cp)
    }
    sb.toString
  }

  private val Fraktur = "𝔤𝔯𝔞𝔣𝔱"

  test("MediaOcr.text == classify+assembly+stitch on 100k refs in four shapes (edges fired)") {
    val rnd = new java.util.Random(20261017L)
    val refs = Iterator.single("") ++ (0 until 25000).iterator.flatMap { i =>
      Seq(f"img://${MediaOcr.hash64(s"spec:$i")}%016x", s"pdf://${i / 7}/${i % 7}",
        unicode(rnd), "x" + i)
    }
    var n = 0
    var orphanParas = 0
    var orphanLines = 0
    var nonBmp = 0
    refs.foreach { ref =>
      val real = model(ref)
      val law = MediaOcr.text(ref)
      assert(law == real, s"ref=$ref\nlaw=<$law>\nreal=<$real>")
      n += 1
      // edge coverage, counted on the model output: the orphan line is
      // the only "orphan" word; the orphan paragraph is the only one-word
      // line (a block line has 2-7 words)
      val lines = real.stripSuffix("\n\n").split("\n").toSeq
      if (lines.last == "orphan line ") orphanLines += 1
      if (lines.filterNot(_ == "orphan line ").last.count(_ == ' ') == 1) orphanParas += 1
      if (real.contains(Fraktur)) nonBmp += 1
    }
    assert(n == 100001)
    info(s"$n refs: orphan paragraph $orphanParas, orphan line $orphanLines, non-BMP word $nonBmp")
    assert(orphanParas >= 100, s"orphan-paragraph branch fired only $orphanParas times")
    assert(orphanLines >= 100, s"orphan-line branch fired only $orphanLines times")
    assert(nonBmp >= 100, s"non-BMP word appeared in only $nonBmp texts")
  }

  test("non-BMP vocabulary word survives the stitch byte-for-byte") {
    // find a ref whose text contains the plane-1 Fraktur word and pin it:
    // any UTF-16/codepoint slip in RuneIndex/cleaning corrupts the match
    val hit = (0 until 3000).map(i => f"img://${MediaOcr.hash64(s"bmp:$i")}%016x")
      .find(r => model(r).contains(Fraktur))
    assert(hit.nonEmpty, "no ref produced the Fraktur word in 3,000 tries")
    val ref = hit.get
    assert(MediaOcr.text(ref) == model(ref))
    assert(MediaOcr.text(ref).split("[ \n]").contains(Fraktur))
  }

  test("the byte writer == fromString(text(ref.toString)) for ASCII, non-BMP and invalid-UTF-8 refs, one arena") {
    val arena = new Arena
    val rnd = new java.util.Random(20261021L)
    /** The ref's bytes at an offset in a larger array, as a column holds them. */
    def viaBytes(b: Array[Byte]): UTF8String =
      SpanExtract.extractSpanText("media", null, UTF8String.fromBytes(Array[Byte]('#', '#') ++ b, 2, b.length), arena)
    def check(b: Array[Byte]): Unit = {
      val ref = new String(b, UTF_8) // what UTF8String.toString reads
      assert(viaBytes(b) == UTF8String.fromString(MediaOcr.text(ref)), s"ref=$ref")
    }
    val ascii = (0 until 3000).map(i => f"img://${MediaOcr.hash64(s"bytes:$i")}%016x") ++
      Seq("", "x", "pdf://1/2") ++ (0 until 1000).map(i => s"pdf://$i/${i % 7}")
    val nonAscii = (0 until 1000).map(i => s"img://$Fraktur/$i") ++ (0 until 1000).map(_ => unicode(rnd))
    val junk = Seq(Array(0xFF), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80), Array(0xE2, 0x82), Array(0x80),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xF0, 0x9F, 0x98)).map(_.map(_.toByte))
    val invalid = (0 until 2000).map { i =>
      val b = (if (i % 2 == 0) ascii(i) else nonAscii(i)).getBytes(UTF_8)
      val at = rnd.nextInt(b.length + 1)
      b.take(at) ++ junk(i % junk.length) ++ b.drop(at)
    }
    (ascii ++ nonAscii).foreach(r => check(r.getBytes(UTF_8)))
    invalid.foreach(check)
    // non-vacuous: the refs hold what they claim, and the Fraktur word is written
    assert(invalid.forall(b => new String(b, UTF_8).contains("\uFFFD")))
    assert(nonAscii.count(_.exists(_ >= 0x80)) > 1500)
    assert((ascii ++ nonAscii).count(r => MediaOcr.text(r).contains(Fraktur)) > 100)
  }
}
