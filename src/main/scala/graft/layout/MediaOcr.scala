package graft.layout

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.unsafe.types.UTF8String

import graft.html.Arena

/** Pure-JVM OCR-style layout classification for media spans (north rule:
  * the reference's one network boundary — the Document AI gRPC call,
  * /root/reference/pkg/gdocai/client.go:15-53 — is replaced by a
  * deterministic classifier so the engine has zero egress).
  *
  * Given a `media_ref`, synthesizes a Document-AI-shaped page (tokens with
  * anchors/bboxes/confidences/breaks, lines, paragraphs, blocks) exactly
  * like G-19's input shape, so the G-13 assembly + H-13 stitch run on it
  * unchanged. Deterministic: all choices derive from splitmix64 of the ref
  * bytes — same ref => same page on every executor.
  */
object MediaOcr {

  private[graft] val vocab: Array[String] = Array(
    "lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing",
    "elit", "sed", "tempor", "incididunt", "labore", "dolore", "magna",
    "aliqua", "enim", "minim", "veniam", "quis", "nostrud", "exercitation",
    "ullamco", "laboris", "nisi", "aliquip", "commodo", "consequat", "duis",
    "aute", "irure", "voluptate", "velit", "esse", "cillum", "fugiat",
    // non-BMP (plane-1 mathematical Fraktur, surrogate pairs in UTF-16):
    // keeps the G-6 codepoint-anchor arithmetic honest on the media path —
    // with this word present, any char-offset (UTF-16) slip corrupts every
    // downstream anchor and fails the golden fixture.
    "𝔤𝔯𝔞𝔣𝔱")

  /** [[vocab]] as UTF-8, what [[text]] writes. */
  private val vocabUtf8: Array[Array[Byte]] = vocab.map(_.getBytes(UTF_8))
  private val OrphanLine = "orphan line \n".getBytes(UTF_8)

  private val langs = Array("en", "de", "fr", "es")

  private final val HashSeed = 0x9E3779B97F4A7C15L

  /** splitmix64 over the UTF-8 bytes of `s` — stable across JVMs.
    * ASCII fast path hashes chars directly (for ASCII, char == UTF-8
    * byte) without materializing a byte[]. */
  def hash64(s: String): Long = {
    val n = s.length
    var ascii = true
    var i = 0
    while (ascii && i < n) { if (s.charAt(i) >= 0x80) ascii = false else i += 1 }
    if (!ascii) {
      val b = s.getBytes(UTF_8)
      return hash64(b, 0, b.length)
    }
    var h = HashSeed
    i = 0
    while (i < n) { h = mix(h, s.charAt(i).toLong); i += 1 }
    h
  }

  /** splitmix64 over the bytes `b(from until to)`. */
  def hash64(b: Array[Byte], from: Int, to: Int): Long = {
    var h = HashSeed
    var i = from
    while (i < to) { h = mix(h, b(i) & 0xFFL); i += 1 }
    h
  }

  private def mix(h0: Long, b: Long): Long = {
    var h = h0 ^ b
    h *= 0xBF58476D1CE4E5B9L
    h ^= (h >>> 27)
    h *= 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** The classifier's draws; an arena holds one for its media spans,
    * reseeded per span. */
  private[graft] final class Rng(private var state: Long) {
    def reset(seed: Long): Unit = state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** uniform in [0, n) */
    def int(n: Int): Int = (Math.floorMod(next(), n.toLong)).toInt
  }

  /** The stitch law: the text that `classify` -> G-13 assembly
    * (`Assembly.createHocrPage`) -> H-13 stitch (`HocrText.extractText`)
    * yields for `mediaRef`, computed from the Rng stream alone, with no
    * layout page, no hOCR page and no stitch. It makes exactly the draws
    * `classify` makes, in the same order, and keeps only the words:
    *
    *   for each line: every word ++ " ", then "\n"
    *   (+ the orphan paragraph's word ++ " \n", + "orphan line \n") ++ "\n\n"
    *
    * The law is exact because:
    *  - anchors nest exactly as generated, and containment is by anchor
    *    segment (ContainmentIndex), so reading order is generation order;
    *  - line ids are unique per (area, para, line), so the H-13 line
    *    dedup never fires;
    *  - cleanTokenText reduces every token slice to its vocabulary word
    *    (trimSpace strips the break char);
    *  - the two edge shapes, a paragraph in no block (about 1 in 7) and a
    *    line in no paragraph (about 1 in 11), come after the blocks, in
    *    that order.
    *
    * MediaTextSpec pins it equal to the model path; the
    * q_extract_media_text and q_extract_pdf_text oracles run the same law
    * as a DuckDB recursive CTE (MediaTextQ.machineCtes).
    *
    * The law is written once, as UTF-8 into an arena's output; this is a
    * wrapper over it. */
  def text(mediaRef: String): String = {
    val a = new Arena
    text(UTF8String.fromString(mediaRef), a)
    a.resultString()
  }

  /** [[text]] of `mediaRef` into `a`'s output ([[Arena.result]]), with
    * the arena's [[Rng]]: the ref's bytes are hashed as they stand,
    * after the U+FFFD normalization [[Arena.load]] applies, so the seed
    * is `hash64(mediaRef.toString)`; each word is copied from its
    * encoding in [[vocabUtf8]]. */
  def text(mediaRef: UTF8String, a: Arena): Unit = {
    a.source(mediaRef)
    val rng = a.rng
    rng.reset(hash64(a.src, a.srcStart, a.srcEnd))
    a.resetOut(256)
    rng.int(langs.length) // page language
    var blocks = 1 + rng.int(3)
    while (blocks > 0) {
      var paras = 1 + rng.int(2)
      while (paras > 0) {
        var lines = 1 + rng.int(3)
        while (lines > 0) {
          var tokens = 2 + rng.int(6)
          while (tokens > 0) {
            word(a, rng.int(vocab.length))
            rng.int(50) // confidence
            if (rng.int(5) == 0) rng.int(langs.length) // token language
            tokens -= 1
          }
          if (rng.int(4) == 0) rng.int(langs.length) // line language
          a.ensureOut(1); a.put('\n')
          lines -= 1
        }
        paras -= 1
      }
      blocks -= 1
    }
    if (rng.int(7) == 0) { word(a, rng.int(vocab.length)); a.ensureOut(1); a.put('\n') }
    if (rng.int(11) == 0) a.append(OrphanLine, 0, OrphanLine.length)
    a.ensureOut(2); a.put('\n'); a.put('\n')
  }

  /** Word `w` and a space. */
  private def word(a: Arena, w: Int): Unit = {
    val b = vocabUtf8(w)
    a.append(b, 0, b.length)
    a.ensureOut(1); a.put(' ')
  }

  /** Classification result: page text + the layout page (pageNumber=1). */
  final case class OcrResult(text: String, page: LPage)

  def classify(mediaRef: String): OcrResult = {
    val rng = new Rng(hash64(mediaRef))
    val dimW = 1000f
    val dimH = 1400f
    val pageLang = langs(rng.int(langs.length))

    val nBlocks = 1 + rng.int(3)
    val text = new StringBuilder
    // anchors are CODEPOINT offsets (G-6 rune slices, layout.go semantics),
    // NOT UTF-16 char offsets — they diverge once the vocab contains a
    // non-BMP word, so all segment positions track `rlen`, never
    // `text.length`.
    var rlen = 0
    def emit(s: String): Unit = { text.append(s); rlen += s.codePointCount(0, s.length) }
    val tokens = ArrayBuffer.empty[LToken]
    val lines = ArrayBuffer.empty[LLine]
    val paras = ArrayBuffer.empty[LPara]
    val blocks = ArrayBuffer.empty[LBlock]
    var y = 40f

    def vertsFor(x1: Float, y1: Float, x2: Float, y2: Float): Vector[(Float, Float)] =
      Vector((x1 / dimW, y1 / dimH), (x2 / dimW, y1 / dimH), (x2 / dimW, y2 / dimH), (x1 / dimW, y2 / dimH))

    for (_ <- 0 until nBlocks) {
      val blockStart = rlen
      val nParas = 1 + rng.int(2)
      for (_ <- 0 until nParas) {
        val paraStart = rlen
        val nLines = 1 + rng.int(3)
        for (_ <- 0 until nLines) {
          val lineStart = rlen
          val nTokens = 2 + rng.int(6)
          var x = 50f
          for (t <- 0 until nTokens) {
            val word = vocab(rng.int(vocab.length))
            val tokStart = rlen
            emit(word)
            val last = t == nTokens - 1
            emit(if (last) "\n" else " ")
            val tokEnd = rlen // anchor includes the break char, like DocAI
            val w = 18f * word.codePointCount(0, word.length)
            val conf = 0.5f + rng.int(50) / 100.0f
            val tokLangs = if (rng.int(5) == 0) Vector(langs(rng.int(langs.length))) else Vector.empty[String]
            tokens += LToken(
              layout = Some(LLayout(Vector(TextSegment(tokStart, tokEnd)), conf,
                vertsFor(x, y, x + w, y + 22f))),
              detectedLanguages = tokLangs,
              hasBreak = true)
            x += w + 12f
          }
          val lineLangs = if (rng.int(4) == 0) Vector(langs(rng.int(langs.length))) else Vector.empty[String]
          lines += LLine(
            layout = Some(LLayout(Vector(TextSegment(lineStart, rlen)), 0.9f,
              vertsFor(50f, y, 950f, y + 22f))),
            detectedLanguages = lineLangs)
          y += 28f
        }
        paras += LPara(Some(LLayout(Vector(TextSegment(paraStart, rlen)), 0.9f,
          vertsFor(48f, y - 28f * nLines - 2f, 952f, y + 2f))))
        y += 10f
      }
      blocks += LBlock(Some(LLayout(Vector(TextSegment(blockStart, rlen)), 0.9f,
        vertsFor(45f, y - 80f, 955f, y + 5f))))
      y += 20f
    }

    // Edge shapes (FIXTURES.md §3): occasionally a paragraph contained in
    // no block, and a line contained in no paragraph.
    if (rng.int(7) == 0) {
      val start = rlen
      val word = vocab(rng.int(vocab.length))
      emit(word); emit("\n")
      val tokEnd = rlen
      tokens += LToken(Some(LLayout(Vector(TextSegment(start, tokEnd)), 0.75f,
        vertsFor(50f, y, 200f, y + 22f))), Vector.empty, hasBreak = true)
      lines += LLine(Some(LLayout(Vector(TextSegment(start, tokEnd)), 0.8f,
        vertsFor(50f, y, 200f, y + 22f))))
      paras += LPara(Some(LLayout(Vector(TextSegment(start, tokEnd)), 0.8f,
        vertsFor(50f, y, 200f, y + 22f))))
      y += 30f
    }
    if (rng.int(11) == 0) {
      val start = rlen
      emit("orphan line\n")
      tokens += LToken(Some(LLayout(Vector(TextSegment(start, start + 7)), 0.6f,
        vertsFor(50f, y, 150f, y + 22f))), Vector.empty, hasBreak = false)
      tokens += LToken(Some(LLayout(Vector(TextSegment(start + 7, start + 12)), 0.6f,
        vertsFor(160f, y, 260f, y + 22f))), Vector.empty, hasBreak = true)
      lines += LLine(Some(LLayout(Vector(TextSegment(start, start + 12)), 0.7f,
        vertsFor(50f, y, 260f, y + 22f))))
      y += 30f
    }

    val fullText = text.toString
    val page = LPage(
      pageNumber = 1,
      dimW = dimW,
      dimH = dimH,
      layout = Some(LLayout(Vector(TextSegment(0, rlen)), 1.0f,
        vertsFor(0f, 0f, dimW, dimH))),
      detectedLanguages = Vector(pageLang),
      blocks = blocks.toVector,
      paragraphs = paras.toVector,
      lines = lines.toVector,
      tokens = tokens.toVector)
    OcrResult(fullText, page)
  }
}
