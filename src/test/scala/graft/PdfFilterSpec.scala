package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Deflater

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.hocr.{HLine, HPage, HWord, Hocr}
import graft.model.BBox
import graft.pdf.{PdfFilters, PdfParse, PdfRender}

/** The non-Flate content-stream filters: known-answer vectors from the
  * public specs, random round-trips through our own encoders, filter
  * CHAINS, and an end-to-end page import (P-8) from an LZW-compressed
  * source — the class of old scanner output Flate-only parsing
  * rejected. */
class PdfFilterSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(7)
  private def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rng.nextBytes(b); b
  }

  test("ASCIIHex: known vector, whitespace, odd-digit padding, bad char") {
    assert(PdfFilters.asciiHexDecode("48 65 6c\n6C 6F>".getBytes(ISO_8859_1))
      .toOption.get.sameElements("Hello".getBytes(ISO_8859_1)))
    // odd trailing digit reads as high nibble (spec: pad with 0)
    assert(PdfFilters.asciiHexDecode("484>".getBytes(ISO_8859_1))
      .toOption.get.sameElements(Array[Byte](0x48, 0x40)))
    assert(PdfFilters.asciiHexDecode("4G>".getBytes(ISO_8859_1)).isLeft)
    (0 until 20).foreach { _ =>
      val b = randomBytes(rng.nextInt(100) + 1)
      assert(PdfFilters.asciiHexDecode(PdfFilters.asciiHexEncode(b)).toOption.get.sameElements(b))
    }
  }

  test("ASCII85: the classic 'Man ' vector, z-groups, partial groups, round-trips") {
    assert(PdfFilters.ascii85Decode("9jqo^~>".getBytes(ISO_8859_1))
      .toOption.get.sameElements("Man ".getBytes(ISO_8859_1)))
    assert(PdfFilters.ascii85Decode("z~>".getBytes(ISO_8859_1))
      .toOption.get.sameElements(Array[Byte](0, 0, 0, 0)))
    assert(PdfFilters.ascii85Decode("x~>".getBytes(ISO_8859_1)).isLeft) // 'x' > 'u'
    (0 until 30).foreach { _ =>
      val b = randomBytes(rng.nextInt(120) + 1) // exercises all partial-group sizes
      assert(PdfFilters.ascii85Decode(PdfFilters.ascii85Encode(b)).toOption.get.sameElements(b))
    }
    // all-zero group must round-trip through 'z'
    val zeros = new Array[Byte](8)
    assert(new String(PdfFilters.ascii85Encode(zeros), ISO_8859_1) == "zz~>")
    assert(PdfFilters.ascii85Decode(PdfFilters.ascii85Encode(zeros)).toOption.get.sameElements(zeros))
    // group-value overflow: "s8W-!" is exactly 2^32-1 (valid boundary);
    // one digit past it exceeds 2^32-1 and is invalid per spec — must be
    // a parse error, never silent truncation to wrong bytes
    assert(PdfFilters.ascii85Decode("s8W-!~>".getBytes(ISO_8859_1))
      .toOption.get.sameElements(Array[Byte](-1, -1, -1, -1)))
    assert(PdfFilters.ascii85Decode("s8W-\"~>".getBytes(ISO_8859_1)).isLeft)
    assert(PdfFilters.ascii85Decode("uuuuu~>".getBytes(ISO_8859_1)).isLeft)
    // overflow in a trailing PARTIAL group (pads with 'u') errors too
    assert(PdfFilters.ascii85Decode("uu~>".getBytes(ISO_8859_1)).isLeft)
  }

  test("RunLength: literal + repeat runs, EOD, round-trips") {
    // 3 literal bytes then 4x 'A': [2, x,y,z, 253, 'A', 128]
    val enc = Array[Byte](2, 1, 2, 3, (257 - 4).toByte, 'A', 128.toByte)
    assert(PdfFilters.runLengthDecode(enc).toOption.get
      .sameElements(Array[Byte](1, 2, 3, 'A', 'A', 'A', 'A')))
    (0 until 20).foreach { _ =>
      val b = randomBytes(rng.nextInt(300) + 1)
      assert(PdfFilters.runLengthDecode(PdfFilters.runLengthEncode(b)).toOption.get.sameElements(b))
    }
  }

  test("LZW: the PDF-spec known-answer vector and encoder round-trips") {
    // PDF 32000-1 §7.4.4.2 example: '45 45 45 45 45 65 45 45 45 66'
    // encodes to codes 256,45,258,258,65,259,66,257 = bytes below
    val spec = Array(0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01).map(_.toByte)
    assert(PdfFilters.lzwDecode(spec).toOption.get
      .sameElements(Array[Byte](45, 45, 45, 45, 45, 65, 45, 45, 45, 66)))
    (0 until 10).foreach { _ =>
      // long enough to cross the 9->10-bit width boundary (258 + n codes)
      val b = randomBytes(rng.nextInt(600) + 300)
      assert(PdfFilters.lzwDecode(PdfFilters.lzwEncode(b)).toOption.get.sameElements(b))
    }
    // EarlyChange=0 shifts the width-bump point: an EC0 stream crossing
    // the boundary only decodes under the matching flag
    val long = randomBytes(400)
    val ec0 = PdfFilters.lzwEncode(long, earlyChange = false)
    assert(PdfFilters.lzwDecode(ec0, earlyChange = false).toOption.get.sameElements(long))
    assert(!PdfFilters.lzwDecode(ec0).toOption.exists(_.sameElements(long)))
    assert(PdfFilters.lzwDecode(Array[Byte](0xFF.toByte, 0xFF.toByte)).isLeft)
  }

  // ---- end to end: hand-built sources with exotic content filters ----

  private def page(words: Seq[String], pageNum: Int): HPage =
    HPage(id = s"page_$pageNum", pageNumber = pageNum, bbox = BBox(0, 0, 612, 792),
      lines = Vector(HLine(id = "l1", bbox = BBox(40, 80, 580, 98),
        words = words.zipWithIndex.map { case (w, i) =>
          HWord(id = s"w$i", text = w, bbox = BBox(40.0 + i * 90, 80.0, 120.0 + i * 90, 98.0))
        }.toVector)))

  /** Minimal classic-xref source whose content stream carries the given
    * filter names (already-encoded bytes supplied by the caller). */
  private def filteredSource(filterEntry: String, encoded: Array[Byte]): Array[Byte] = {
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>".getBytes(ISO_8859_1),
      "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>".getBytes(ISO_8859_1),
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << >> >>".getBytes(ISO_8859_1),
      (s"<< /Length ${encoded.length} /Filter $filterEntry >>\nstream\n".getBytes(ISO_8859_1) ++
        encoded ++ "\nendstream".getBytes(ISO_8859_1)))
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = objs.zipWithIndex.map { case (body, i) =>
      val off = out.size()
      w(s"${i + 1} 0 obj\n"); out.write(body); w("\nendobj\n")
      off
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(off => w("%010d 00000 n \n".formatLocal(java.util.Locale.ROOT, off.toLong)))
    w(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  test("LZW /DecodeParms /EarlyChange 0 decodes through the stream dict") {
    // long enough to cross the 9->10-bit boundary so the flag matters
    val content = ("BT /F9 12 Tf (early0word) Tj ET " + "Q q " * 200).getBytes(ISO_8859_1)
    val enc = PdfFilters.lzwEncode(content, earlyChange = false)
    // the builder injects this after "/Filter ", yielding both the
    // Filter and DecodeParms entries in the stream dict
    val src = filteredSource("/LZWDecode /DecodeParms << /EarlyChange 0 >>", enc)
    val doc = PdfParse.parse(src).toOption.get
    val got = doc.decodedStream(doc.pages.toOption.get.head.contentObjs.head).toOption.get
    assert(got.sameElements(content))
  }

  test("LZW content stream parses and page-imports end-to-end (P-8)") {
    val content = "BT /F9 12 Tf (lzwword) Tj ET".getBytes(ISO_8859_1)
    val src = filteredSource("/LZWDecode", PdfFilters.lzwEncode(content))
    val doc = PdfParse.parse(src).toOption.get
    val got = doc.decodedStream(doc.pages.toOption.get.head.contentObjs.head).toOption.get
    assert(got.sameElements(content))
    val out = PdfRender.modifyExistingPdf(src,
      Hocr(pages = Vector(page(Seq("newocr"), 1)))).toOption.get
    val s = new String(out.pdf, ISO_8859_1)
    assert(s.contains("(lzwword) Tj") && s.contains("(newocr) Tj"))
  }

  test("filter CHAIN [/ASCII85Decode /FlateDecode] decodes in order") {
    val content = "BT /F9 12 Tf (chained) Tj ET".getBytes(ISO_8859_1)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content); deflater.finish()
    val buf = new Array[Byte](1024)
    val n = deflater.deflate(buf); deflater.end()
    val encoded = PdfFilters.ascii85Encode(java.util.Arrays.copyOf(buf, n))
    val src = filteredSource("[/ASCII85Decode /FlateDecode]", encoded)
    val doc = PdfParse.parse(src).toOption.get
    val got = doc.decodedStream(doc.pages.toOption.get.head.contentObjs.head).toOption.get
    assert(got.sameElements(content))
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val buf = new Array[Byte](b.length * 2 + 64)
    val n = d.deflate(buf); d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** Forward-apply PNG "Up" (tag 2): what a /Predictor 12 writer emits
    * before compressing. */
  private def pngUpEncode(data: Array[Byte], cols: Int): Array[Byte] = {
    val nRows = data.length / cols
    val out = new Array[Byte](nRows * (cols + 1))
    var prev = new Array[Byte](cols)
    for (r <- 0 until nRows) {
      val row = java.util.Arrays.copyOfRange(data, r * cols, (r + 1) * cols)
      out(r * (cols + 1)) = 2
      for (i <- 0 until cols) out(r * (cols + 1) + 1 + i) = (row(i) - prev(i)).toByte
      prev = row
    }
    out
  }

  private def deflate(data: Array[Byte], dict: Option[Array[Byte]]): Array[Byte] = {
    val d = new Deflater()
    dict.foreach(d.setDictionary)
    d.setInput(data)
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("Flate with a preset dictionary (FDICT) is a clear error, not a hang") {
    val text = ("BT /F1 12 Tf (common words) Tj ET " * 20).getBytes(ISO_8859_1)
    val fdict = deflate(text, Some("common words".getBytes(ISO_8859_1)))
    // inflate runs on its own thread so that a hang fails the test
    // instead of stalling the suite
    implicit val signaler: Signaler = ThreadSignaler
    val got = failAfter(Span(10, Seconds)) {
      Await.result(Future(PdfParse.inflate(fdict))(ExecutionContext.global), Duration.Inf)
    }
    assert(got == Left("Flate stream needs a preset dictionary"))
    // without the dictionary the same text round-trips; cut short, it is
    // truncated
    val plain = deflate(text, None)
    assert(PdfParse.inflate(plain).toOption.get.sameElements(text))
    assert(PdfParse.inflate(plain.take(plain.length / 2)) == Left("truncated Flate stream"))
  }

  test("a 1000:1 Flate bomb is a clear error within 5 s, not a heap-sized array") {
    // 128 MiB of zeros, twice the bound, deflated in 1 MiB pieces
    val zeros = new Array[Byte](1 << 20)
    val d = new Deflater(Deflater.BEST_COMPRESSION)
    val bomb = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](1 << 16)
    def drain(): Unit = { var n = d.deflate(buf); while (n > 0) { bomb.write(buf, 0, n); n = d.deflate(buf) } }
    (0 until 128).foreach { _ => d.setInput(zeros); drain() }
    d.finish()
    while (!d.finished()) bomb.write(buf, 0, d.deflate(buf))
    d.end()
    val bytes = bomb.toByteArray
    assert(128L * (1 << 20) / bytes.length >= 1000, s"ratio of ${bytes.length} compressed bytes")
    implicit val signaler: Signaler = ThreadSignaler
    val got = failAfter(Span(5, Seconds)) {
      Await.result(Future(PdfParse.inflate(bytes))(ExecutionContext.global), Duration.Inf)
    }
    assert(got == Left(s"Flate output exceeds ${PdfParse.MaxInflated} bytes"))
    // a stream of exactly the bound still inflates
    val atBound = deflate(new Array[Byte](PdfParse.MaxInflated), None)
    assert(PdfParse.inflate(atBound).map(_.length) == Right(PdfParse.MaxInflated))
  }

  test("Flate + /Predictor 12 page content parses and page-imports end-to-end (P-8)") {
    // the real-corpus class the parser previously rejected: page content
    // written through a PNG Up predictor before FlateDecode
    val cols = 16
    val raw = "BT /F9 12 Tf (predword) Tj ET".getBytes(ISO_8859_1)
    val content = raw ++ Array.fill((cols - raw.length % cols) % cols)(' '.toByte)
    val enc = deflate(pngUpEncode(content, cols))
    val src = filteredSource(s"/FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >>", enc)
    val doc = PdfParse.parse(src).toOption.get
    val got = doc.decodedStream(doc.pages.toOption.get.head.contentObjs.head).toOption.get
    assert(got.sameElements(content))
    val out = PdfRender.modifyExistingPdf(src,
      Hocr(pages = Vector(page(Seq("newocr"), 1)))).toOption.get
    val s = new String(out.pdf, ISO_8859_1)
    assert(s.contains("(predword) Tj") && s.contains("(newocr) Tj"))
  }

  test("TIFF /Predictor 2 and multi-byte-pixel PNG predictors round-trip") {
    // TIFF horizontal differencing, 3 components/pixel: forward-diff then
    // unpredict must restore
    val colors = 3
    val cols = 5
    val data = randomBytes(cols * colors * 4) // 4 rows
    val diffed = data.clone()
    for (r <- 0 until 4; i <- (cols * colors - 1) to colors by -1) {
      val off = r * cols * colors
      diffed(off + i) = (diffed(off + i) - data(off + i - colors)).toByte
    }
    assert(PdfParse.unpredict(diffed, 2, cols, colors = colors)
      .toOption.get.sameElements(data))
    // PNG Sub (tag 1) with bpp=3: left neighbor is i-3, not i-1
    val row = randomBytes(cols * colors)
    val enc = new Array[Byte](cols * colors + 1)
    enc(0) = 1
    for (i <- 0 until cols * colors) {
      val left = if (i >= colors) row(i - colors) & 0xFF else 0
      enc(1 + i) = (row(i) - left).toByte
    }
    assert(PdfParse.unpredict(enc, 11, cols, colors = colors)
      .toOption.get.sameElements(row))
    // sub-byte TIFF differencing stays a clear error
    assert(PdfParse.unpredict(diffed, 2, cols, colors = colors, bpc = 4).isLeft)
  }

  test("RunLength + ASCIIHex content streams decode; unknown filter stays a clear error") {
    val content = "BT (rlword) Tj ET".getBytes(ISO_8859_1)
    val srcRl = filteredSource("/RunLengthDecode", PdfFilters.runLengthEncode(content))
    val docRl = PdfParse.parse(srcRl).toOption.get
    assert(docRl.decodedStream(docRl.pages.toOption.get.head.contentObjs.head)
      .toOption.get.sameElements(content))
    val srcHex = filteredSource("/ASCIIHexDecode", PdfFilters.asciiHexEncode(content))
    val docHex = PdfParse.parse(srcHex).toOption.get
    assert(docHex.decodedStream(docHex.pages.toOption.get.head.contentObjs.head)
      .toOption.get.sameElements(content))
    val srcBad = filteredSource("/JPXDecode", content)
    val docBad = PdfParse.parse(srcBad).toOption.get
    docBad.decodedStream(docBad.pages.toOption.get.head.contentObjs.head) match {
      case Left(e) => assert(e.contains("unsupported content-stream filter"))
      case Right(_) => fail("JPX content filter must be rejected")
    }
  }

  test("DCTDecode streams decode to raw RGB samples via ImageIO (round-4 verdict #4)") {
    // a small gradient image, JPEG-encoded by the same ImageIO writer
    // the multimodal fixtures use
    val w0 = 8; val h0 = 6
    val img = new java.awt.image.BufferedImage(w0, h0,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h0; x <- 0 until w0)
      img.setRGB(x, y, ((x * 32) << 16) | ((y * 40) << 8) | 128)
    val jpeg = graft.multimodal.Multimodal.encodeImage(img, "jpg")
    assert((jpeg(0) & 0xFF) == 0xFF && (jpeg(1) & 0xFF) == 0xD8) // SOI

    // direct kernel: sample count and values match an independent decode
    val samples = PdfParse.dctDecode(jpeg).toOption.get
    assert(samples.length == w0 * h0 * 3)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    for (y <- 0 until h0; x <- 0 until w0) {
      val rgb = ref.getRGB(x, y)
      val o = (y * w0 + x) * 3
      assert((samples(o) & 0xFF) == ((rgb >> 16) & 0xFF))
      assert((samples(o + 1) & 0xFF) == ((rgb >> 8) & 0xFF))
      assert((samples(o + 2) & 0xFF) == (rgb & 0xFF))
    }

    // end-to-end: a parsed PDF's DCT-filtered stream decodes (formerly a
    // clear error), and garbage with a fake SOI is a clear error, not a
    // crash
    val src = filteredSource("/DCTDecode", jpeg)
    val doc = PdfParse.parse(src).toOption.get
    val got = doc.decodedStream(doc.pages.toOption.get.head.contentObjs.head)
    assert(got.toOption.get.sameElements(samples))
    assert(PdfParse.dctDecode("BT (x) Tj ET".getBytes(ISO_8859_1)).isLeft)
    assert(PdfParse.dctDecode(Array[Byte](0xFF.toByte, 0xD8.toByte, 1, 2, 3)).isLeft)
  }
}
