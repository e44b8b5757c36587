package graft.pdf

import java.util.regex.Pattern

import scala.collection.mutable

import graft.hocr.{HPage, HWord}
import graft.text.GoStrings

/** PDF-side operators — mirrors /root/reference/pkg/pdfocr: layer
  * detection, the OCR gate, and the drawWord geometry. Binary emission
  * lives in PdfRender (P-7 create, P-8 modify-with-background-import)
  * and the positioned-spans relation (queries/PositionedQ) exposes the
  * same geometry relationally. */
object PdfOps {

  /** detectPDFLayers (detect.go:10-69): six OCG regexes over the raw PDF
    * text, PDF-string unescape, UTF-16BE BOM decode, order-preserving
    * dedup. Empty input -> Left (the reference errors). */
  private val ocgPatterns: Seq[Pattern] = Seq(
    """/Type\s*/OCG\s*/Name\s*\(([^)]+)\)""",
    """/Title\s*\(([^)]+)\)""",
    """/OCG\s*<<[^>]*?/Name\s*\(([^)]+)\)""",
    """<</Type/OCG/Name\(([^)]+)\)""",
    """/OCProperties.*?/OCGs\s*\[\s*.*?/Name\s*\(([^)]+)\)""",
    """/Name\s*\(([^)]+)\)[\s\S]{1,50}/Type\s*/OCG""").map(Pattern.compile)

  def detectPdfLayers(pdfData: Array[Byte]): Either[String, Vector[String]] = {
    if (pdfData.isEmpty) return Left("empty PDF data")
    val content = new String(pdfData, java.nio.charset.StandardCharsets.ISO_8859_1)
    val layers = mutable.ArrayBuffer.empty[String]
    ocgPatterns.foreach { p =>
      val m = p.matcher(content)
      while (m.find()) {
        if (m.groupCount() >= 1) layers += GoStrings.unescapePdfString(m.group(1))
      }
    }
    // UTF-16 BOM decode (detect.go:50-57) — bytes taken Latin-1 wise,
    // matching Go's []byte(layer) on the raw-extracted string
    val decoded = layers.map { l =>
      if (l.length >= 2 && l.charAt(0) == 'þ' && l.charAt(1) == 'ÿ')
        GoStrings.decodeUtf16beNaive(
          l.toCharArray.map(c => (c & 0xFF).toByte)).getOrElse(l)
      else l
    }
    // order-preserving dedup (detect.go:59-67)
    val seen = mutable.HashSet.empty[String]
    Right(decoded.filter(seen.add).toVector)
  }

  final case class LayerCheckResult(
      layers: Vector[String],
      hasOcrLayer: Boolean,
      ocrLayerName: String,
      warnings: Vector[String])

  /** CheckExistingOCRLayers (detect.go:80-120): exact match OR
    * `^{name}\s*\(Page\s*\d+.*`; layers containing "ocr" (case-insens)
    * not prefixed by the name -> warning. */
  def checkExistingOcrLayers(pdfData: Array[Byte], ocrLayerName: String): Either[String, LayerCheckResult] =
    detectPdfLayers(pdfData).map { layers =>
      val pageLayer = Pattern.compile("^" + Pattern.quote(ocrLayerName) + """\s*\(Page\s*\d+.*""")
      var has = false
      var name = ""
      val warnings = Vector.newBuilder[String]
      var stop = false
      layers.foreach { layer =>
        if (!stop) {
          if (layer == ocrLayerName || pageLayer.matcher(layer).matches()) {
            has = true; name = layer; stop = true
          } else if (layer.toLowerCase(java.util.Locale.ROOT).contains("ocr") && !layer.startsWith(ocrLayerName)) {
            warnings += s"Existing layer detected that might contain OCR: $layer"
          }
        }
      }
      LayerCheckResult(layers, has, name, warnings.result())
    }

  final case class OcrDetectionResult(
      hasOcr: Boolean,
      hasLayerOcr: Boolean,
      layerInfo: LayerCheckResult,
      warnings: Vector[String])

  /** DetectOCR (detect.go:133-166). */
  def detectOcr(pdfData: Array[Byte], layerName: String): OcrDetectionResult =
    checkExistingOcrLayers(pdfData, layerName) match {
      case Left(err) =>
        OcrDetectionResult(hasOcr = false, hasLayerOcr = false,
          LayerCheckResult(Vector.empty, hasOcrLayer = false, "", Vector.empty),
          Vector(s"Layer detection error: $err"))
      case Right(info) =>
        var warnings = info.warnings
        if (!info.hasOcrLayer && info.warnings.exists(_.contains("might contain OCR")))
          warnings = warnings :+ "Potential OCR layers were detected"
        OcrDetectionResult(info.hasOcrLayer, info.hasOcrLayer, info, warnings)
    }

  /** Font model (config.go:37-49 defaults: Helvetica 10, AscentRatio
    * 0.718). GetStringWidth is fpdf font-metric dependent; our
    * deterministic stand-in is width = 0.5 * size * chars (documented
    * divergence — geometry FORMULA preserved, metric table synthetic). */
  final case class FontConfig(size: Double = 10.0, ascentRatio: Double = 0.718)

  final case class PositionedWord(
      text: String, x: Double, yBaseline: Double, width: Double,
      fontSize: Double, latin1Ok: Boolean, order: Int)

  final case class DrawResult(words: Vector[PositionedWord], encodingErrors: Int, wordCount: Int) {
    /** drawOCRLayer's error rule (layer.go:104-107). */
    def tooManyEncodingErrors: Boolean =
      wordCount > 0 && encodingErrors > 0 && encodingErrors > wordCount / 10
  }

  /** drawOCRLayer word emission (layer.go:42-99) — NOTE this ordering
    * differs from the H-13 text order: within areas it is direct words ->
    * lines -> paragraphs(direct words -> lines). Geometry per drawWord
    * (layer.go:113-144): width from transformed (x1,y1)/(x2,y1), font
    * scaled to fit, baseline y += fontSize * AscentRatio. */
  def drawPage(
      page: HPage,
      transform: (Double, Double) => (Double, Double),
      font: FontConfig = FontConfig()): DrawResult = {
    val out = Vector.newBuilder[PositionedWord]
    var encodingErrors = 0
    var wordCount = 0

    def draw(word: HWord): Unit = {
      val (x, y0) = transform(word.bbox.x1, word.bbox.y1)
      val (x2, _) = transform(word.bbox.x2, word.bbox.y1)
      val wordWidth = x2 - x
      val ok = GoStrings.latin1Encodable(word.text)
      if (!ok) encodingErrors += 1
      val strWidth = 0.5 * font.size * word.text.length
      val fontSize = if (strWidth > 0) font.size * (wordWidth / strWidth) else font.size
      val y = y0 + fontSize * font.ascentRatio
      out += PositionedWord(word.text, x, y, wordWidth, fontSize, ok, wordCount)
      wordCount += 1
    }

    page.areas.foreach { area =>
      area.words.foreach(draw)
      area.lines.foreach(_.words.foreach(draw))
      area.paragraphs.foreach { p =>
        p.words.foreach(draw)
        p.lines.foreach(_.words.foreach(draw))
      }
    }
    page.paragraphs.foreach { p =>
      p.words.foreach(draw)
      p.lines.foreach(_.words.foreach(draw))
    }
    page.lines.foreach(_.words.foreach(draw))
    DrawResult(out.result(), encodingErrors, wordCount)
  }

  /** normalizeCoords (helpers.go:12-16). */
  def normalizeCoords(x: Double, y: Double, hocrW: Double, hocrH: Double,
      pdfW: Double, pdfH: Double): (Double, Double) =
    ((x / hocrW) * pdfW, (y / hocrH) * pdfH)

  /** detectImageType (create.go:68-74) via magic bytes. */
  def detectImageType(data: Array[Byte]): Option[String] = {
    def starts(sig: Int*): Boolean =
      data.length >= sig.length && sig.zipWithIndex.forall { case (b, i) => (data(i) & 0xFF) == b }
    if (starts(0x89, 0x50, 0x4E, 0x47)) Some("PNG")
    else if (starts(0xFF, 0xD8, 0xFF)) Some("JPEG")
    else if (starts(0x47, 0x49, 0x46)) Some("GIF")
    else None
  }

  /** Layer naming (layer.go:24-27). */
  def layerName(base: String, pageNum: Int): String =
    if (pageNum > 0) s"$base (Page $pageNum)" else base
}
