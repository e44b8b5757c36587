package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Inflater

import scala.collection.mutable

/** Minimal PDF object-model parser — enough of the public PDF spec to
  * IMPORT pages from an existing PDF (the gofpdi role in the
  * reference's modifyExistingPDF, modify.go:14-51): classic `xref`
  * tables (incl. /Prev chains), PDF 1.5 cross-reference STREAMS
  * (/Type /XRef, FlateDecode + PNG predictors, /Index subsections,
  * hybrid /XRefStm), all object types, stream payloads, and FlateDecode
  * content streams via the JVM's built-in Inflater.
  *
  * OBJECT streams (/Type /ObjStm — the compressed-object containers of
  * fully-compressed PDF 1.5 files) are read too: type-2 xref entries
  * resolve through their container's /N+/First header into plain direct
  * values (streams inside object streams are forbidden by spec, so
  * nothing is lost). ENCRYPTED files (standard security handler: RC4
  * V1/V2 R2/R3, AES-128 /AESV2 V4/R4, AES-256 /AESV3 V5/R5-6 — the
  * "owner password only" class that opens without a prompt) decrypt
  * transparently during parse via [[PdfCrypt]]. CONTENT streams decode
  * through the full standard filter set — Flate, ASCIIHex, ASCII85,
  * RunLength, LZW ([[PdfFilters]]) — including filter chains and
  * /DecodeParms predictors (PNG 10-15 and TIFF 2) on the Flate/LZW
  * stages, sharing the xref-stream `unpredict` path.
  * Deliberately NOT a full interpreter: non-Standard (certificate)
  * security handlers and the JPEG2000/G4 image codecs (JPX/CCITT) as
  * content filters are rejected with a clear error — DCTDecode (plain
  * JPEG) decodes via the JDK ImageIO path ([[dctDecode]]); resource
  * streams — images etc. — are still copied byte-verbatim whatever
  * their filter, no decode needed. That covers
  * every PDF this engine itself emits plus the classic, xref-stream,
  * fully-compressed and password-protected classes of scanner output
  * the reference tool targets.
  */
object PdfParse {

  sealed trait PVal
  /** Number kept in its raw textual form so re-serialization is exact. */
  final case class PNum(raw: String) extends PVal {
    def toDouble: Double = raw.toDouble
    def toInt: Int = raw.toDouble.toInt
  }
  final case class PName(raw: String) extends PVal // without the leading /
  final case class PLit(inner: String) extends PVal // literal string, escapes kept raw
  final case class PHex(inner: String) extends PVal
  final case class PArr(items: Vector[PVal]) extends PVal
  final case class PDict(entries: Vector[(String, PVal)]) extends PVal {
    def get(k: String): Option[PVal] = entries.find(_._1 == k).map(_._2)
  }
  final case class PRef(num: Int, gen: Int) extends PVal
  final case class PKw(kw: String) extends PVal // true | false | null

  final case class PObjDef(num: Int, value: PVal, stream: Option[Array[Byte]])

  final case class SrcPage(
      dict: PDict,
      mediaBox: Option[(Double, Double, Double, Double)],
      resources: Option[PVal], // resolved one level: PDict (or whatever /Resources held)
      rotate: Int,
      contentObjs: Vector[Int])

  final case class PdfDoc(objects: Map[Int, PObjDef], trailer: PDict) {

    def resolve(v: PVal): PVal = v match {
      case PRef(n, _) => objects.get(n).map(o => resolve(o.value)).getOrElse(PKw("null"))
      case x => x
    }

    /** Leaf pages in tree order with MediaBox/Resources/Rotate
      * inheritance from /Pages nodes (PDF 1.4 spec §3.6.2). */
    def pages: Either[String, Vector[SrcPage]] = {
      val root = trailer.get("Root").map(resolve) match {
        case Some(d: PDict) => d
        case _ => return Left("no /Root catalog")
      }
      val out = Vector.newBuilder[SrcPage]
      val seen = mutable.HashSet.empty[Int]
      def walk(node: PVal, inhMedia: Option[PVal], inhRes: Option[PVal], inhRot: Option[PVal]): Either[String, Unit] = {
        node match {
          case PRef(n, _) =>
            if (!seen.add(n)) return Left("cycle in page tree")
            walk(resolve(node), inhMedia, inhRes, inhRot)
          case d: PDict =>
            val media = d.get("MediaBox").orElse(inhMedia)
            val res = d.get("Resources").orElse(inhRes)
            val rot = d.get("Rotate").orElse(inhRot)
            resolve(d.get("Type").getOrElse(PKw("null"))) match {
              case PName("Pages") =>
                resolve(d.get("Kids").getOrElse(PArr(Vector.empty))) match {
                  case PArr(kids) =>
                    kids.foreach { k => walk(k, media, res, rot) match {
                      case l @ Left(_) => return l
                      case _ =>
                    } }
                    Right(())
                  case _ => Left("/Kids is not an array")
                }
              case PName("Page") =>
                val mb = media.map(resolve).flatMap {
                  case PArr(Vector(a: PNum, b: PNum, c: PNum, e: PNum)) =>
                    val (x1, x2) = (math.min(a.toDouble, c.toDouble), math.max(a.toDouble, c.toDouble))
                    val (y1, y2) = (math.min(b.toDouble, e.toDouble), math.max(b.toDouble, e.toDouble))
                    Some((x1, y1, x2, y2))
                  case _ => None
                }
                val contents = d.get("Contents").map(resolve) match {
                  case Some(PArr(items)) => items.collect { case PRef(n, _) => n }
                  case Some(_) => d.get("Contents") match {
                    case Some(PRef(n, _)) => Vector(n)
                    case _ => Vector.empty[Int]
                  }
                  case None => Vector.empty[Int]
                }
                val rotInt = rot.map(resolve) match {
                  case Some(n: PNum) => n.toInt
                  case _ => 0
                }
                out += SrcPage(d, mb, res.map(resolve), rotInt, contents)
                Right(())
              case _ => Left("page-tree node without /Type /Page(s)")
            }
          case _ => Left("page-tree node is not a dictionary")
        }
      }
      root.get("Pages") match {
        case Some(p) => walk(p, None, None, None).map(_ => out.result())
        case None => Left("catalog has no /Pages")
      }
    }

    /** Decoded bytes of one content-stream object: raw if no /Filter,
      * else the full filter CHAIN applied in order — FlateDecode,
      * ASCIIHexDecode, ASCII85Decode, RunLengthDecode, LZWDecode
      * (PdfFilters) — with /DecodeParms predictors (PNG 10-15, TIFF 2)
      * un-applied after their Flate/LZW stage via the same `unpredict`
      * the xref-stream reader uses. DCTDecode (JPEG) decodes to raw
      * samples via [[dctDecode]]; the JPX/CCITT image codecs are errors
      * (image XObjects are copied verbatim elsewhere, never routed
      * here). */
    def decodedStream(objNum: Int): Either[String, Array[Byte]] =
      objects.get(objNum) match {
        case Some(PObjDef(_, d: PDict, Some(data))) =>
          val names: Either[String, Vector[String]] =
            resolve(d.get("Filter").getOrElse(PKw("null"))) match {
              case PKw("null") => Right(Vector.empty)
              case PName(n) => Right(Vector(n))
              case PArr(items) =>
                items.map(resolve).foldLeft(Right(Vector.empty): Either[String, Vector[String]]) {
                  case (Right(acc), PName(n)) => Right(acc :+ n)
                  case (Right(_), other) => Left(s"non-name entry $other in /Filter array")
                  case (l, _) => l
                }
              case f => Left(s"unsupported /Filter value $f")
            }
          // /DecodeParms aligned per filter (a bare dict applies to a
          // single filter; an array runs parallel to the /Filter array)
          val parmsList: Vector[Option[PDict]] =
            resolve(d.get("DecodeParms").getOrElse(PKw("null"))) match {
              case pd: PDict => Vector(Some(pd))
              case PArr(items) => items.map(resolve).map {
                case pd: PDict => Some(pd)
                case _ => None
              }.toVector
              case _ => Vector.empty
            }
          def intParm(parms: Option[PDict], key: String, dflt: Int): Int =
            parms.flatMap(_.get(key).map(resolve))
              .collect { case n: PNum => n.toInt }.getOrElse(dflt)
          // predictors apply to the OUTPUT of the LZW/Flate stage that
          // carries the parms (PDF 32000-1 §7.4.4.4)
          def unpredicted(parms: Option[PDict],
              bytes: Array[Byte]): Either[String, Array[Byte]] =
            unpredict(bytes, intParm(parms, "Predictor", 1),
              intParm(parms, "Columns", 1), intParm(parms, "Colors", 1),
              intParm(parms, "BitsPerComponent", 8))
          def applyOne(name: String, parms: Option[PDict],
              bytes: Array[Byte]): Either[String, Array[Byte]] = name match {
            case "FlateDecode" => inflate(bytes).flatMap(unpredicted(parms, _))
            case "ASCIIHexDecode" => PdfFilters.asciiHexDecode(bytes)
            case "ASCII85Decode" => PdfFilters.ascii85Decode(bytes)
            case "RunLengthDecode" => PdfFilters.runLengthDecode(bytes)
            case "LZWDecode" =>
              val early = intParm(parms, "EarlyChange", 1)
              PdfFilters.lzwDecode(bytes, earlyChange = early != 0)
                .flatMap(unpredicted(parms, _))
            case "DCTDecode" => dctDecode(bytes)
            case other => Left(s"unsupported content-stream filter /$other")
          }
          names.flatMap(_.zipWithIndex.foldLeft(Right(data): Either[String, Array[Byte]]) {
            case (acc, (n, i)) => acc.flatMap(applyOne(n, parmsList.lift(i).flatten, _))
          })
        case Some(_) => Left(s"object $objNum is not a stream")
        case None => Left(s"missing content stream object $objNum")
      }
  }

  /** DCTDecode (PDF 32000-1 §7.4.8): decode a JPEG-compressed stream to
    * its raw sample data via the JDK ImageIO reader — the same zero-
    * dependency codec path the multimodal operators use (round-4 verdict
    * #4; formerly a clear error). Output is the decoded sample stream a
    * /DCTDecode consumer expects: row-major, 3 bytes/pixel RGB for color
    * images, 1 byte/pixel for grayscale. JPX/CCITT remain clear errors
    * (no JPEG2000/G4 codec ships with the JDK). */
  def dctDecode(bytes: Array[Byte]): Either[String, Array[Byte]] = {
    if (bytes.length < 2 || (bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8)
      return Left("DCT stream lacks the JPEG SOI marker")
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) Left("bad DCT (JPEG) stream")
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val gray = img.getColorModel.getNumColorComponents == 1
        if (gray) {
          val out = new Array[Byte](w * h)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(y * w + x) = raster.getSample(x, y, 0).toByte; x += 1 }
            y += 1
          }
          Right(out)
        } else {
          val out = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val o = (y * w + x) * 3
              out(o) = ((rgb >> 16) & 0xFF).toByte
              out(o + 1) = ((rgb >> 8) & 0xFF).toByte
              out(o + 2) = (rgb & 0xFF).toByte
              x += 1
            }
            y += 1
          }
          Right(out)
        }
      }
    } catch {
      case e: java.io.IOException => Left(s"bad DCT (JPEG) stream: ${e.getMessage}")
    }
  }

  /** The most bytes one Flate stream may inflate to. The sf0.1 PDF
    * queries inflate no stream at all (their PDFs are written
    * uncompressed), and the largest stream the test suite inflates is far
    * below this; a scanned page's raw image at 300 dpi RGB is about 25 MiB.
    * Past it a stream is a decompression bomb, and a span that carries
    * one must fail alone instead of taking the executor's heap. */
  final val MaxInflated: Int = 64 << 20

  def inflate(data: Array[Byte]): Either[String, Array[Byte]] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      // in Long: data.length * 4 overflows past 512 MiB of input
      val out = new java.io.ByteArrayOutputStream(math.min(data.length.toLong * 4, MaxInflated).toInt)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // a read that makes no progress never will: an FDICT stream
        // stalls here without asking for more input
        if (n == 0 && !inf.finished())
          return Left(if (inf.needsDictionary()) "Flate stream needs a preset dictionary"
            else "truncated Flate stream")
        if (out.size.toLong + n > MaxInflated) return Left(s"Flate output exceeds $MaxInflated bytes")
        out.write(buf, 0, n)
      }
      Right(out.toByteArray)
    } catch {
      case e: java.util.zip.DataFormatException => Left(s"bad Flate data: ${e.getMessage}")
    } finally inf.end()
  }

  // ---- lexer/parser over the Latin-1 view (char offset == byte offset) ----

  private final class P(val text: String, val bytes: Array[Byte]) {
    var pos: Int = 0
    /** Generation of the last object parseObjectAt read (decrypt salt). */
    var lastGen: Int = 0

    def eof: Boolean = pos >= text.length
    private def ch: Char = text.charAt(pos)
    private def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0
    private def isDelim(c: Char): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

    def skipWs(): Unit = {
      var go = true
      while (go && !eof) {
        if (isWs(ch)) pos += 1
        else if (ch == '%') { while (!eof && ch != '\n' && ch != '\r') pos += 1 }
        else go = false
      }
    }

    def expect(s: String): Either[String, Unit] =
      if (text.startsWith(s, pos)) { pos += s.length; Right(()) }
      else Left(s"expected '$s' at $pos, found '${text.slice(pos, pos + 20)}'")

    def parseValue(): Either[String, PVal] = {
      skipWs()
      if (eof) return Left("unexpected end of data")
      ch match {
        case '<' if pos + 1 < text.length && text.charAt(pos + 1) == '<' =>
          pos += 2
          val entries = Vector.newBuilder[(String, PVal)]
          var done = false
          while (!done) {
            skipWs()
            if (text.startsWith(">>", pos)) { pos += 2; done = true }
            else if (eof) return Left("unterminated dictionary")
            else if (ch == '/') {
              val key = parseNameRaw()
              parseValue() match {
                case Right(v) => entries += (key -> v)
                case l @ Left(_) => return l
              }
            } else return Left(s"bad dictionary key at $pos")
          }
          Right(PDict(entries.result()))
        case '<' =>
          pos += 1
          val start = pos
          while (!eof && ch != '>') pos += 1
          if (eof) Left("unterminated hex string")
          else { val s = text.substring(start, pos); pos += 1; Right(PHex(s)) }
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PVal]
          var done = false
          while (!done) {
            skipWs()
            if (eof) return Left("unterminated array")
            if (ch == ']') { pos += 1; done = true }
            else parseValue() match {
              case Right(v) => items += v
              case l @ Left(_) => return l
            }
          }
          Right(PArr(items.result()))
        case '/' => Right(PName(parseNameRaw()))
        case '(' =>
          pos += 1
          val start = pos
          var depth = 1
          while (!eof && depth > 0) {
            ch match {
              case '\\' => pos += 2
              case '(' => depth += 1; pos += 1
              case ')' => depth -= 1; pos += 1
              case _ => pos += 1
            }
          }
          if (depth > 0) Left("unterminated literal string")
          else Right(PLit(text.substring(start, pos - 1)))
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          parseNumberOrRef()
        case c if c.isLetter =>
          val start = pos
          while (!eof && ch.isLetter) pos += 1
          text.substring(start, pos) match {
            case kw @ ("true" | "false" | "null") => Right(PKw(kw))
            case other => Left(s"unexpected keyword '$other' at $start")
          }
        case other => Left(s"unexpected character '$other' at $pos")
      }
    }

    private def parseNameRaw(): String = {
      pos += 1 // the /
      val start = pos
      while (!eof && !isWs(ch) && !isDelim(ch)) pos += 1
      text.substring(start, pos)
    }

    private def parseNumberToken(): String = {
      val start = pos
      if (!eof && (ch == '+' || ch == '-')) pos += 1
      while (!eof && (ch == '.' || (ch >= '0' && ch <= '9'))) pos += 1
      text.substring(start, pos)
    }

    private def parseNumberOrRef(): Either[String, PVal] = {
      val save = pos
      val first = parseNumberToken()
      if (first.forall(c => c >= '0' && c <= '9') && first.nonEmpty) {
        // possible "N G R" reference — lookahead
        val afterFirst = pos
        skipWs()
        val genStart = pos
        val gen = parseNumberToken()
        if (gen.nonEmpty && gen.forall(c => c >= '0' && c <= '9')) {
          skipWs()
          if (!eof && ch == 'R' &&
              (pos + 1 >= text.length || isWs(text.charAt(pos + 1)) || isDelim(text.charAt(pos + 1)))) {
            pos += 1
            return Right(PRef(first.toInt, gen.toInt))
          }
        }
        pos = afterFirst
        val _ = genStart // (lookahead rolled back)
      }
      if (first.isEmpty) { pos = save; Left(s"bad number at $save") }
      else Right(PNum(first))
    }

    /** Parse `N G obj <value> [stream ... endstream] endobj` at pos.
      * `lengthOf` resolves an indirect /Length (second pass). */
    def parseObjectAt(lengthOf: PRef => Option[Int]): Either[String, PObjDef] = {
      skipWs()
      val num = parseNumberToken()
      if (num.isEmpty) return Left(s"no object number at $pos")
      skipWs()
      val gen = parseNumberToken()
      if (gen.isEmpty) return Left(s"no generation at $pos")
      lastGen = gen.toDouble.toInt
      skipWs()
      expect("obj") match { case Left(e) => return Left(e); case _ => }
      val value = parseValue() match {
        case Right(v) => v
        case Left(e) => return Left(e)
      }
      skipWs()
      if (text.startsWith("stream", pos)) {
        pos += "stream".length
        if (text.startsWith("\r\n", pos)) pos += 2
        else if (!eof && (ch == '\n' || ch == '\r')) pos += 1
        val len = value match {
          case d: PDict => d.get("Length") match {
            case Some(n: PNum) => n.toInt
            case Some(r: PRef) => lengthOf(r).getOrElse(return Left(s"unresolved indirect /Length in obj $num"))
            case _ => return Left(s"stream without /Length in obj $num")
          }
          case _ => return Left(s"stream on non-dict obj $num")
        }
        if (pos + len > bytes.length) return Left(s"stream overruns file in obj $num")
        val data = java.util.Arrays.copyOfRange(bytes, pos, pos + len)
        pos += len
        skipWs()
        expect("endstream") match { case Left(e) => return Left(e); case _ => }
        Right(PObjDef(num.toInt, value, Some(data)))
      } else Right(PObjDef(num.toInt, value, None))
    }
  }

  /** Parse a whole document via its classic xref table(s). Never throws:
    * structurally corrupt input (truncated xref entries, offsets past
    * EOF, bad numbers) comes back as Left, not a runtime exception — the
    * modify path must degrade into the reference's error channel.
    *
    * `password` (default empty) is tried as the USER password and, if
    * the /U check rejects it, as the OWNER password (PDF 32000
    * algorithm 7 / ISO 32000-2 /OE unwrap) — the behavior of a reader
    * prompt. The default preserves the no-prompt class: files whose
    * user password is empty open with no argument. */
  def parse(pdf: Array[Byte], password: String = ""): Either[String, PdfDoc] =
    try parseUnsafe(pdf, password)
    catch {
      case e: RuntimeException => Left(s"corrupt PDF structure: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def parseUnsafe(pdf: Array[Byte], password: String = ""): Either[String, PdfDoc] = {
    if (pdf.isEmpty) return Left("empty PDF data")
    val text = new String(pdf, ISO_8859_1)
    if (!text.startsWith("%PDF-")) return Left("not a PDF (missing %PDF- header)")
    val sxAt = text.lastIndexOf("startxref")
    if (sxAt < 0) return Left("no startxref")
    val tail = new P(text, pdf); tail.pos = sxAt + "startxref".length
    tail.skipWs()
    val firstXref = text.substring(tail.pos, math.min(text.length, tail.pos + 20))
      .takeWhile(_.isDigit) match {
        case "" => return Left("bad startxref offset")
        case d => d.toLong
      }

    // follow the /Prev chain; NEWEST table wins per object (including a
    // newer 'f' free entry masking an older in-use one)
    val offsets = mutable.HashMap.empty[Int, Long] // objNum -> byte offset
    val decided = mutable.HashSet.empty[Int]
    val inObjStm = mutable.HashMap.empty[Int, (Int, Int)] // objNum -> (container, index)
    var trailer: Option[PDict] = None
    var xrefAt = firstXref
    var hops = 0
    while (xrefAt >= 0 && hops < 64) {
      hops += 1
      if (xrefAt >= text.length) return Left("xref offset beyond EOF")
      val p = new P(text, pdf); p.pos = xrefAt.toInt
      p.skipWs()
      if (text.startsWith("xref", p.pos)) {
        p.pos += "xref".length
        // subsections until 'trailer'
        var inSections = true
        while (inSections) {
          p.skipWs()
          if (text.startsWith("trailer", p.pos)) inSections = false
          else {
            val header = text.substring(p.pos, math.min(text.length, text.indexOf('\n', p.pos).max(p.pos)))
            val parts = header.trim.split("\\s+")
            if (parts.length != 2 || !parts.forall(_.forall(_.isDigit)))
              return Left(s"bad xref subsection header '$header'")
            val (start, count) = (parts(0).toInt, parts(1).toInt)
            p.pos = text.indexOf('\n', p.pos) + 1
            (0 until count).foreach { i =>
              val entry = text.substring(p.pos, p.pos + 20)
              val objNum = start + i
              if (decided.add(objNum) && entry.charAt(17) == 'n')
                offsets(objNum) = entry.substring(0, 10).toLong
              p.pos += 20
            }
          }
        }
        p.pos += "trailer".length
        val tdict = p.parseValue() match {
          case Right(d: PDict) => d
          case _ => return Left("bad trailer dictionary")
        }
        if (trailer.isEmpty) trailer = Some(tdict)
        // hybrid-reference file: the classic trailer points at an xref
        // STREAM whose entries fill the gaps (newer-wins order: current
        // table first, then its XRefStm, then /Prev — PDF spec §7.5.8.4)
        tdict.get("XRefStm") match {
          case Some(n: PNum) =>
            readXrefStream(text, pdf, n.toInt.toLong, offsets, decided, inObjStm) match {
              case Left(e) => return Left(e)
              case Right(_) => () // hybrid: classic trailer's /Prev governs the chain
            }
          case _ => ()
        }
        xrefAt = tdict.get("Prev") match {
          case Some(n: PNum) => n.toInt.toLong
          case _ => -1L
        }
      } else {
        // PDF 1.5+: startxref points at a cross-reference STREAM object
        readXrefStream(text, pdf, xrefAt, offsets, decided, inObjStm) match {
          case Left(e) => return Left(e)
          case Right(xdict) =>
            if (trailer.isEmpty) trailer = Some(xdict) // the xref stream dict IS the trailer
            xrefAt = xdict.get("Prev") match {
              case Some(n: PNum) => n.toInt.toLong
              case _ => -1L
            }
        }
      }
    }
    // pass 1: objects with direct /Length; pass 2: indirect /Length
    val objects = mutable.HashMap.empty[Int, PObjDef]
    val gens = mutable.HashMap.empty[Int, Int] // per-object generation (decrypt salt)
    val pending = mutable.ArrayBuffer.empty[(Int, Long)]
    offsets.toSeq.sortBy(_._1).foreach { case (num, off) =>
      if (off < pdf.length) {
        val p = new P(text, pdf); p.pos = off.toInt
        p.parseObjectAt(_ => None) match {
          case Right(o) => objects(o.num) = o; gens(o.num) = p.lastGen
          case Left(e) if e.contains("unresolved indirect /Length") => pending += ((num, off))
          case Left(e) => return Left(s"object $num at $off: $e")
        }
      }
    }
    pending.foreach { case (num, off) =>
      val p = new P(text, pdf); p.pos = off.toInt
      def lookup(r: PRef): Option[Int] = objects.get(r.num).map(_.value).collect { case n: PNum => n.toInt }
      p.parseObjectAt(lookup) match {
        case Right(o) => objects(o.num) = o; gens(o.num) = p.lastGen
        case Left(e) => return Left(s"object $num at $off: $e")
      }
    }
    // decrypt BEFORE ObjStm extraction: container streams are encrypted
    // as whole streams; their packed objects then unpack as plaintext
    trailer.filter(_.get("Encrypt").isDefined).foreach { t =>
      PdfCrypt.decryptInPlace(objects, gens, t, password) match {
        case Left(e) => return Left(e)
        case _ => ()
      }
    }
    // pass 3: extract type-2 (compressed) objects from their /ObjStm
    // containers — the containers themselves loaded in passes 1/2
    loadObjStreams(objects, inObjStm) match {
      case Left(e) => return Left(e)
      case _ => ()
    }
    trailer match {
      case Some(t) => Right(PdfDoc(objects.toMap, t))
      case None => Left("no trailer found")
    }
  }

  // ---- PDF 1.5 cross-reference streams ----

  private def readBE(d: Array[Byte], pos: Int, w: Int): Long = {
    var v = 0L
    var i = 0
    while (i < w) { v = (v << 8) | (d(pos + i) & 0xFFL); i += 1 }
    v
  }

  /** Undo a /Predictor on decoded stream bytes: the PNG row filters
    * (predictor >= 10; /Predictor 12 "PNG Up" is what real writers
    * emit) and TIFF horizontal differencing (predictor 2, 8-bit
    * components). Used by both xref streams (colors=1, bpc=8, each
    * encoded row = 1 filter-tag byte + `columns` data bytes) and
    * predictored CONTENT streams (/DecodeParms on Flate/LZW), where
    * /Colors and /BitsPerComponent widen the row: row bytes =
    * ceil(columns*colors*bpc/8), left-neighbor offset =
    * max(1, ceil(colors*bpc/8)). */
  private[graft] def unpredict(data: Array[Byte], predictor: Int, columns: Int,
      colors: Int = 1, bpc: Int = 8): Either[String, Array[Byte]] = {
    if (predictor <= 1) return Right(data)
    if (columns <= 0 || colors <= 0 || bpc <= 0)
      return Left(s"predictor: bad /Columns $columns, /Colors $colors, /BitsPerComponent $bpc")
    if (predictor == 2) {
      // TIFF horizontal differencing: no tag byte, each component adds
      // its left neighbor (same component, previous pixel). 8-bit only —
      // sub-byte TIFF differencing is vanishingly rare in content
      // streams and stays a clear error.
      if (bpc != 8) return Left(s"TIFF predictor 2 supports 8 bits/component, got $bpc")
      val rowLen = columns * colors
      if (data.length % rowLen != 0)
        return Left(s"TIFF predictor: data length ${data.length} not a multiple of row size $rowLen")
      val out = data.clone()
      var r = 0
      while (r < data.length) {
        var i = colors
        while (i < rowLen) { out(r + i) = (out(r + i) + out(r + i - colors)).toByte; i += 1 }
        r += rowLen
      }
      return Right(out)
    }
    if (predictor < 10) return Left(s"unsupported /Predictor $predictor (PNG predictors and TIFF 2 only)")
    val rowBytes = (columns * colors * bpc + 7) / 8
    val bpp = math.max(1, (colors * bpc + 7) / 8)
    val rowLen = rowBytes + 1
    if (data.length % rowLen != 0)
      return Left(s"PNG predictor: data length ${data.length} not a multiple of row size $rowLen")
    val nRows = data.length / rowLen
    val out = new Array[Byte](nRows * rowBytes)
    var prev = new Array[Byte](rowBytes) // zero row above the first
    var r = 0
    while (r < nRows) {
      val tag = data(r * rowLen) & 0xFF
      val row = java.util.Arrays.copyOfRange(data, r * rowLen + 1, (r + 1) * rowLen)
      var i = 0
      tag match {
        case 0 => () // None
        case 1 => // Sub
          i = bpp
          while (i < rowBytes) { row(i) = (row(i) + row(i - bpp)).toByte; i += 1 }
        case 2 => // Up
          while (i < rowBytes) { row(i) = (row(i) + prev(i)).toByte; i += 1 }
        case 3 => // Average
          while (i < rowBytes) {
            val left = if (i >= bpp) row(i - bpp) & 0xFF else 0
            row(i) = (row(i) + ((left + (prev(i) & 0xFF)) >> 1)).toByte
            i += 1
          }
        case 4 => // Paeth
          while (i < rowBytes) {
            val a = if (i >= bpp) row(i - bpp) & 0xFF else 0
            val b = prev(i) & 0xFF
            val c = if (i >= bpp) prev(i - bpp) & 0xFF else 0
            val pp = a + b - c
            val (pa, pb, pc) = (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            row(i) = (row(i) + pred).toByte
            i += 1
          }
        case t => return Left(s"PNG predictor: unknown filter tag $t")
      }
      System.arraycopy(row, 0, out, r * rowBytes, rowBytes)
      prev = row
      r += 1
    }
    Right(out)
  }

  /** Read one /Type /XRef stream at `off`, merging its entries into
    * (offsets, decided, objStreamObjs) under newest-wins masking.
    * Returns the stream dictionary (it doubles as the trailer). */
  private def readXrefStream(text: String, pdf: Array[Byte], off: Long,
      offsets: mutable.HashMap[Int, Long], decided: mutable.HashSet[Int],
      inObjStm: mutable.HashMap[Int, (Int, Int)]): Either[String, PDict] = {
    if (off < 0 || off >= text.length) return Left("xref-stream offset beyond EOF")
    val p = new P(text, pdf); p.pos = off.toInt
    // xref-stream dict entries must be direct per spec, so no /Length pass 2
    val obj = p.parseObjectAt(_ => None) match {
      case Right(o) => o
      case Left(e) => return Left(s"bad cross-reference data at offset $off: $e")
    }
    val dict = obj.value match {
      case d: PDict if d.get("Type").contains(PName("XRef")) => d
      case _ => return Left(
        "startxref points at neither a classic xref table nor a /Type /XRef stream")
    }
    val raw = obj.stream match {
      case Some(d) => d
      case None => return Left("xref stream object carries no stream data")
    }
    val inflated = dict.get("Filter") match {
      case None => raw
      case Some(PName("FlateDecode")) | Some(PArr(Vector(PName("FlateDecode")))) =>
        inflate(raw) match {
          case Right(d) => d
          case Left(e) => return Left(s"xref stream: $e")
        }
      case Some(f) => return Left(s"xref stream: unsupported filter ${serialize(f, identity)}")
    }
    val wArr = dict.get("W") match {
      case Some(PArr(items)) =>
        val ws = items.collect { case n: PNum => n.toInt }
        if (ws.length != items.length || ws.length < 3) return Left("xref stream: bad /W")
        ws
      case _ => return Left("xref stream: missing /W")
    }
    val rowLen = wArr.take(3).sum
    if (rowLen <= 0 || rowLen > 32) return Left(s"xref stream: implausible /W $wArr")
    val data = dict.get("DecodeParms") match {
      case Some(d: PDict) =>
        val pred = d.get("Predictor") match { case Some(n: PNum) => n.toInt; case _ => 1 }
        val cols = d.get("Columns") match { case Some(n: PNum) => n.toInt; case _ => rowLen }
        unpredict(inflated, pred, cols) match {
          case Right(u) => u
          case Left(e) => return Left(e)
        }
      case None => inflated
      case Some(other) => return Left(s"xref stream: unsupported /DecodeParms ${serialize(other, identity)}")
    }
    val size = dict.get("Size") match {
      case Some(n: PNum) => n.toInt
      case _ => return Left("xref stream: missing /Size")
    }
    val index: Vector[(Int, Int)] = dict.get("Index") match {
      case Some(PArr(items)) =>
        val nums = items.collect { case n: PNum => n.toInt }
        if (nums.length != items.length || nums.length % 2 != 0)
          return Left("xref stream: bad /Index")
        nums.grouped(2).map(g => (g(0), g(1))).toVector
      case None => Vector((0, size))
      case Some(_) => return Left("xref stream: bad /Index")
    }
    var pos = 0
    index.foreach { case (start, count) =>
      var i = 0
      while (i < count) {
        if (pos + rowLen > data.length) return Left("xref stream: entry data truncated")
        val typ = if (wArr(0) == 0) 1L else readBE(data, pos, wArr(0))
        val f2 = readBE(data, pos + wArr(0), wArr(1))
        val objNum = start + i
        if (decided.add(objNum)) typ match {
          case 1L => offsets(objNum) = f2
          case 2L => // lives in /Type /ObjStm f2 at index f3
            val f3 = readBE(data, pos + wArr(0) + wArr(1), wArr(2))
            inObjStm(objNum) = (f2.toInt, f3.toInt)
          case _ => () // type 0: free
        }
        pos += rowLen
        i += 1
      }
    }
    Right(dict)
  }

  /** Extract the type-2 (compressed) objects out of their /Type /ObjStm
    * containers (PDF spec §7.5.7): each container's stream opens with /N
    * whitespace-separated (objnum, offset) integer pairs; object values
    * sit at /First + offset as DIRECT values (streams inside object
    * streams are forbidden by spec, so every extracted object is a plain
    * value). Newest-wins masking already happened at xref level: an
    * object appears in `inObjStm` only if no newer table decided it. */
  private def loadObjStreams(
      objects: mutable.HashMap[Int, PObjDef],
      inObjStm: mutable.HashMap[Int, (Int, Int)]): Either[String, Unit] = {
    inObjStm.groupBy(_._2._1).toSeq.sortBy(_._1).foreach { case (containerNum, members) =>
      val container = objects.get(containerNum) match {
        case Some(o) => o
        case None => return Left(s"object stream $containerNum referenced by the xref is missing")
      }
      val dict = container.value match {
        case d: PDict if d.get("Type").contains(PName("ObjStm")) => d
        case _ => return Left(s"object $containerNum is not a /Type /ObjStm container")
      }
      val raw = container.stream match {
        case Some(d) => d
        case None => return Left(s"object stream $containerNum has no stream data")
      }
      val data = dict.get("Filter") match {
        case None => raw
        case Some(PName("FlateDecode")) | Some(PArr(Vector(PName("FlateDecode")))) =>
          inflate(raw) match {
            case Right(d) => d
            case Left(e) => return Left(s"object stream $containerNum: $e")
          }
        case Some(f) =>
          return Left(s"object stream $containerNum: unsupported filter ${serialize(f, identity)}")
      }
      val (n, first) = (dict.get("N"), dict.get("First")) match {
        case (Some(a: PNum), Some(b: PNum)) => (a.toInt, b.toInt)
        case _ => return Left(s"object stream $containerNum: missing /N or /First")
      }
      if (n < 0 || first < 0 || first > data.length)
        return Left(s"object stream $containerNum: implausible /N $n or /First $first")
      val text = new String(data, ISO_8859_1)
      val hp = new P(text, data)
      val pairs = Vector.newBuilder[(Int, Int)]
      var i = 0
      while (i < n) {
        (hp.parseValue(), hp.parseValue()) match {
          case (Right(a: PNum), Right(b: PNum)) => pairs += ((a.toInt, b.toInt))
          case _ => return Left(s"object stream $containerNum: bad header pair $i")
        }
        i += 1
      }
      val header = pairs.result()
      members.toSeq.sortBy(_._1).foreach { case (objNum, (_, idx)) =>
        if (idx < 0 || idx >= header.length)
          return Left(s"object stream $containerNum: index $idx out of range (/N $n)")
        val (num, off) = header(idx)
        if (num != objNum)
          return Left(s"object stream $containerNum: entry $idx holds object $num, xref said $objNum")
        if (first + off >= text.length)
          return Left(s"object stream $containerNum: object $objNum offset beyond stream")
        val vp = new P(text, data); vp.pos = first + off
        vp.parseValue() match {
          case Right(v) => objects(objNum) = PObjDef(objNum, v, None)
          case Left(e) => return Left(s"object stream $containerNum: object $objNum: $e")
        }
      }
    }
    Right(())
  }

  // ---- serialization with object renumbering (for page import) ----

  def serialize(v: PVal, renum: Int => Int): String = v match {
    case PNum(raw) => raw
    case PName(raw) => "/" + raw
    case PLit(inner) => "(" + inner + ")"
    case PHex(inner) => "<" + inner + ">"
    case PArr(items) => items.map(serialize(_, renum)).mkString("[", " ", "]")
    case PDict(entries) =>
      entries.map { case (k, pv) => s"/$k ${serialize(pv, renum)}" }.mkString("<< ", " ", " >>")
    case PRef(n, _) => s"${renum(n)} 0 R"
    case PKw(kw) => kw
  }

  def collectRefs(v: PVal, into: mutable.HashSet[Int]): Unit = v match {
    case PRef(n, _) => into += n
    case PArr(items) => items.foreach(collectRefs(_, into))
    case PDict(entries) => entries.foreach { case (_, pv) => collectRefs(pv, into) }
    case _ => ()
  }

  /** Transitive closure of object references starting from `roots`. */
  def reachable(doc: PdfDoc, roots: Set[Int]): Set[Int] = {
    val seen = mutable.HashSet.empty[Int]
    val queue = mutable.Queue.empty[Int]
    roots.foreach { r => if (seen.add(r)) queue.enqueue(r) }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      doc.objects.get(n).foreach { o =>
        val refs = mutable.HashSet.empty[Int]
        collectRefs(o.value, refs)
        refs.foreach { r => if (seen.add(r)) queue.enqueue(r) }
      }
    }
    seen.toSet
  }
}
