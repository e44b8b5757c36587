package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hocr.{HLine, HPage, HWord, Hocr}
import graft.model.BBox
import graft.pdf.{PdfAssemble, PdfOps, PdfRender}

/** PDF emission queries.
  *
  * q_pdf_roundtrip is the oracle-checked one: Spark BUILDS real PDF bytes
  * per doc (deterministic ASCII layout), then re-detects the OCR layers
  * from those bytes with the P-3/P-4 operators — while DuckDB predicts
  * the layer count/name/gate INDEPENDENTLY from the page-count rule. A
  * broken writer (OCG structure, escaping, xref) or a broken detector
  * hash-mismatches; nothing is compared to itself.
  *
  * q_pdf_assemble is the production-shaped sink over the MediaOcr page
  * table (binary payloads incl. non-Latin-1 text, the encoding-error
  * gate live) — binary output, rows-only like q_media_features. */
object PdfQ {

  /** Deterministic ASCII-only page: Latin-1-safe by construction, so the
    * encoding gate never fires and the oracle can predict every output. */
  private def synthPage(docId: Long, pageIdx: Int): HPage = {
    val n = 5 + ((docId + pageIdx) % 4).toInt
    val words = (0 until n).map { i =>
      HWord(id = s"w$i", text = s"doc${docId}pg${pageIdx}w$i",
        bbox = BBox(40.0 + i * 90, 80.0, 120.0 + i * 90, 98.0), confidence = 90.0)
    }.toVector
    HPage(
      id = s"page_${pageIdx + 1}", pageNumber = pageIdx + 1,
      bbox = BBox(0, 0, 612, 792),
      lines = Vector(HLine(id = "l1", bbox = BBox(40, 80, 580, 98), words = words)))
  }

  def qPdfRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val nPages = (id % 3).toInt + 1
        val pages = (0 until nPages).map(p => synthPage(id, p)).toVector
        val pdf = PdfRender.applyOcrPdf(Hocr(pages = pages))
          .fold(e => sys.error(e), _.pdf)
        val layers = PdfOps.detectPdfLayers(pdf).getOrElse(Vector.empty)
        val hasOcr = PdfOps.checkExistingOcrLayers(pdf, "OCR Text")
          .toOption.exists(_.hasOcrLayer)
        (id, nPages, layers.length, layers.headOption.getOrElse(""), if (hasOcr) 1 else 0)
      }
      .toDF("doc_id", "n_pages", "n_layers", "first_layer", "has_ocr")
  }

  /** The prediction side. `first_layer` is 'OCR Text (Page 1\' — no
    * closing paren, trailing backslash: fpdf-style writers escape parens
    * inside PDF strings, the reference's detection regex `\(([^)]+)\)`
    * stops at the escaped `\)` capturing the backslash (detect.go:24-47),
    * and its unescape only rewrites complete \( \) \\ pairs
    * (helpers.go:18-23). Our writer+detector reproduce exactly that. */
  val qPdfRoundtripSql: String =
    """SELECT doc_id,
      | CAST(doc_id % 3 AS INT) + 1 AS n_pages,
      | CAST(doc_id % 3 AS INT) + 1 AS n_layers,
      | 'OCR Text (Page 1\' AS first_layer,
      | 1 AS has_ocr
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Variant page content for the modify overlay, so the imported
    * background and the new layer are distinguishable in the output. */
  private def modPage(docId: Long, pageIdx: Int): HPage = {
    val n = 5 + ((docId + pageIdx) % 4).toInt
    val words = (0 until n).map { i =>
      HWord(id = s"w$i", text = s"mod${docId}pg${pageIdx}w$i",
        bbox = BBox(40.0 + i * 90, 80.0, 120.0 + i * 90, 98.0), confidence = 90.0)
    }.toVector
    HPage(
      id = s"page_${pageIdx + 1}", pageNumber = pageIdx + 1,
      bbox = BBox(0, 0, 612, 792),
      lines = Vector(HLine(id = "l1", bbox = BBox(40, 80, 580, 98), words = words)))
  }

  /** P-8 full-loop check: Spark builds a source PDF ("Scan Text" layer),
    * parses it back, and modifies it — importing the page background as
    * Form XObjects under a NEW "OCR Text" layer — then re-detects. The
    * oracle independently predicts layer/form counts, the first detected
    * name, the OCR gate, and that both the imported background text and
    * the overlay text are present. */
  def qPdfModify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val nPages = (id % 3).toInt + 1
        val src = PdfRender.applyOcrPdf(
          Hocr(pages = (0 until nPages).map(p => synthPage(id, p)).toVector),
          layerNameBase = "Scan Text").fold(e => sys.error(e), _.pdf)
        val out = PdfRender.modifyExistingPdf(src,
          Hocr(pages = (0 until nPages).map(p => modPage(id, p)).toVector))
          .fold(e => sys.error(e), _.pdf)
        val layers = PdfOps.detectPdfLayers(out).getOrElse(Vector.empty)
        val hasOcr = PdfOps.checkExistingOcrLayers(out, "OCR Text")
          .toOption.exists(_.hasOcrLayer)
        val raw = new String(out, java.nio.charset.StandardCharsets.ISO_8859_1)
        var nForms = 0
        var at = raw.indexOf("/Subtype /Form")
        while (at >= 0) { nForms += 1; at = raw.indexOf("/Subtype /Form", at + 1) }
        (id, nPages, layers.length, layers.headOption.getOrElse(""),
          if (hasOcr) 1 else 0, nForms,
          if (raw.contains(s"(doc${id}pg0w0) Tj")) 1 else 0,
          if (raw.contains(s"(mod${id}pg0w0) Tj")) 1 else 0)
      }
      .toDF("doc_id", "n_pages", "n_layers", "first_layer", "has_ocr",
        "n_forms", "imported", "overlaid")
  }

  /** 2 layers per page (the copied "Scan Text" OCG + the new "OCR Text"
    * one); our new OCGs serialize before the copied source objects, so
    * the first detected name is the new layer's. */
  val qPdfModifySql: String =
    """SELECT doc_id,
      | CAST(doc_id % 3 AS INT) + 1 AS n_pages,
      | 2 * (CAST(doc_id % 3 AS INT) + 1) AS n_layers,
      | 'OCR Text (Page 1\' AS first_layer,
      | 1 AS has_ocr,
      | CAST(doc_id % 3 AS INT) + 1 AS n_forms,
      | 1 AS imported,
      | 1 AS overlaid
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Encryption round trip (PdfCrypt), all three standard-security
    * ciphers by doc_id: RC4 128-bit R=3, AES-128-CBC V=4 /AESV2, and
    * AES-256-CBC V=5 R=6 /AESV3. Spark builds a source PDF, encrypts it
    * (per-doc owner password, empty user password), checks the
    * ciphertext actually HIDES the layer text and layer names from the
    * raw-byte scanner, then re-parses — PdfParse decrypts transparently
    * — and confirms the content stream text came back. The oracle
    * predicts every column independently from the page-count and
    * cipher-pick rules: a broken key derivation (MD5 schedule, hash-2B
    * chain, /UE unwrap), cipher, /U check or string-escape path flips
    * `decrypted` (or errors the row) and hash-mismatches.
    *
    * Doc subset (% 5): the round trip is a per-doc O(1) correctness
    * proof, not a throughput test — 1 in 5 docs still exercises every
    * cipher x page-count combination at both scales (100 rows at
    * sf0.01, 1,000 at sf0.1; multiples of 5 cycle through all three
    * doc_id % 3 cipher picks) while keeping the battery clear of the
    * hash-2B KDF's deliberate cost (ISO 32000-2 mandates a >= 64-round
    * AES+SHA chain per password operation — 6 chains per AES-256 doc). */
  def qPdfEncrypt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id")
      .filter(col("doc_id") % 5 === 0).as[Long]
      .map { id =>
        val nPages = (id % 3).toInt + 1
        val src = PdfRender.applyOcrPdf(
          Hocr(pages = (0 until nPages).map(p => synthPage(id, p)).toVector))
          .fold(e => sys.error(e), _.pdf)
        val parsed = graft.pdf.PdfParse.parse(src).fold(e => sys.error(e), identity)
        val cipher = (id % 3) match {
          case 0 => "rc4"
          case 1 => "aes128"
          case _ => "aes256"
        }
        val enc = (cipher match {
          case "rc4" => graft.pdf.PdfCrypt.encrypt(parsed, ownerPwd = s"owner-$id")
          case "aes128" => graft.pdf.PdfCrypt.encryptAes128(parsed, ownerPwd = s"owner-$id")
          case _ => graft.pdf.PdfCrypt.encryptAes256(parsed, ownerPwd = s"owner-$id")
        }).fold(e => sys.error(e), identity)
        val rawEnc = new String(enc, java.nio.charset.StandardCharsets.ISO_8859_1)
        val hidden = if (!rawEnc.contains(s"(doc${id}pg0w0) Tj")) 1 else 0
        // the raw-byte scanner still SEES the OCG skeleton (one garbage-
        // named entry per page) but the plaintext names must be gone
        val encNamed = PdfOps.detectPdfLayers(enc).getOrElse(Vector.empty)
          .count(_.contains("OCR Text"))
        val doc = graft.pdf.PdfParse.parse(enc).fold(e => sys.error(e), identity)
        val pages = doc.pages.fold(e => sys.error(e), identity)
        val body = pages.headOption.flatMap(p => p.contentObjs.headOption)
          .map(o => doc.decodedStream(o).fold(e => sys.error(e), identity))
          .map(b => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
          .getOrElse("")
        val decrypted = if (body.contains(s"(doc${id}pg0w0) Tj")) 1 else 0
        (id, cipher, pages.length, encNamed, hidden, decrypted)
      }
      .toDF("doc_id", "cipher", "n_pages", "enc_named", "hidden", "decrypted")
  }

  /** Ciphertext hides the text operators and the OCG layer NAMES from
    * the raw-byte scanner (enc_named = 0 — the scanner still counts the
    * OCG skeleton, but every detected name is ciphertext); the
    * parse-time decrypt must recover page structure and the exact
    * content text. */
  val qPdfEncryptSql: String =
    """SELECT doc_id,
      | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'rc4' WHEN 1 THEN 'aes128' ELSE 'aes256' END AS cipher,
      | CAST(doc_id % 3 AS INT) + 1 AS n_pages,
      | 0 AS enc_named,
      | 1 AS hidden,
      | 1 AS decrypted
      |FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin

  /** Security-handler QUARANTINE audit (round-4 verdict #7, the
    * q_corrupt_quarantine convention): a real-corpus sweep sees
    * certificate-encrypted PDFs (public-key /Adobe.PubSec-class
    * handlers, which this engine rejects with a clear error by design)
    * as a COUNTED quarantine reason, not job noise. Mixed fixture per
    * doc (subset % 5, the q_pdf_encrypt battery-cost rule): doc_id % 3
    * == 0 builds an RC4-encrypted file whose /Encrypt handler name is
    * rewritten (same-length, offsets untouched) to a non-Standard one —
    * the parse must fail with the handler error and the doc routes to
    * 'quarantine_pubsec_handler'; % 3 == 1 stays /Standard-encrypted
    * and must parse ('ok_standard_encrypted'); % 3 == 2 is plaintext
    * ('ok_plain'). Any other outcome lands in an 'unexpected:' reason
    * the oracle does not predict — a parser that starts silently
    * accepting or rejecting the wrong class hash-mismatches. Output is
    * the per-reason count + doc_id-sum audit table. */
  def qPdfQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id")
      .filter(col("doc_id") % 5 === 0).as[Long]
      .map { id =>
        val nPages = (id % 3).toInt + 1
        val src = PdfRender.applyOcrPdf(
          Hocr(pages = (0 until nPages).map(p => synthPage(id, p)).toVector))
          .fold(e => sys.error(e), _.pdf)
        val variant = (id % 3).toInt
        def rc4Encrypted: Array[Byte] = {
          val parsed = graft.pdf.PdfParse.parse(src).fold(e => sys.error(e), identity)
          graft.pdf.PdfCrypt.encrypt(parsed, ownerPwd = s"owner-$id")
            .fold(e => sys.error(e), identity)
        }
        val bytes: Array[Byte] = variant match {
          case 0 =>
            // same-length handler-name rewrite inside the /Encrypt dict
            // (the last object before xref; no offset shifts): the
            // stand-in for a certificate-security file
            val raw = new String(rc4Encrypted,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val at = raw.indexOf("/Filter /Standard")
            if (at < 0) sys.error("encrypt dict not found in emitted bytes")
            (raw.substring(0, at) + "/Filter /PubKeySH" +
              raw.substring(at + "/Filter /Standard".length))
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          case 1 => rc4Encrypted
          case _ => src
        }
        val reason = graft.pdf.PdfParse.parse(bytes) match {
          case Left(e) if e.contains("unsupported encryption filter") =>
            if (variant == 0) "quarantine_pubsec_handler" else s"unexpected:$e"
          case Left(e) => s"unexpected:$e"
          case Right(_) =>
            if (variant == 0) "unexpected:pubsec_parsed"
            else if (variant == 1) "ok_standard_encrypted"
            else "ok_plain"
        }
        (id, reason)
      }
      .toDF("doc_id", "reason")
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
  }

  val qPdfQuarantineSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 3 AS INT)
      |           WHEN 0 THEN 'quarantine_pubsec_handler'
      |           WHEN 1 THEN 'ok_standard_encrypted'
      |           ELSE 'ok_plain' END AS reason
      |  FROM documents WHERE doc_id % 5 = 0)
      |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
      |FROM t GROUP BY reason ORDER BY reason""".stripMargin

  def qPdfAssemble(s: SparkSession, dir: String): DataFrame = {
    val pageTable = Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(sequence(0, CAST(doc_id % 3 AS INT))) AS page_idx")
      .selectExpr("CAST(doc_id AS STRING) AS doc_id", "page_idx",
        "concat('img://page/', doc_id, '/', page_idx) AS media_ref")
    PdfAssemble.run(pageTable)
      .select(col("doc_id"), col("n_pages"), length(col("pdf")).as("pdf_bytes"),
        col("err"))
  }

  /** ORACLE companion to the rows-only q_pdf_assemble (the flagship
    * partial-prediction pattern): per doc, the page-count arithmetic
    * and the STRUCTURAL CONSISTENCY invariants that must hold whichever
    * way the per-doc P-6 Latin-1 gate decides (the which-docs-fail set
    * depends on the classifier vocabulary, deliberately not re-derived
    * in SQL — the failing rows stay inspectable in q_pdf_assemble):
    * a successful doc emits a non-empty PDF whose re-detected OCG layer
    * names count exactly n_pages; a gated doc emits nothing. Any
    * drift in the emitter, the layer naming, or the raw-byte scanner
    * flips `consistent` and hash-mismatches. */
  def qPdfAssembleCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pageTable = Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(sequence(0, CAST(doc_id % 3 AS INT))) AS page_idx")
      .selectExpr("CAST(doc_id AS STRING) AS doc_id", "page_idx",
        "concat('img://page/', doc_id, '/', page_idx) AS media_ref")
    PdfAssemble.run(pageTable)
      .select(col("doc_id"), col("pdf"), col("n_pages"), col("err"))
      .as[(String, Array[Byte], Int, String)]
      .map { case (docId, pdf, nPages, err) =>
        val named = PdfOps.detectPdfLayers(pdf).getOrElse(Vector.empty)
          .count(_.contains("OCR Text"))
        val consistent =
          if (err == null) pdf.nonEmpty && named == nPages
          else pdf.isEmpty && named == 0
        (docId, nPages, if (consistent) 1 else 0)
      }
      .toDF("doc_id", "n_pages", "consistent")
  }

  val qPdfAssembleCheckSql: String =
    """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
      | CAST(doc_id % 3 AS INT) + 1 AS n_pages,
      | 1 AS consistent
      |FROM documents ORDER BY doc_id""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_pdf_roundtrip" -> ((qPdfRoundtrip _, Some(qPdfRoundtripSql))),
    "q_pdf_assemble_check" -> ((qPdfAssembleCheck _, Some(qPdfAssembleCheckSql))),
    "q_pdf_modify" -> ((qPdfModify _, Some(qPdfModifySql))),
    "q_pdf_encrypt" -> ((qPdfEncrypt _, Some(qPdfEncryptSql))),
    "q_pdf_quarantine" -> ((qPdfQuarantine _, Some(qPdfQuarantineSql))),
    "q_pdf_assemble" -> ((qPdfAssemble _, None)))
}
