package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.hocr.HocrRender
import graft.layout.{Assembly, MediaOcr, RuneIndex}
import graft.model.{Doc, Span}
import graft.queries.Tables

/** Deterministic synthesis of the interleaved input table
  * (doc_id, spans[kind,text,media_ref,offset]) — BASELINE.json input_hint —
  * from the driver's `documents` parquet at a given scale factor. No
  * external data: every span derives from (doc_id, text, splitmix64).
  *
  * Per doc: a pseudo-random interleaving of
  *   - 'html' spans: the doc's text wrapped in realistic page chrome
  *     (nav/header/footer/aside boilerplate + link farms) for the
  *     boilerplate-strip path;
  *   - 'pdf_layout' spans: REAL hOCR XHTML rendered by our own renderer
  *     from a synthesized layout page (so the distributed job exercises
  *     parse -> stitch on authentic hOCR);
  *   - 'media' spans: opaque refs `img://<hex>` for the classifier path.
  * Docs where doc_id % 251 == 0 get a heavy span tail (skew shape,
  * FIXTURES.md §3 "mega-doc").
  */
object CorpusGen {

  /** Pure, deterministic per-doc generator. */
  def genDoc(docId: Long, text: String): Doc = {
    val h = MediaOcr.hash64(s"corpus:$docId")
    val isMega = docId % 251 == 0 && docId > 0
    val nSpans =
      if (isMega) 256 + (Math.floorMod(h, 256L)).toInt
      else 2 + (Math.floorMod(h, 6L)).toInt
    val spans = Vector.newBuilder[Span]
    var offset = 0
    var i = 0
    while (i < nSpans) {
      val hi = MediaOcr.hash64(s"span:$docId:$i")
      val kindPick = Math.floorMod(hi, 10L).toInt
      val span =
        if (kindPick < 4) { // html
          val htmlText = wrapHtml(text, docId, i, hi)
          Span("html", htmlText, "", offset)
        } else if (kindPick < 7) { // pdf_layout: genuine hOCR
          val ocr = MediaOcr.classify(f"pdf://$docId%d/$i%d")
          val page = Assembly.createHocrPage(ocr.page, new RuneIndex(ocr.text), 1)
          val hocrDoc = Assembly.createHocrDocument(None, Vector(page))
          Span("pdf_layout", HocrRender.render(hocrDoc), "", offset)
        } else { // media
          Span("media", "", f"img://$hi%016x", offset)
        }
      spans += span
      offset += 1 + graft.text.GoStrings.runeLen(span.text)
      i += 1
    }
    Doc(s"doc_$docId", spans.result())
  }

  /** Boilerplate-wrapped page around (a slice of) the doc text. */
  private def wrapHtml(text: String, docId: Long, i: Int, h: Long): String = {
    val words = text.split(' ')
    val from = if (words.isEmpty) 0 else Math.floorMod(h >>> 8, Math.max(1, words.length).toLong).toInt
    val body = words.slice(from, Math.min(words.length, from + 40 + Math.floorMod(h, 40L).toInt)).mkString(" ")
    val sb = new StringBuilder(1024)
    sb.append("<html><head><title>Doc ").append(docId).append("</title>")
    sb.append("<style>body{margin:0}</style><script>var x=1;</script></head><body>")
    sb.append("<nav><a href='/'>Home</a> <a href='/a'>Products</a> <a href='/b'>About</a> <a href='/c'>Contact</a></nav>")
    sb.append("<header><h1>Page ").append(i).append(" heading</h1></header>")
    if (Math.floorMod(h, 3L) == 0)
      sb.append("<div class='ads'><a href='/ad1'>Buy now</a> <a href='/ad2'>Special offer today</a></div>")
    sb.append("<div id='main'><p>").append(body).append(" end of paragraph content.</p>")
    if (Math.floorMod(h, 2L) == 0)
      sb.append("<p>Second paragraph with enough prose to clear the density threshold for doc ")
        .append(docId).append(" span ").append(i).append(".</p>")
    sb.append("</div>")
    sb.append("<aside><a href='/x'>related</a> <a href='/y'>links</a></aside>")
    sb.append("<footer>Copyright 2026 Example Corp <a href='/tos'>Terms</a></footer>")
    sb.append("</body></html>")
    sb.toString
  }

  /** Build the corpus Dataset from a scale-factor directory. */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, text) => genDoc(id, text) }
      .toDF()
  }

  /** Fingerprint of the SYNTHESIS SEMANTICS: a hash over a probe doc's
    * generated spans (kinds, texts, media_refs). Any change to the
    * generator chain (CorpusGen arithmetic, MediaOcr vocabulary,
    * wrapHtml templates) changes this value — so the materialized-cache
    * path below self-invalidates instead of relying on a hand-bumped
    * version suffix that is easy to forget (a stale cache whose SCHEMA
    * still matches would silently feed Bench and q_extract_presplit
    * old-generator data). */
  private lazy val generatorFingerprint: String = {
    val probe = (0L until 4L).flatMap(id =>
      genDoc(id, s"fingerprint probe text number $id with several words present")
        .spans.map(sp => s"${sp.kind}|${sp.text}|${sp.media_ref}")).mkString("\n")
    f"${graft.layout.MediaOcr.hash64(probe)}%016x".take(12)
  }

  /** Materialize the pre-split corpus for a scale dir once under /tmp,
    * returning its path (idempotent). The path is keyed on the scale
    * dir, on its `documents` table's files ([[Tables.listing]]: a table
    * rewritten under the same dir gets a fresh layout) and on the
    * generator SEMANTICS ([[generatorFingerprint]], not a
    * hand-maintained version) and the layout's columns, so a directory
    * that is complete (`_SUCCESS`) is served with no job. A layout that a
    * rewrite superseded is deleted. Shared by Bench (the timed layout)
    * and q_extract_presplit (the battery/correctness entry over the same
    * layout). */
  def materializedPreSplit(spark: SparkSession, sfDir: String): String = {
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val prefix = s"graft_corpus_${sfName}_${Tables.md5Hex(sfDir).take(8)}_"
    val key = Tables.md5Hex(Seq(generatorFingerprint, Tables.listing(spark, sfDir, "documents"),
      PreSplitColumns.mkString(","), graft.pipeline.Extract.PartSize).mkString("|")).take(12)
    val path = java.nio.file.Paths.get("/tmp", prefix + key)
    if (!java.nio.file.Files.exists(path.resolve("_SUCCESS"))) {
      val stale = java.nio.file.Files.list(path.getParent)
      try stale.filter(p => p.getFileName.toString.startsWith(prefix) && p != path)
        .forEach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
      finally stale.close()
      preSplit(fromDocuments(spark, sfDir))
        .repartition(32)
        .write.mode("overwrite").parquet(path.toString)
    }
    path.toString
  }

  private val PreSplitColumns = Seq("doc_id", "part_idx", "spans", "n_spans")

  /** The PRE-SPLIT storage layout (doc_id, part_idx, spans, n_spans):
    * each doc's span array chunked into fixed Extract.PartSize slices,
    * n_spans = the doc TOTAL (the pushdown split key). This is how a
    * production corpus should be written: a mega-doc stored as one
    * parquet row is an unsplittable scan unit no repartition can fix —
    * stored as bounded part rows, the scan (and the extraction fused
    * into it) parallelizes by itself. Extract.run accepts this layout
    * directly and reconstructs global span order from
    * part_idx * PartSize + local position. */
  def preSplit(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // the chunk size is a layout CONTRACT, not a knob: Extract.run
    // reconstructs global order as part_idx * Extract.PartSize + local pos
    val partSize = graft.pipeline.Extract.PartSize
    val withN =
      if (corpus.columns.contains("n_spans")) corpus
      else corpus.withColumn("n_spans", size(col("spans")))
    withN
      .select(col("doc_id"), col("n_spans"),
        posexplode(expr(
          s"transform(sequence(0, (n_spans - 1) div $partSize), p -> slice(spans, p * $partSize + 1, $partSize))"))
          .as(Seq("part_idx", "spans")))
      .select(PreSplitColumns.map(col): _*)
  }
}
