package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Extract

/** The north rule's span-sequence equality — (kind, text, media_ref,
  * order) for EVERY span of every document — as ONE oracle-checked row.
  *
  * q_extract_flagship pins the structure (n_spans, kind, media_ref,
  * order, text non-emptiness); q_extract_html_text / q_extract_pdf_text /
  * q_extract_media_text each pin one kind's text. This capstone emits the
  * full tuple per span — kind, media_ref, order, md5(text) — and the
  * DuckDB oracle predicts every column from the documents parquet alone:
  * the splitmix64 generator recurrence for structure, the static strip
  * law (HtmlTextQ) for html text, and the recursive-CTE Rng machine
  * (MediaTextQ) for pdf_layout AND media text in one recursion (the two
  * kinds differ only in the classify() seed string). With this row green,
  * the complete per-row invariant of BASELINE.json's input_hint is
  * independently verified at the driver, not only golden-pinned.
  *
  * Reads the materialized pre-split layout: the span-equality claim is
  * made against the storage layout the 100-TB job would actually read,
  * and the battery measures extraction, not in-query corpus synthesis.
  */
object SpanEqualityQ {

  def qExtractSpanEquality(s: SparkSession, dir: String): DataFrame =
    Extract.run(Tables.preSplit(s, dir))
      .select(col("doc_id"), explode(col("span_seq")).as("sp"))
      .select(col("doc_id"), col("sp.order").as("span_order"),
        col("sp.kind").as("kind"), col("sp.media_ref").as("media_ref"),
        md5(col("sp.text").cast("binary")).as("text_md5"))
      .orderBy(col("doc_id"), col("span_order"))

  val oracle: String = {
    import FlagshipQ.floorModSql
    import MediaTextQ.{kindPickSql, machineCtes, mediaRefSql, pdfRefSql}
    val caseRef = s"CASE WHEN $kindPickSql < 7 THEN $pdfRefSql ELSE $mediaRefSql END"
    val kKind = floorModSql("k.hi", 10)
    val kHex = s"lpad(lower(hex(k.hi)), 16, '0')"
    s"""WITH RECURSIVE ${machineCtes(caseRef, s"$kindPickSql >= 4")},
       |${HtmlTextQ.htmlLawCte},
       |agg AS (
       |  SELECT doc_id, span_order,
       |         md5(string_agg(frag, '' ORDER BY step)) AS text_md5
       |  FROM machine GROUP BY doc_id, span_order
       |)
       |SELECT 'doc_' || a.doc_id AS doc_id, a.span_order,
       |       CASE WHEN $kKind < 7 THEN 'pdf_layout' ELSE 'media' END AS kind,
       |       CASE WHEN $kKind >= 7 THEN 'img://' || $kHex ELSE '' END AS media_ref,
       |       a.text_md5
       |FROM agg a JOIN k ON k.doc_id = a.doc_id AND k.span_order = a.span_order
       |UNION ALL
       |SELECT 'doc_' || doc_id AS doc_id, span_order,
       |       'html' AS kind, '' AS media_ref, md5(predicted) AS text_md5
       |FROM w
       |ORDER BY doc_id, span_order""".stripMargin
  }
}
