package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Extract

/** HTML-span TEXT under the independent oracle — the last flagship text
  * class that was rows-only (media: q_extract_media_text; pdf_layout:
  * q_extract_pdf_text, MediaTextQ).
  *
  * The corpus's html spans are CorpusGen.wrapHtml pages: fixed chrome
  * (title / nav / header / optional ads / aside / footer) around a
  * hash-addressed slice of the document's own text. The oracle does NOT
  * simulate the DOM walk — it applies the STRIP LAW, derived statically
  * from Boilerplate's block rules (Boilerplate.scala:125-135), which is
  * exact on this template because every generated block lands strictly
  * on one side of its threshold:
  *
  *   - title block "Doc <id>": textLen <= 4+len(id) < 25      -> dropped
  *   - nav/aside/footer subtrees: dropTags, never become blocks
  *   - ads div (present iff h%3==0): linkDensity 26/27 > 1/3  -> dropped
  *   - h1 "Page <i> heading": heading rule (len>=3, no links) -> KEPT
  *   - main paragraph body+" end of paragraph content.":
  *     textLen >= 25 even for an empty body, linkLen 0,
  *     tagCount 0 so textDensity = textLen >= 25 >= 8         -> KEPT
  *   - optional (h%2==0) second paragraph: ~90 chars, plain   -> KEPT
  *
  * Kept blocks join with "\n". The body slice indices are splitmix64
  * arithmetic over "span:<doc_id>:<i>" — the same recurrence FlagshipQ
  * already runs in DuckDB — and the sliced words come from the `text`
  * column of the oracle's own input table, so the exact text (hence its
  * md5) is predicted from the parquet alone.
  *
  * Precondition (holds for the driver's documents tables at every scale,
  * asserted per-row in the oracle itself — a violating doc would emit
  * md5(NULL) = NULL and hash-mismatch loudly): `text` is single-spaced
  * with no leading/trailing/exotic whitespace, so wrapHtml's
  * words.mkString(" ") is already whitespace-collapsed and the law needs
  * no collapse step. SpanTextSpec pins predictHtmlText == the real
  * parse -> strip pipeline on every html span of a corpus-shaped fixture
  * set, with both optional branches (ads div, second paragraph) fired
  * hundreds of times.
  */
object HtmlTextQ {

  import FlagshipQ.{floorModSql, hash64Sql}

  /** The strip law in plain Scala — what the DuckDB oracle also computes.
    * SpanTextSpec pins this against the REAL pipeline
    * (HtmlDom.parse -> Boilerplate.extractMainText) so the law, not just
    * the SQL, is verified against the code. */
  def predictHtmlText(docText: String, docId: Long, spanOrder: Int): String = {
    val h = graft.layout.MediaOcr.hash64(s"span:$docId:$spanOrder")
    val words = docText.split(' ')
    val from =
      if (words.isEmpty) 0
      else Math.floorMod(h >>> 8, Math.max(1, words.length).toLong).toInt
    val body = words
      .slice(from, Math.min(words.length, from + 40 + Math.floorMod(h, 40L).toInt))
      .mkString(" ")
    val sb = new StringBuilder
    sb.append("Page ").append(spanOrder).append(" heading\n")
    // block text is "<body> end of paragraph content." after whitespace
    // collapse: the leading space vanishes when the body is empty
    if (body.nonEmpty) sb.append(body).append(' ')
    sb.append("end of paragraph content.")
    if (Math.floorMod(h, 2L) == 0)
      sb.append("\nSecond paragraph with enough prose to clear the density threshold for doc ")
        .append(docId).append(" span ").append(spanOrder).append('.')
    sb.toString
  }

  /** Full pipeline over the materialized pre-split layout (like
    * q_extract_text — the battery measures extraction, not synthesis);
    * md5(text) per html span. */
  def qExtractHtmlText(s: SparkSession, dir: String): DataFrame =
    Extract.run(Tables.preSplit(s, dir))
      .select(col("doc_id"), explode(col("span_seq")).as("sp"))
      .filter(col("sp.kind") === "html")
      .select(col("doc_id"), col("sp.order").as("span_order"),
        md5(col("sp.text").cast("binary")).as("text_md5"))
      .orderBy(col("doc_id"), col("span_order"))

  /** Shared CTE chain (doc_id, text, span_order, hi) over the documents
    * table — FlagshipQ's generator recurrence with the text column
    * carried through for the body slice. */
  private[queries] val spanCtesWithText: String = {
    val hc = hash64Sql("'corpus:' || doc_id")
    val hi = hash64Sql("'span:' || doc_id || ':' || span_order")
    s"""h AS (
       |  SELECT doc_id, text, $hc AS hc FROM documents
       |), n AS (
       |  SELECT doc_id, text,
       |    CAST(CASE WHEN doc_id % 251 = 0 AND doc_id > 0
       |      THEN 256 + ${floorModSql("hc", 256)}
       |      ELSE 2 + ${floorModSql("hc", 6)} END AS INT) AS n_spans
       |  FROM h
       |), s AS (
       |  SELECT doc_id, text, CAST(unnest(range(n_spans)) AS INT) AS span_order FROM n
       |), k AS (
       |  SELECT doc_id, text, span_order, $hi AS hi FROM s
       |)""".stripMargin
  }

  /** The html-law CTE (must follow [[spanCtesWithText]]): one row per
    * html span with the predicted plain text. The per-row whitespace
    * precondition is enforced inline: a doc whose text is not
    * single-spaced word-joined yields NULL predicted text, which
    * md5's to NULL and fails the driver's hash compare loudly instead
    * of silently passing a weaker law. */
  private[queries] val htmlLawCte: String =
    s"""w AS (
       |  SELECT doc_id, span_order,
       |    CASE WHEN text = array_to_string(string_split(text, ' '), ' ')
       |              AND NOT regexp_matches(text, '(^ )|( $$)|(  )|[\\t\\n\\r]')
       |         THEN 'Page ' || span_order || ' heading' || chr(10) ||
       |           CASE WHEN body = '' THEN '' ELSE body || ' ' END ||
       |           'end of paragraph content.' ||
       |           CASE WHEN ${floorModSql("hi", 2)} = 0
       |                THEN chr(10) || 'Second paragraph with enough prose to clear the density threshold for doc ' ||
       |                  doc_id || ' span ' || span_order || '.'
       |                ELSE '' END
       |         ELSE NULL END AS predicted
       |  FROM (
       |    SELECT doc_id, text, span_order, hi,
       |      array_to_string(
       |        list_slice(string_split(text, ' '), frm + 1,
       |                   least(len(string_split(text, ' ')), frm + body_len)),
       |        ' ') AS body
       |    FROM (
       |      SELECT doc_id, text, span_order, hi,
       |        CAST((hi // 256) % len(string_split(text, ' ')) AS INT) AS frm,
       |        CAST(40 + ${floorModSql("hi", 40)} AS INT) AS body_len
       |      FROM k WHERE ${floorModSql("hi", 10)} < 4
       |    )
       |  )
       |)""".stripMargin

  val oracle: String =
    s"""WITH $spanCtesWithText, $htmlLawCte
       |SELECT 'doc_' || doc_id AS doc_id, span_order,
       |       md5(predicted) AS text_md5
       |FROM w
       |ORDER BY doc_id, span_order""".stripMargin
}
