package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The positioned-spans relation (SURVEY.md §2.C P-7/P-8: our engine's
  * replacement for the PDF sink) expressed as NATIVE Column arithmetic —
  * the P-9 drawWord geometry (layer.go:113-144) and P-11 normalizeCoords
  * (helpers.go:12-16) are pure math, so they run in whole-stage codegen
  * with no UDF. Word boxes are synthesized deterministically from the
  * documents table (integer arithmetic -> identical doubles on both
  * engines).
  *
  * Geometry (FontConfig defaults: size 10, AscentRatio 0.718):
  *   (x, y)   = normalizeCoords(x1, y1)   [hocr 1000x1400 -> pdf 612x792]
  *   width    = normalize(x2) - normalize(x1)
  *   strWidth = 0.5 * size * len(word)    [deterministic metric stand-in]
  *   fontSize = size * width / strWidth
  *   baseline = y + fontSize * 0.718
  */
object PositionedQ {

  def qPositionedWords(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
    val words = docs
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("w_idx", "w")))
      .select(
        col("doc_id"), col("w_idx"), col("w"),
        (col("w_idx") % 10 * 95 + 20).as("x1"),
        (floor(col("w_idx") / 10) * 30 + 40).cast("long").as("y1"),
        (col("w_idx") % 10 * 95 + 20 + length(col("w")) * 9).as("x2"))
    words.select(
        col("doc_id"), col("w_idx"), col("w"),
        (col("x1") / 1000.0 * 612.0).as("x"),
        (col("y1") / 1400.0 * 792.0).as("y0"),
        ((col("x2") - col("x1")) / 1000.0 * 612.0).as("width"),
        length(col("w")).as("wlen"))
      .select(
        col("doc_id"), col("w_idx"), col("w"), col("x"), col("width"),
        (lit(10.0) * col("width") / (lit(0.5) * 10.0 * col("wlen"))).as("font_size"),
        (col("y0") + lit(10.0) * col("width") / (lit(0.5) * 10.0 * col("wlen")) * 0.718).as("baseline_y"))
  }

  val qPositionedWordsSql: String =
    """WITH words AS (
      |  SELECT doc_id, CAST(i - 1 AS INT) AS w_idx, w[CAST(i AS INT)] AS w
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |        FROM documents WHERE doc_id < 100) t,
      |       UNNEST(generate_series(1, length(w))) AS u(i)
      |),
      |boxes AS (
      |  SELECT doc_id, w_idx, w,
      |    (w_idx % 10) * 95 + 20 AS x1,
      |    CAST(FLOOR(w_idx / 10) * 30 + 40 AS BIGINT) AS y1,
      |    (w_idx % 10) * 95 + 20 + length(w) * 9 AS x2
      |  FROM words
      |),
      |geo AS (
      |  SELECT doc_id, w_idx, w,
      |    CAST(x1 AS DOUBLE) / CAST(1000 AS DOUBLE) * CAST(612 AS DOUBLE) AS x,
      |    CAST(y1 AS DOUBLE) / CAST(1400 AS DOUBLE) * CAST(792 AS DOUBLE) AS y0,
      |    CAST(x2 - x1 AS DOUBLE) / CAST(1000 AS DOUBLE) * CAST(612 AS DOUBLE) AS width,
      |    length(w) AS wlen
      |  FROM boxes
      |)
      |SELECT doc_id, w_idx, w, x, width,
      |  CAST(10 AS DOUBLE) * width / (CAST(0.5 AS DOUBLE) * CAST(10 AS DOUBLE) * wlen) AS font_size,
      |  y0 + CAST(10 AS DOUBLE) * width / (CAST(0.5 AS DOUBLE) * CAST(10 AS DOUBLE) * wlen) * CAST(0.718 AS DOUBLE) AS baseline_y
      |FROM geo ORDER BY doc_id, w_idx""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_positioned_words" -> ((qPositionedWords _, Some(qPositionedWordsSql))))
}
