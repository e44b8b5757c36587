package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The distributed extraction job (SURVEY.md §3.4).
  *
  * Plan: every input row is extracted inside its scan row
  * ([[extractInRow]]: `transform` over the span array, order = base +
  * array index), so extraction fuses into the scan on both layouts.
  *
  *   single-row layout (doc_id, spans):
  *     scan -> extractInRow                       no exchange
  *
  *   pre-split layout (doc_id, part_idx, spans, n_spans):
  *     scan ├─ n_spans <= PartSize (one part row) -> extractInRow
  *          └─ n_spans >  PartSize (part rows)    -> extractInRow with
  *               base part_idx * PartSize -> groupBy(doc_id): sort the
  *               parts, flatten                   one exchange
  *     union
  *
  * Skew is handled by the storage layout, not by the plan: a mega-doc
  * stored as one parquet row is one serial scan task however its spans
  * are spread afterwards (BASELINE.md "Skew evidence": a salted spread
  * of a 100k-span doc took 4.4-5.2 s against 3.9-4.9 s in its row, and
  * 1.4 s pre-split). Stored as part rows, the scan and the extraction
  * fused into it parallelize, and only extracted text reaches the one
  * exchange. Ordering always comes from the data (`order` = span
  * position), never from partition order.
  */
object Extract {

  /** The one extraction UDF of [[extractInRow]]. */
  private val extractUdf =
    udf((kind: String, text: String, mediaRef: String) =>
      SpanExtract.extractSpanText(kind, text, mediaRef))

  /** The kinds SpanExtract transforms; every other kind passes through
    * unchanged (SpanExtract's `case _ => text`), so the plan routes only
    * these through the opaque UDF — pass-through spans stay inside
    * whole-stage codegen instead of paying a serialize/deserialize hop.
    * Single source of truth for batch AND streaming extraction. */
  val ExtractedKinds = Seq("html", "pdf_layout", "media")

  /** Spans per storage part in the PRE-SPLIT layout — (doc_id, part_idx,
    * spans, n_spans) with fixed-size chunks, written by
    * [[graft.fixtures.CorpusGen.preSplit]]. A 100k-span doc stored as ONE
    * parquet row is unsplittable, so its scan (and the extraction fused
    * into it) runs on one task; stored as ~98 bounded rows, the scan
    * itself parallelizes. */
  val PartSize: Int = 1024

  /** Row-local extraction and stitch: `transform` with the index lambda
    * assigns `order` = `base` + array position, and the extraction UDF
    * fires only for the extracted kinds. `base` is 0 for a row that
    * holds a whole doc and part_idx * PartSize for a pre-split part row.
    * Every path of [[run]] and [[extractSpans]], and the streaming
    * flagship (StreamingOps.extractStream) — batch and stream are two
    * execution modes of this one definition. Rows with no spans yield no
    * row. */
  private[graft] def extractInRow(rows: DataFrame, base: Column = lit(0)): DataFrame =
    rows
      .filter(size(col("spans")) > 0)
      .select(col("doc_id"), transform(col("spans"),
        (s, i) => struct(
          s.getField("kind").as("kind"),
          when(s.getField("kind").isin(ExtractedKinds: _*),
              extractUdf(s.getField("kind"), s.getField("text"), s.getField("media_ref")))
            .otherwise(s.getField("text")).as("text"),
          s.getField("media_ref").as("media_ref"),
          (base + i).as("order"))).as("span_seq"))

  private def isPreSplit(input: DataFrame): Boolean = input.columns.contains("part_idx")

  /** A part row's first global position. */
  private val partBase: Column = col("part_idx").cast("int") * PartSize

  /** Per-span extraction, one row per span (doc_id, kind, text,
    * media_ref, order): [[extractInRow]] on every input row, then
    * `inline`. No exchange on either layout; on the pre-split layout
    * `order` is the GLOBAL position. */
  def extractSpans(input: DataFrame): DataFrame =
    extractInRow(input, if (isPreSplit(input)) partBase else lit(0))
      .select(col("doc_id"), inline(col("span_seq")))

  /** Full job: (doc_id, spans) -> (doc_id, span_seq) sorted by `order`.
    *
    * Pre-split ingest: input is (doc_id, part_idx, spans, n_spans) with
    * fixed PartSize chunks (n_spans = the DOC total). A doc of at most
    * PartSize spans is ONE part row and is extracted in it like a
    * single-row doc. The parts of a bigger doc are extracted in their own
    * rows, then merged in one exchange: per doc, the runs sorted by
    * part and flattened. The split filters on the n_spans COLUMN, so
    * parquet row-group statistics prune the merge branch's scan. */
  def run(input: DataFrame): DataFrame = {
    if (!isPreSplit(input)) return extractInRow(input)
    val onePart = col("n_spans") <= PartSize
    // a part's run starts at order part_idx * PartSize, so sorting the
    // runs by their first order sorts them by part
    val merged = extractInRow(input.filter(!onePart), partBase)
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(
          col("span_seq")(0)("order").as("first"), col("span_seq").as("run")))),
        (r: Column) => r.getField("run"))).as("span_seq"))
    extractInRow(input.filter(onePart)).unionAll(merged)
  }

  /** The extract->curate capstone composition: run the full interleaved
    * extraction, stitch each doc's span texts into one string, then the
    * curation layer over the EXTRACTED text — exact-dup fingerprint
    * (min-doc representative) and a length gate, fixed reason priority.
    * Rows-only at the driver (the extraction half is not
    * SQL-expressible); invariants pinned by ExtractCurateSpec,
    * including a planted extracted-text duplicate. */
  def extractCurate(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    run(corpus)
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(span_seq, sp -> sp.text)")).as("text"))
      .withColumn("fp", graft.queries.DedupQ.exactFp(col("text")))
      .withColumn("n_tokens",
        // split("") yields [""] (size 1) — an all-empty extraction must
        // report ZERO tokens, not one
        when(trim(col("text")) === "", lit(0L))
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("fp"), col("n_tokens"),
        when(col("doc_id") =!= col("rep"), "dup_extracted")
          .when(col("n_tokens") < 20, "too_short")
          .otherwise("kept").as("reason"))
      .orderBy(col("doc_id"))
  }
}
