package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, ExtractSpanSeq}

/** The distributed extraction job (SURVEY.md §3.4).
  *
  * Plan: every input row is extracted inside its scan row
  * ([[extractInRow]]: one `extract_span_seq` call per row, order = base
  * + array index), so extraction never leaves the row on either layout.
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

  /** Spans per storage part in the PRE-SPLIT layout — (doc_id, part_idx,
    * spans, n_spans) with fixed-size chunks, written by
    * [[graft.fixtures.CorpusGen.preSplit]]. A 100k-span doc stored as ONE
    * parquet row is unsplittable, so its scan (and the extraction fused
    * into it) runs on one task; stored as ~98 bounded rows, the scan
    * itself parallelizes. */
  val PartSize: Int = 1024

  private val hasSpans: Column = size(col("spans")) > 0

  /** Row-local extraction and stitch: one [[ExtractSpanSeq]] per row
    * runs SpanExtract over the extracted kinds, passes every other span
    * through and assigns `order` = `base` + array position. `base` is 0
    * for a row that holds a whole doc and part_idx * PartSize for a
    * pre-split part row. Every path of [[run]], the resumable sink and
    * the streaming flagship (StreamingOps.extractStream) — batch and
    * stream are two execution modes of this one definition. Rows with
    * no spans yield no row. */
  private[graft] def extractInRow(rows: DataFrame, base: Column = lit(0)): DataFrame =
    rows.filter(hasSpans).select(col("doc_id"), spanSeq(base).as("span_seq"))

  private def spanSeq(base: Column): Column =
    ColumnBridge.of(ExtractSpanSeq(ColumnBridge.expr(col("spans")), ColumnBridge.expr(base)))

  private def isPreSplit(input: DataFrame): Boolean = input.columns.contains("part_idx")

  /** A part row's first global position. */
  private val partBase: Column = col("part_idx").cast("int") * PartSize

  /** Per-span extraction, one row per span (doc_id, kind, text,
    * media_ref, order): the span law of [[extractInRow]] on every input
    * row, exploded by `inline`. No exchange on either layout; on the
    * pre-split layout `order` is the GLOBAL position. `inline` takes the
    * expression itself, not a `span_seq` column: over a column the
    * optimizer infers `size(span_seq) > 0 AND span_seq IS NOT NULL` for
    * the generator and pushes that filter below the projection, so the
    * plan holds three copies of the extraction per row. */
  def extractSpans(input: DataFrame): DataFrame =
    input.filter(hasSpans)
      .select(col("doc_id"), inline(spanSeq(if (isPreSplit(input)) partBase else lit(0))))

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
    // (first, run) pairs sorts the runs by part
    val merged = extractInRow(input.filter(!onePart), partBase)
      .groupBy(col("doc_id"))
      .agg(flatten(sort_array(collect_list(struct(
        col("span_seq")(0)("order").as("first"), col("span_seq").as("run"))))("run"))
        .as("span_seq"))
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
  }
}
