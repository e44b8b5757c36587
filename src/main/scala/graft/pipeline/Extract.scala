package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The distributed extraction job (SURVEY.md §3.4).
  *
  * Plan (hybrid, skew-aware):
  *
  *   scan (doc_id, spans)
  *     ├─ docs that are exactly one input row (the overwhelming mass):
  *     │    single-row docs with <= spreadThreshold spans, and pre-split
  *     │    docs with <= min(spreadThreshold, PartSize) spans (one part)
  *     │    -> row-local extraction + stitch IN THE SCAN STAGE
  *     │       ([[extractInRow]]: `transform` over the span array, order =
  *     │       array index) — no explode, no exchange, no sort;
  *     └─ mega-docs (the skew tail, and every multi-part pre-split doc):
  *          posexplode -> repartition by (doc_id, pos/RunSize) so one
  *          document's spans spread across the cluster BEFORE the heavy
  *          work (salting; the reference's own parallel unit is the
  *          page, gdocai.go:77-111), then a TWO-PHASE stitch whose
  *          partial phase REUSES that partitioning
  *   union of per-doc results
  *
  * Only the skew path shuffles, and only EXTRACTED text on its stitch:
  * two exchanges in the executed plan (the raw-span repartition and the
  * final merge on the single-row layout; the partial and the final
  * stitch on the pre-split layout), none on the small path. Ordering
  * always comes from the data (`order` = span position), never from
  * partition order.
  */
object Extract {

  /** Shared by the exploded paths and [[extractInRow]] — one
    * definition, no drift. */
  private[graft] val extractUdf =
    udf((kind: String, text: String, mediaRef: String) =>
      SpanExtract.extractSpanText(kind, text, mediaRef))

  /** The kinds SpanExtract transforms; every other kind passes through
    * unchanged (SpanExtract's `case _ => text`), so the plan routes only
    * these through the opaque UDF — pass-through spans stay inside
    * whole-stage codegen instead of paying a serialize/deserialize hop.
    * Single source of truth for batch AND streaming extraction. */
  val ExtractedKinds = Seq("html", "pdf_layout", "media")

  /** Docs above this span count take the spread (salted) path. */
  val DefaultSpreadThreshold = 64

  private def extracted(exploded: DataFrame): DataFrame =
    exploded.select(
      col("doc_id"),
      col("span.kind").as("kind"),
      when(col("span.kind").isin(ExtractedKinds: _*),
          extractUdf(col("span.kind"), col("span.text"), col("span.media_ref")))
        .otherwise(col("span.text")).as("text"),
      col("span.media_ref").as("media_ref"),
      col("pos").as("order"))

  /** Exploded per-span extraction, one row per span.
    *
    * If the input table carries a materialized `n_spans` column (the
    * corpus writer emits one), the small/big split filters on the COLUMN
    * so parquet row-group statistics prune the mega-doc branch's scan
    * (PushedFilters: n_spans > threshold skips nearly every row group);
    * otherwise it falls back to size(spans), which cannot push down. */
  def extractSpans(input: DataFrame, spreadThreshold: Int = DefaultSpreadThreshold): DataFrame = {
    // PRE-SPLIT layout: every row is already a bounded <= PartSize unit,
    // so extraction fuses into the (parallel) scan with NO repartition
    // and `order` is the reconstructed GLOBAL position — without this
    // dispatch, pos would be part-local and duplicate across parts
    if (input.columns.contains("part_idx"))
      return extracted(preSplitExploded(input))
    val withN = withNSpans(input)
    val small = withN.filter(col("n_spans") <= spreadThreshold)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
    val big = withN.filter(col("n_spans") > spreadThreshold)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .repartition(col("doc_id"), col("pos"))
    extracted(small).unionAll(extracted(big))
  }

  private def withNSpans(input: DataFrame): DataFrame =
    if (input.columns.contains("n_spans")) input
    else input.withColumn("n_spans", size(col("spans")))

  private def preSplitExploded(input: DataFrame): DataFrame =
    input
      .select(col("doc_id"), col("n_spans"), col("part_idx"),
        posexplode(col("spans")).as(Seq("p", "span")))
      .select(col("doc_id"), col("n_spans"),
        (col("part_idx").cast("int") * PartSize + col("p")).as("pos"), col("span"))

  /** Row-local extraction and stitch of docs that arrive whole in one
    * row: `transform` with the index lambda assigns `order` from array
    * position, and the extraction UDF fires only for the extracted
    * kinds. The small-doc path of [[run]] (both layouts) and the
    * streaming flagship (StreamingOps.extractStream) — batch and stream
    * are two execution modes of this one definition. Docs with no spans
    * yield no row, like the exploded stitch, which has nothing to group. */
  private[graft] def extractInRow(rows: DataFrame): DataFrame =
    rows
      .filter(size(col("spans")) > 0)
      .select(col("doc_id"), transform(col("spans"),
        (s, i) => struct(
          s.getField("kind").as("kind"),
          when(s.getField("kind").isin(ExtractedKinds: _*),
              extractUdf(s.getField("kind"), s.getField("text"), s.getField("media_ref")))
            .otherwise(s.getField("text")).as("text"),
          s.getField("media_ref").as("media_ref"),
          i.as("order"))).as("span_seq"))

  /** Two-phase stitch for the skew tail: partial sorted runs per
    * (doc_id, order/RunSize), then a final merge of pre-sorted runs. */
  private def stitchBig(ex: DataFrame): DataFrame =
    ex.groupBy(col("doc_id"), floor(col("order") / RunSize).as("run_id"))
      .agg(array_sort(collect_list(struct(
        col("order"), col("kind"), col("text"), col("media_ref")))).as("run"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("run_id"), col("run")))),
        (r: Column) => r.getField("run"))).as("seq0"))
      .select(col("doc_id"), reorderFields(col("seq0")).as("span_seq"))

  /** Spans per partial-stitch run on the mega-doc path. */
  val RunSize = 1024

  /** Spans per storage part in the PRE-SPLIT layout (== RunSize so part
    * rows coincide with partial-stitch runs). The pre-split layout —
    * (doc_id, part_idx, spans, n_spans) with fixed-size chunks, written
    * by [[graft.fixtures.CorpusGen.preSplit]] — is the storage-level
    * answer to the one scale-killer of the single-row layout: a 100k-span
    * doc stored as ONE parquet row is unsplittable, so its scan (and the
    * extraction fused into it) runs on one task no matter how the rest of
    * the plan spreads. Stored as ~98 bounded rows, the scan itself
    * parallelizes and NO raw-byte repartition is needed at all — the
    * first exchange carries extracted text only. */
  val PartSize: Int = RunSize

  private def reorderFields(seq: Column): Column =
    transform(seq, (s: Column) => struct(
      s.getField("kind").as("kind"),
      s.getField("text").as("text"),
      s.getField("media_ref").as("media_ref"),
      s.getField("order").as("order")))

  /** Full job: (doc_id, spans) -> (doc_id, span_seq) sorted by `order`.
    *
    * Stitch is TWO-PHASE for mega-docs (SURVEY.md §4.3): partial sorted
    * runs per (doc_id, order/RunSize) — spread across reducers — then a
    * final merge of S pre-sorted runs per doc. The final reducer handles
    * S array objects instead of n_spans individual rows, bounding the
    * single-group memory/CPU spike the skew tail would otherwise cause.
    * Small docs already arrive whole in one row, so they stitch inside
    * it ([[extractInRow]]) and never reach an exchange. */
  def run(input: DataFrame, spreadThreshold: Int = DefaultSpreadThreshold): DataFrame = {
    if (input.columns.contains("part_idx"))
      return runPreSplit(input, spreadThreshold)
    val withN = withNSpans(input)

    val smallOut = extractInRow(withN.filter(col("n_spans") <= spreadThreshold))

    // spread at RUN granularity: the partial-stitch groupBy below keys on
    // exactly (doc_id, floor(pos/RunSize)), so Catalyst reuses this
    // partitioning and the extracted text is NOT shuffled a second time
    // before the partial stitch (one exchange saved on the skew path; a
    // 100k-span doc still fans out across ~100 reducers)
    val big = withN.filter(col("n_spans") > spreadThreshold)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .repartition(col("doc_id"), floor(col("pos") / RunSize))
    val bigOut = stitchBig(extracted(big))

    smallOut.unionAll(bigOut)
  }

  /** Pre-split ingest: input is (doc_id, part_idx, spans, n_spans) with
    * fixed PartSize chunks (n_spans = the DOC total, the pushdown split
    * key). Global span position is reconstructed as
    * part_idx * PartSize + local position — order still comes from the
    * data, never from partition order.
    *
    * Plan shape: a doc of at most PartSize spans is ONE part row
    * (part_idx 0), so below the spread threshold it stitches inside that
    * row exactly like a small single-row doc. Every other doc — mega-docs
    * and multi-part docs under a raised threshold alike — takes the
    * two-phase stitch, whose partial runs coincide with part rows.
    * Extraction fuses into the scan on both paths (every row is a
    * bounded <= PartSize unit), so there is no raw-byte repartition. */
  private def runPreSplit(input: DataFrame, spreadThreshold: Int): DataFrame = {
    val inRow = col("n_spans") <= math.min(spreadThreshold, PartSize)
    val smallOut = extractInRow(input.filter(inRow))
    val bigOut = stitchBig(extracted(preSplitExploded(input.filter(!inRow))))
    smallOut.unionAll(bigOut)
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
