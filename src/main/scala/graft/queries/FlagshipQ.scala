package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.CorpusGen
import graft.pipeline.Extract

/** The flagship extraction query WITH an independent DuckDB oracle
  * (round-2 verdict "Next round" #2).
  *
  * The corpus derives deterministically from the documents table
  * (CorpusGen.genDoc): per-doc span count, per-position kind, and
  * media_ref values are pure splitmix64 arithmetic over
  * "corpus:<doc_id>" / "span:<doc_id>:<i>" strings. That arithmetic IS
  * SQL-expressible — DuckDB has list_reduce + HUGEINT, and 64-bit
  * wraparound multiplication decomposes into 32-bit halves — so the
  * oracle below re-derives, from the documents parquet alone and with no
  * knowledge of the Scala implementation beyond the published recurrence,
  * every structural column the flagship emits:
  *
  *   n_spans     = 256 + fm(h("corpus:"+id), 256)  if id%251==0 && id>0
  *                 2   + fm(h("corpus:"+id), 6)    otherwise
  *   kind[i]     = [html|pdf_layout|media] by fm(h("span:"+id+":"+i), 10)
  *   media_ref[i]= "img://" + hex16(h(...))        for media spans
  *
  * The Spark side runs the FULL extraction job (Extract.run — UDF
  * extraction and stitch inside each scan row) and projects exactly
  * those columns plus text_nonempty, which forces the extraction UDF to
  * execute (nested-field pruning cannot elide it) and pins the
  * "every html/pdf_layout/media span extracts to non-empty text"
  * invariant the golden suite established. Text VALUES stay pinned by
  * the goldens and the rows-only q_extract_text; this row makes the
  * flagship's structure independently hash-checked.
  */
object FlagshipQ {

  // ---- splitmix64 (MediaOcr.hash64) re-expressed as DuckDB SQL ----

  private[queries] val M32 = BigInt(1) << 32
  private[queries] val M64s = "18446744073709551616" // 2^64
  private[queries] val C1 = BigInt("BF58476D1CE4E5B9", 16)
  private[queries] val C2 = BigInt("94D049BB133111EB", 16)
  private[queries] val Seed = BigInt("9E3779B97F4A7C15", 16)

  /** (a * c) mod 2^64 with a: HUGEINT in [0, 2^64), c constant.
    * Split c into 32-bit halves so no intermediate exceeds ~2^65
    * (HUGEINT is signed 128-bit; a full 64x64 product would overflow). */
  private[queries] def mul64(a: String, c: BigInt): String = {
    val lo = c % M32
    val hi = c / M32
    s"((($a) % 4294967296) * $lo + " +
      s"(((($a) % 4294967296) * $hi + (($a) // 4294967296) * $lo) % 4294967296) * 4294967296) " +
      s"% $M64s::HUGEINT"
  }

  /** One splitmix64 absorb step as a list_reduce lambda body over
    * (h: HUGEINT acc, b: HUGEINT byte). Unsigned >>> k on a value kept in
    * [0, 2^64) is integer division by 2^k. */
  private val stepBody: String = {
    val h1 = "xor(h, b)"
    val h2 = s"(${mul64(h1, C1)})"
    val h3 = s"xor($h2, $h2 // 134217728)" // >>> 27
    val h4 = s"(${mul64(h3, C2)})"
    s"xor($h4, $h4 // 2147483648)" // >>> 31
  }

  /** hash64 of an ASCII string expression -> HUGEINT in [0, 2^64). */
  def hash64Sql(strExpr: String): String =
    s"list_reduce(list_prepend($Seed::HUGEINT, " +
      s"list_transform(string_split($strExpr, ''), c -> unicode(c)::HUGEINT)), " +
      s"(h, b) -> ($stepBody))"

  /** Math.floorMod(signed64(h), n) for n > 0, h unsigned in [0, 2^64). */
  def floorModSql(h: String, n: Long): String =
    s"((((CASE WHEN ($h) >= 9223372036854775808::HUGEINT " +
      s"THEN ($h) - $M64s::HUGEINT ELSE ($h) END) % $n) + $n) % $n)"

  /** `f"%016x"` of the unsigned 64-bit value. */
  private[queries] def hex16Sql(h: String): String =
    s"lpad(lower(hex($h)), 16, '0')"

  val oracle: String = {
    val hc = hash64Sql("'corpus:' || doc_id")
    val hi = hash64Sql("'span:' || doc_id || ':' || span_order")
    s"""WITH h AS (
       |  SELECT doc_id, $hc AS hc FROM documents
       |), n AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN doc_id % 251 = 0 AND doc_id > 0
       |      THEN 256 + ${floorModSql("hc", 256)}
       |      ELSE 2 + ${floorModSql("hc", 6)} END AS INT) AS n_spans
       |  FROM h
       |), s AS (
       |  SELECT doc_id, n_spans, CAST(unnest(range(n_spans)) AS INT) AS span_order FROM n
       |), k AS (
       |  SELECT doc_id, n_spans, span_order, $hi AS hi FROM s
       |)
       |SELECT 'doc_' || doc_id AS doc_id, span_order, n_spans,
       |  CASE WHEN ${floorModSql("hi", 10)} < 4 THEN 'html'
       |       WHEN ${floorModSql("hi", 10)} < 7 THEN 'pdf_layout'
       |       ELSE 'media' END AS kind,
       |  CASE WHEN ${floorModSql("hi", 10)} >= 7 THEN 'img://' || ${hex16Sql("hi")}
       |       ELSE '' END AS media_ref,
       |  TRUE AS text_nonempty
       |FROM k""".stripMargin
  }

  /** Structural projection of a finished extraction (doc_id, span_seq). */
  def project(extracted: DataFrame): DataFrame =
    extracted
      .select(col("doc_id"), size(col("span_seq")).as("n_spans"),
        explode(col("span_seq")).as("sp"))
      .select(col("doc_id"), col("sp.order").as("span_order"), col("n_spans"),
        col("sp.kind").as("kind"), col("sp.media_ref").as("media_ref"),
        (length(col("sp.text")) > 0).as("text_nonempty"))

  def qFlagship(s: SparkSession, dir: String): DataFrame =
    project(Extract.run(CorpusGen.fromDocuments(s, dir)))

  /** Same job over the PRE-SPLIT materialized corpus (the bench layout):
    * the battery entry that measures extraction, not in-query corpus
    * synthesis (round-2 verdict #9). Output — and oracle — identical to
    * qFlagship: global span order reconstructed from part_idx must agree
    * with the single-row layout bit-for-bit. */
  def qFlagshipPreSplit(s: SparkSession, dir: String): DataFrame =
    project(Extract.run(Tables.preSplit(s, dir)))
}
