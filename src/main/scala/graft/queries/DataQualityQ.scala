package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables.documents

/** Pipeline-reliability operators (engine-side additions, SURVEY.md
  * §2.F/G): a declarative data-quality check suite (the Deequ/
  * expectations pattern), a JSONL sink→source round-trip through
  * Spark's real json writer/reader, and schema-evolution reads over
  * parquet files written at different schema versions. At 100 TB the
  * corpus is append-forever and multi-writer — validation, interchange
  * and evolution are what keep it queryable.
  *
  * Determinism rules (CLAUDE.md): counts are BIGINT; violations are
  * PLANTED by doc/key arithmetic (the base tables are clean — verified:
  * zero nulls/orphans/dups/negatives — so every violation row is an
  * independent prediction, never an accident of the generator).
  */
object DataQualityQ {

  // ---------------------------------------------------------------------
  // q_dq_checks — declarative constraint validation with planted bad rows
  // ---------------------------------------------------------------------

  /** Declarative data-quality suite over the orders feed: five
    * constraint classes (not-null, value range, accepted values, key
    * uniqueness, referential integrity) evaluated in bulk, one result
    * row per check with checked/violation counts and a pass flag.
    * Violations are planted as three deterministic corrupted slices
    * (keys shifted into fresh ranges, one slice duplicated verbatim),
    * so both engines predict every count exactly.
    *
    * Scale notes: the three scan constraints (null/range/values) fold
    * into ONE partial aggregate over a single pass — adding checks adds
    * expressions, not scans (the Deequ insight); uniqueness rides the
    * same aggregate as an exact COUNT DISTINCT; referential integrity
    * is a LEFT ANTI join against the dimension's key column only
    * (broadcast-sized at any corpus scale: it is the CUSTOMER key set).
    * The two one-row aggregates cross-join trivially. */
  def qDqChecks(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.read(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val nullSlice = base.filter(col("o_orderkey") % 97 === 13)
      .select((col("o_orderkey") + 5000000L).as("o_orderkey"),
        lit(null).cast("long").as("o_custkey"),
        lit("X").as("o_orderstatus"), lit(-1.0).as("o_totalprice"))
    val riSlice = base.filter(col("o_orderkey") % 97 === 29)
      .select((col("o_orderkey") + 6000000L).as("o_orderkey"),
        lit(-42L).as("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val dupSlice = base.filter(col("o_orderkey") % 101 === 7)
    val t = base.unionByName(nullSlice).unionByName(riSlice).unionByName(dupSlice)
    val cust = Tables.read(s, dir, "customer").select(col("c_custkey"))
    checkSuite(t, cust)
  }

  /** The check suite proper, over any orders-shaped relation — split out
    * so the no-false-positive law (clean input → every check passes) is
    * testable on the uncorrupted table. */
  def checkSuite(t: DataFrame, cust: DataFrame): DataFrame = {
    val agg = t.agg(
      count(lit(1)).as("n_total"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("n_neg"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("n_bad"),
      countDistinct(col("o_orderkey")).as("ndv"),
      sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_cust_checked"))
    val orphans = t.filter(col("o_custkey").isNotNull)
      .join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    agg.crossJoin(orphans)
      .selectExpr(
        """stack(5,
          |  'accepted_values_orderstatus', n_total, n_bad,
          |  'not_null_custkey', n_total, n_null_cust,
          |  'range_totalprice_nonneg', n_total, n_neg,
          |  'ref_custkey_in_customer', n_cust_checked, n_orphans,
          |  'unique_orderkey', n_total, n_total - ndv) AS (check_name, c, v)""".stripMargin)
      .select(col("check_name"), col("c").cast("long").as("n_checked"),
        col("v").cast("long").as("n_violations"), (col("v") === 0).as("pass"))
      .orderBy(col("check_name"))
  }

  val qDqChecksSql: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 5000000, CAST(NULL AS BIGINT), 'X', -1.0
      |  FROM orders WHERE o_orderkey % 97 = 13
      |  UNION ALL
      |  SELECT o_orderkey + 6000000, -42, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 29
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 101 = 7),
      |a AS (SELECT COUNT(*) AS n_total,
      |        SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_null_cust,
      |        SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS n_neg,
      |        SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS n_bad,
      |        COUNT(DISTINCT o_orderkey) AS ndv,
      |        SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS n_cust
      |      FROM t),
      |o AS (SELECT COUNT(*) AS n_orphans FROM t
      |      WHERE o_custkey IS NOT NULL
      |        AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
      |r AS (
      |  SELECT 'accepted_values_orderstatus' AS check_name,
      |         CAST(n_total AS BIGINT) AS n_checked, CAST(n_bad AS BIGINT) AS n_violations FROM a
      |  UNION ALL SELECT 'not_null_custkey', CAST(n_total AS BIGINT), CAST(n_null_cust AS BIGINT) FROM a
      |  UNION ALL SELECT 'range_totalprice_nonneg', CAST(n_total AS BIGINT), CAST(n_neg AS BIGINT) FROM a
      |  UNION ALL SELECT 'ref_custkey_in_customer', CAST(n_cust AS BIGINT), CAST(n_orphans AS BIGINT) FROM a, o
      |  UNION ALL SELECT 'unique_orderkey', CAST(n_total AS BIGINT), CAST(n_total - ndv AS BIGINT) FROM a)
      |SELECT check_name, n_checked, n_violations, n_violations = 0 AS pass
      |FROM r ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------------------
  // q_jsonl_roundtrip — JSONL sink -> source round-trip
  // ---------------------------------------------------------------------

  /** JSONL interchange round-trip through Spark's REAL json writer and
    * reader: a deterministic slice of the documents table is written as
    * newline-delimited JSON, re-read with an EXPLICIT schema, joined
    * back to the original rows, and reported per source with an exact
    * text/lang equality count — a broken writer escape, reader parse,
    * or schema mapping shows up as n_exact < n_docs or a hash mismatch.
    * The oracle predicts every number from the documents table alone
    * (round-trip fidelity IS the claim under test).
    *
    * Scale notes: the reader gets an explicit schema — schema INFERENCE
    * is a full extra pass over 100 TB and is the classic JSONL-at-scale
    * mistake; the validation join is keyed on doc_id (co-partitioned
    * shuffle, fingerprint-narrow columns). The writer path is the
    * corpus-drop interchange sink; line-delimited JSON splits cleanly
    * across executors, unlike multi-line JSON arrays. */
  def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val sfName = Paths.get(dir).getFileName.toString
    val root = s"/tmp/graft_jsonl_$sfName"
    val docs = documents(s, dir)
    docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .write.mode("overwrite").json(root)
    val back = s.read
      .schema("doc_id LONG, lang STRING, source STRING, text STRING")
      .json(root)
    back.as("b")
      .join(docs.as("d"), col("b.doc_id") === col("d.doc_id"))
      .groupBy(col("b.source").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("b.text"))).as("sum_chars"),
        sum(when(col("b.text") === col("d.text") && col("b.lang") === col("d.lang"), 1L)
          .otherwise(0L)).as("n_exact"))
      .orderBy(col("source"))
  }

  val qJsonlRoundtripSql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(COUNT(*) AS BIGINT) AS n_exact
      |FROM documents WHERE doc_id % 7 = 0
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q_schema_evolve — mergeSchema read over two parquet schema versions
  // ---------------------------------------------------------------------

  /** Schema evolution: two parquet fixtures written at different schema
    * versions (v1 lacks the `quality` column added in v2) are read back
    * in ONE load with mergeSchema, and the merged relation aggregates
    * per lang — legacy rows surface as NULL quality, never as a failed
    * read. This is the append-forever corpus reality: readers must span
    * every historical writer version.
    *
    * Scale notes: mergeSchema reconciles footers at planning time; the
    * data pass stays one columnar scan and the missing column
    * materializes as nulls without rewriting v1 files (the alternative
    * — a backfill rewrite of 100 TB — is exactly what evolution
    * avoids). Aggregation is a plain partial-agg groupBy. */
  def qSchemaEvolve(s: SparkSession, dir: String): DataFrame = {
    val sfName = Paths.get(dir).getFileName.toString
    val root = s"/tmp/graft_evolve_$sfName"
    val docs = documents(s, dir)
    docs.filter(col("doc_id") % 40 === 1)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$root/v1")
    docs.filter(col("doc_id") % 40 === 2)
      .select(col("doc_id"), col("lang"), (col("doc_id") % 100).as("quality"))
      .write.mode("overwrite").parquet(s"$root/v2")
    s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_legacy"),
        coalesce(sum(col("quality")), lit(0L)).as("sum_quality"))
      .orderBy(col("lang"))
  }

  val qSchemaEvolveSql: String =
    """WITH m AS (
      |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS quality
      |  FROM documents WHERE doc_id % 40 = 1
      |  UNION ALL
      |  SELECT doc_id, lang, doc_id % 100 FROM documents WHERE doc_id % 40 = 2)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
      |  CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS sum_quality
      |FROM m GROUP BY lang ORDER BY lang""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_dq_checks" -> ((qDqChecks _, Some(qDqChecksSql))),
    "q_jsonl_roundtrip" -> ((qJsonlRoundtrip _, Some(qJsonlRoundtripSql))),
    "q_schema_evolve" -> ((qSchemaEvolve _, Some(qSchemaEvolveSql))))
}
