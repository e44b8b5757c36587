package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QCache.ScopedCacheOps
import Tables.documents

/** Delta-processing + catalog operators (engine-side additions, SURVEY.md
  * §2.F/G — the reference pipeline is single-snapshot and keeps no
  * catalog): snapshot diff for incremental corpus maintenance, an EXACT
  * all-pairs similarity join via prefix filtering (the deterministic
  * counterpart to the MinHash/SimHash probabilistic family), and
  * ANALYZE-style column statistics.
  *
  * Determinism rules (CLAUDE.md): counts are BIGINT; similarity is
  * integer basis points (never a rounded double ratio); hashes are md5.
  */
object DeltaQ {

  // ---------------------------------------------------------------------
  // q_snapshot_diff — fingerprint diff of two corpus snapshots
  // ---------------------------------------------------------------------

  /** Snapshot diff — the incremental-maintenance primitive: given corpus
    * v1 and v2, classify every key as added / removed / changed /
    * unchanged by comparing content FINGERPRINTS, never text. v2 derives
    * deterministically from v1 so both engines build the identical pair
    * of snapshots from the documents table alone: doc_id % 17 == 3
    * dropped, doc_id % 17 == 5 revised (text || ' rev2'), doc_id % 29
    * == 0 additionally spawns a new doc at doc_id + 2000000.
    *
    * Scale notes: both sides project (key, source, md5) BEFORE the full
    * outer join, so the one shuffle carries 32-byte fingerprints — at
    * 100 TB the diff costs two fingerprint scans + one co-partitioned
    * equi-join regardless of document size, and in a lakehouse layout
    * both sides would be bucketed on doc_id making it shuffle-free. The
    * classification rolls up to (source, status) counts map-side. */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = documents(s, dir)
      .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("fp"))
    val base = documents(s, dir)
    val v2 = base
      .filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("source"),
        md5(when(col("doc_id") % 17 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).cast("binary")).as("fp"))
      .unionAll(base
        .filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
          md5(concat(lit("new "), col("text")).cast("binary")).as("fp")))
    v1.as("a")
      .join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        coalesce(col("a.source"), col("b.source")).as("source"),
        when(col("a.fp").isNull, "added")
          .when(col("b.fp").isNull, "removed")
          .when(col("a.fp") === col("b.fp"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val qSnapshotDiffSql: String =
    """WITH v1 AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
      |v2 AS (
      |  SELECT doc_id, source,
      |         md5(CASE WHEN doc_id % 17 = 5 THEN text || ' rev2' ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 17 <> 3
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, source, md5('new ' || text) AS fp
      |  FROM documents WHERE doc_id % 29 = 0)
      |SELECT COALESCE(a.source, b.source) AS source,
      |  CASE WHEN a.fp IS NULL THEN 'added'
      |       WHEN b.fp IS NULL THEN 'removed'
      |       WHEN a.fp = b.fp THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
      |GROUP BY 1, 2 ORDER BY source, status""".stripMargin

  // ---------------------------------------------------------------------
  // q_prefix_jaccard — EXACT similarity join via prefix filtering
  // ---------------------------------------------------------------------

  /** Jaccard threshold in tenths (8 = 0.8). */
  val PjThresholdTenths = 8

  /** Exact all-pairs Jaccard join with PREFIX FILTERING (PPJoin-style) —
    * the deterministic, zero-false-negative counterpart to the LSH
    * battery: order each doc's distinct 3-token shingles by global
    * rarity (df asc, fp asc), keep only the first n - ceil(0.8n) + 1
    * ("the prefix" — if two docs share NO prefix shingle their Jaccard
    * is provably < 0.8), generate candidates by equi-join on prefix
    * shingles, then verify with an exact intersection count. Guarantees
    * every qualifying pair is found — what MinHash cannot promise.
    *
    * Near-dup pairs are planted fixture-in-query (the q_fuzzy_dedup
    * pattern): doc_id % 23 == 7 with >= 30 tokens gets a variant at
    * doc_id + 3000000 with three appended tokens (3 extra shingles →
    * Jaccard n/(n+3)).
    *
    * Scale notes: the df relation is the shingle VOCABULARY (bounded,
    * AQE-broadcastable); the prefix pick is a per-doc window (partition
    * = doc, never global); the candidate join shuffles only PREFIX rows
    * (~20% of shingles, and the globally-rarest ones, so bucket fan-out
    * is tiny — max df 25 here); verification joins the bounded candidate
    * list back to shingles, cost proportional to candidates, never
    * all-pairs. Similarity is integer basis points — no float drift. */
  def qPrefixJaccard(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("doc_id"), col("text"))
    val corpus = base.unionAll(base
      .filter(col("doc_id") % 23 === 7 &&
        size(split(trim(col("text")), "\\s+")) >= 30)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text")))
    val sh = corpus
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - 2)).as("i"), col("toks"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(3))).cast("binary")).as("fp"))
      .distinct()
      .scopedCache()
    val dfRel = sh.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val nRel = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("fp"))
    val pref = sh.join(dfRel, Seq("fp")).withColumn("rn", row_number().over(w))
      .join(nRel, Seq("doc_id"))
      .filter(col("rn") <= col("n") - expr("(8 * n + 9) div 10") + 1)
      .select(col("doc_id"), col("fp"), col("n"))
      // self-joined for candidates: cache so the df-join + per-doc
      // rarity window runs once, not once per join side
      .scopedCache()
    // PPJoin's companion LENGTH filter: Jaccard <= min(n_a,n_b)/max(n_a,n_b),
    // so J >= 0.8 is impossible unless 10*min >= 8*max — pairs whose sizes
    // alone preclude the threshold never become candidates (exactness
    // preserved: the final verification filter is exact). Measured at
    // sf0.1: candidates 125,705 -> 46,024 (-63%), shrinking both the
    // candidate shuffle and the verification join; on a real crawl with
    // heavy size spread this predicate is the difference between PPJoin
    // and "prefix filter only".
    val cand = pref.as("a")
      .join(pref.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")) * 10 >= greatest(col("a.n"), col("b.n")) * PjThresholdTenths)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(sh.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sh.as("y"), col("doc_b") === col("y.doc_id") && col("x.fp") === col("y.fp"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(nRel.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(nRel.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .filter(col("inter") * 10 >= (col("n_a") + col("n_b") - col("inter")) * PjThresholdTenths)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        expr("(inter * 10000) div (n_a + n_b - inter)").as("jacc_bp"))
  }

  val qPrefixJaccardSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id, text || ' zq zq zq' AS text
       |  FROM documents
       |  WHERE doc_id % 23 = 7 AND length(regexp_split_to_array(trim(text), '\\s+')) >= 30),
       |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
       |sh AS (SELECT DISTINCT doc_id,
       |         md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS fp
       |       FROM t, UNNEST(generate_series(1, length(toks) - 2)) AS u(i)
       |       WHERE length(toks) >= 3),
       |d AS (SELECT fp, COUNT(*) AS df FROM sh GROUP BY 1),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pr AS (SELECT doc_id, fp, n FROM (
       |        SELECT s.doc_id, s.fp,
       |          ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.fp) AS rn, n.n
       |        FROM sh s JOIN d ON d.fp = s.fp JOIN n ON n.doc_id = s.doc_id) z
       |      WHERE rn <= n - ((8 * n + 9) // 10) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |           AND LEAST(a.n, b.n) * 10 >= GREATEST(a.n, b.n) * $PjThresholdTenths),
       |i AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |      FROM cand c JOIN sh x ON x.doc_id = c.doc_a
       |                 JOIN sh y ON y.doc_id = c.doc_b AND y.fp = x.fp
       |      GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
       |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
       |  CAST((i.inter * 10000) // (na.n + nb.n - i.inter) AS BIGINT) AS jacc_bp
       |FROM i JOIN n na ON na.doc_id = i.doc_a JOIN n nb ON nb.doc_id = i.doc_b
       |WHERE i.inter * 10 >= (na.n + nb.n - i.inter) * $PjThresholdTenths
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q_col_stats — ANALYZE-style column statistics
  // ---------------------------------------------------------------------

  /** ANALYZE-style column statistics — the catalog/CBO primitive every
    * engine runs before planning: per column, row count, null count,
    * exact NDV, min and max. The table is unpivoted with one `stack`
    * (ONE scan feeding a single partial aggregate, not one scan per
    * column); numeric columns are zero-padded so lexicographic min/max
    * equals numeric order in both engines.
    *
    * Scale notes: the stack multiplies map-side rows by the column
    * count but never re-reads the table; count-distinct expands per
    * (col, value) with map-side partial aggregation — exact NDV is the
    * one-off-stats trade, the streaming-friendly alternative is the
    * deterministic HLL already in the battery (q_approx_distinct). */
  def qColStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .selectExpr(
        """stack(4,
          |  'doc_id',  lpad(CAST(doc_id  AS STRING), 8, '0'),
          |  'lang',    lang,
          |  'n_chars', lpad(CAST(n_chars AS STRING), 8, '0'),
          |  'source',  source) AS (col_name, v)""".stripMargin)
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))

  val qColStatsSql: String =
    """WITH u AS (
      |  SELECT 'doc_id' AS col_name, lpad(CAST(doc_id AS VARCHAR), 8, '0') AS v FROM documents
      |  UNION ALL SELECT 'lang', lang FROM documents
      |  UNION ALL SELECT 'n_chars', lpad(CAST(n_chars AS VARCHAR), 8, '0') FROM documents
      |  UNION ALL SELECT 'source', source FROM documents)
      |SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
      |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
      |  MIN(v) AS min_v, MAX(v) AS max_v
      |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin

  // ---------------------------------------------------------------------
  // q_compaction_plan — small-file compaction bin-packing
  // ---------------------------------------------------------------------

  /** Compaction bin target (bytes). */
  val CompactTarget = 2097152L

  /** Small-file COMPACTION PLAN — the table-maintenance pass every
    * 100-TB lake runs: group each partition's files into target-size
    * (2 MiB here; 128 MiB-1 GiB in production) output bins by a
    * running-sum pack in file order. bin = floor(bytes_before / target),
    * so every bin except a partition's last crosses the target exactly
    * once and files stay CONTIGUOUS in file order (first_file/last_file
    * describe a rewrite range — the plan a compactor can execute as
    * one ordered scan per partition). The file manifest derives
    * deterministically from documents (file = doc, size = n_chars KiB),
    * so DuckDB re-plans it independently.
    *
    * Scale notes: the running sum is a per-PARTITION window (source),
    * never a global sort; the output is the tiny (partition, bin)
    * relation the rewrite job consumes. Planning cost is one manifest
    * scan — at 100 TB the manifest is the table's file LISTING (millions
    * of rows), not its data. */
  def qCompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, dir)
      .select(col("doc_id").as("file_id"), col("source"),
        (col("n_chars").cast("long") * 1024L).as("size_bytes"))
      .withColumn("cum_before", coalesce(sum(col("size_bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $CompactTarget"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("size_bytes")).as("bin_bytes"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
  }

  val qCompactionPlanSql: String =
    s"""WITH f AS (SELECT doc_id AS file_id, source,
       |    CAST(n_chars AS BIGINT) * 1024 AS size_bytes FROM documents),
       |c AS (SELECT file_id, source, size_bytes,
       |    COALESCE(SUM(size_bytes) OVER (PARTITION BY source ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM f)
       |SELECT source, CAST(cum_before // $CompactTarget AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes,
       |  CAST(MIN(file_id) AS BIGINT) AS first_file,
       |  CAST(MAX(file_id) AS BIGINT) AS last_file
       |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin

  /** UPSERT (MERGE INTO) in vanilla Spark — the table-maintenance verb
    * lakehouse formats add natively, expressed as the one-shuffle
    * full-outer join + coalesce every warehouse rewrite reduces to: an
    * update batch (planted: doc_id % 11 == 0 relabels lang to 'xx') and
    * an insert batch (doc_id % 41 == 0 arrives as a NEW row at
    * +3,000,000) merge against the base table; each output row reports
    * its op (updated / inserted / kept). Scale shape: ONE equi-key
    * shuffle join (AQE-skew-splittable), no window, no collect; a real
    * lakehouse MERGE adds file-level pruning on top, which
    * q_compaction_plan / q_snapshot_diff model separately. */
  def qUpsertMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val base = docs.select(col("doc_id"), col("lang"), col("source"))
    val updates = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), lit("xx").as("lang"), col("source"))
      .unionAll(docs.filter(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"), col("source")))
    base.as("b").join(updates.as("u"), Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("u.lang"), col("b.lang")).as("lang"),
        coalesce(col("u.source"), col("b.source")).as("source"),
        when(col("b.lang").isNull, lit("inserted"))
          .when(col("u.lang").isNotNull, lit("updated"))
          .otherwise(lit("kept")).as("op"))
  }

  val qUpsertMergeSql: String =
    """WITH upd AS (
      |  SELECT doc_id, 'xx' AS lang, source FROM documents WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, lang, source FROM documents WHERE doc_id % 41 = 0)
      |SELECT COALESCE(b.doc_id, u.doc_id) AS doc_id,
      |       COALESCE(u.lang, b.lang) AS lang,
      |       COALESCE(u.source, b.source) AS source,
      |       CASE WHEN b.doc_id IS NULL THEN 'inserted'
      |            WHEN u.doc_id IS NOT NULL THEN 'updated'
      |            ELSE 'kept' END AS op
      |FROM documents b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id
      |ORDER BY doc_id""".stripMargin

  /** File-level min/max data skipping — the mechanism that makes a
    * 100 TB lakehouse scan cheap: every table format (Iceberg manifests,
    * Delta file stats, parquet row-group stats) keeps per-file column
    * min/max, and the planner prunes any file whose range cannot
    * intersect the predicate. This query materializes that decision
    * table under the band predicate n_chars in [300, 400) for TWO
    * layouts of the same table: `insertion` (file = doc_id range, 50
    * docs per file, the compaction-plan convention — ranges straddle
    * the band, nothing is skippable) and `clustered` (file = fixed
    * 16-wide n_chars bin, the shape a range-partitioned/sorted writer
    * produces — ranges are tight by construction, most files prune).
    * The side-by-side is the point: stats only skip what LAYOUT makes
    * skippable. A file is SKIPPED iff max < 300 or min >= 400;
    * emitting n_match alongside makes the pruning law auditable in the
    * output itself: skipped = 1 forces n_match = 0 (one-sided — stats
    * pruning is conservative, never lossy).
    *
    * Scale notes: per layout, one partial-agg groupBy over (file_id) —
    * stats collection is a map-side fold at write time in a real
    * layout; the decision table is O(files), not O(rows). The
    * clustered layout is value-binned rather than exact-rank-binned
    * precisely so NO corpus-wide window/sort appears in the stats
    * pass (a global row_number is a single-partition sort). */
  def qFileSkipping(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("n_chars"))
    val insertion = docs.select(lit("insertion").as("layout"),
      expr("doc_id DIV 50").as("file_id"), col("n_chars"))
    val clustered = docs.select(lit("clustered").as("layout"),
      expr("n_chars DIV 16").as("file_id"), col("n_chars"))
    insertion.unionAll(clustered)
      .groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("n_chars")).as("min_nc"),
        max(col("n_chars")).as("max_nc"),
        sum(when(col("n_chars") >= 300 && col("n_chars") < 400, 1L)
          .otherwise(0L)).as("n_match"))
      .select(col("layout"), col("file_id"), col("n_rows"), col("min_nc"), col("max_nc"),
        when(col("max_nc") < 300 || col("min_nc") >= 400, 1L).otherwise(0L).as("skipped"),
        col("n_match"))
  }

  val qFileSkippingSql: String =
    """WITH placed AS (
      |  SELECT 'insertion' AS layout, doc_id // 50 AS file_id, n_chars FROM documents
      |  UNION ALL
      |  SELECT 'clustered' AS layout, n_chars // 16 AS file_id, n_chars FROM documents)
      |SELECT layout, file_id, COUNT(*) AS n_rows,
      |  MIN(n_chars) AS min_nc, MAX(n_chars) AS max_nc,
      |  CAST(CASE WHEN MAX(n_chars) < 300 OR MIN(n_chars) >= 400 THEN 1 ELSE 0 END AS BIGINT) AS skipped,
      |  CAST(SUM(CASE WHEN n_chars >= 300 AND n_chars < 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |FROM placed GROUP BY layout, file_id ORDER BY layout, file_id""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_snapshot_diff" -> ((qSnapshotDiff _, Some(qSnapshotDiffSql))),
    "q_file_skipping" -> ((qFileSkipping _, Some(qFileSkippingSql))),
    "q_upsert_merge" -> ((qUpsertMerge _, Some(qUpsertMergeSql))),
    "q_prefix_jaccard" -> ((qPrefixJaccard _, Some(qPrefixJaccardSql))),
    "q_col_stats" -> ((qColStats _, Some(qColStatsSql))),
    "q_compaction_plan" -> ((qCompactionPlan _, Some(qCompactionPlanSql))))
}
