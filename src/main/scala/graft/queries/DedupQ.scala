package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.{Arrays, HexFormat}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QCache.ScopedCacheOps
import Tables.documents

/** Deduplication operators for a training-data pipeline: exact dedup,
  * MinHash+LSH near-dup candidates, n-gram Jaccard, SimHash.
  *
  * Hash functions are built from md5 (identical across Spark and DuckDB)
  * so every stage is oracle-checkable: minhash_j(doc) =
  * min over shingles s of md5(j || ':' || s), LSH bands = md5 of the
  * concatenated band signature. No engine-specific hashing anywhere.
  * Spark computes the signature in-row ([[minhashSig]], batch and stream).
  *
  * Cache policy: the self-join/iteration temporaries (capped bands,
  * candidate shingle sets, labels) register with [[QCache]]
  * (`scopedCache()`), living exactly until the consuming query's action
  * completes — the battery/verify drivers release them per query, so
  * entries are independently measurable and the shared session's cached
  * footprint stays bounded. The one deliberate cross-query cache is
  * the MinHash signature ([[cachedSig]]), held as Spark session state
  * (a temp view persisted in the session's cache) — not in this object.
  */
object DedupQ {

  private[queries] def norm(c: Column): Column = lower(regexp_replace(c, "\\s+", " "))

  /** THE exact-dup content fingerprint — ONE definition for every
    * consumer (batch exact dedup, streaming dedupStream, the
    * extract->curate composition, the HLL registers, the dataset card),
    * so batch and stream cannot drift. Oracle spelling:
    * `md5(lower(regexp_replace(text, '\s+', ' ', 'g')))`. */
  def exactFp(text: Column): Column =
    md5(norm(text).cast("binary"))

  /** Exact dedup: canonical representative (min doc_id) per content hash
    * + group size. groupBy (NOT a window over fp): hash aggregation gets
    * map-side partial combine, so each partition ships one row per
    * fingerprint instead of every input row — the shuffle carries the
    * distinct-hash relation, not the corpus. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), md5(norm(col("text")).cast("binary")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))

  val qDedupExactSql: String =
    """SELECT MIN(doc_id) AS doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
      | COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
      |ORDER BY doc_id""".stripMargin

  /** SOFT dedup: down-WEIGHT duplicates instead of dropping them — each
    * exact-dup cluster keeps all members but contributes one document's
    * worth of total sampling mass (weight_bp = floor(10000 / n_copies)
    * per member), the duplicate-aware sampling idiom for corpora where
    * copy count correlates with quality (docs duplicated across sources
    * are often boilerplate OR canon — hard-dropping loses the signal;
    * the repetition-is-overtraining evidence in Lee et al. 2021 and the
    * data-constrained-epochs analysis in Muennighoff et al. 2023 both
    * motivate weighting over deletion). cluster_rep joins the soft
    * weights back to q_dedup_exact's canonical picks.
    *
    * Plan: one window over the slim (doc_id, fp) relation — a single
    * fingerprint-width shuffle; weights are exact integer basis points
    * (10000 div n), oracle-safe by construction. */
  def qDedupSoft(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    documents(s, dir)
      .select(col("doc_id"), md5(norm(col("text")).cast("binary")).as("fp"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("cluster_rep", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_rep"), col("n_copies"),
        expr("CAST(10000 div n_copies AS BIGINT)").as("weight_bp"))
  }

  val qDedupSoftSql: String =
    """WITH fps AS (SELECT doc_id,
      |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp FROM documents)
      |SELECT doc_id,
      |  MIN(doc_id) OVER (PARTITION BY fp) AS cluster_rep,
      |  COUNT(*) OVER (PARTITION BY fp) AS n_copies,
      |  CAST(10000 // (COUNT(*) OVER (PARTITION BY fp)) AS BIGINT) AS weight_bp
      |FROM fps
      |ORDER BY doc_id""".stripMargin

  /** Duplicate-cluster SIZE PROFILE — the dedup audit chart every
    * large-corpus dedup paper publishes (e.g. Lee et al. 2021 fig. 1:
    * cluster-size distribution is heavy-tailed): for each exact-dup
    * cluster size k, how many clusters have exactly k members, how many
    * documents they cover, and how many are removable excess
    * (k-1 per cluster). Reading this BEFORE running the dedup job is
    * how a 100 TB pipeline sizes the win (n_excess / sum(n_docs) is the
    * fraction deleted) and spots pathological mega-clusters (a boiler-
    * plate page duplicated 10^6 times shows up as one huge-k row).
    *
    * The synthetic corpus is exact-dup-FREE (every q_dedup_exact
    * n_copies is 1), which would make this row a single vacuous bucket —
    * so, per the q_corrupt_quarantine/q_pdf_quarantine convention, the
    * query INJECTS deterministic duplicate tiers the oracle re-derives
    * from doc_id rules alone: docs with doc_id % 7 == 0 gain an
    * UPPER-CASED copy, docs with doc_id % 21 == 0 additionally gain a
    * doubled-whitespace copy — so cluster sizes 1, 2 and 3 all appear,
    * and the variant copies hash equal ONLY because [[exactFp]]'s
    * normalization (lowercase + whitespace collapse) works identically
    * in both engines; a normalization regression hash-mismatches this
    * row. Production call sites run the same two aggregations on raw
    * fingerprints (no injection).
    *
    * Plan: ONE corpus scan (a UNION of per-tier filtered scans would
    * re-read the text column per tier — the doc_id % k predicates
    * don't push to parquet): the injected copies ride out of the scan
    * as a conditional array explode (plain codegen'd expressions, no
    * HOFs), then groupBy(fp) with map-side partial agg collapses
    * (corpus + copies) to the distinct-fingerprint relation and a
    * second partial agg over that (already small) relation yields
    * <= max-cluster-size rows. All counts exact integers. */
  def qDupProfile(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(array(
        exactFp(col("text")),
        when(col("doc_id") % 7 === 0, exactFp(upper(col("text")))),
        when(col("doc_id") % 21 === 0, exactFp(expr("replace(text, ' ', '  ')")))
      )).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("k").as("cluster_size"), col("n_clusters"),
        (col("k") * col("n_clusters")).as("n_docs"),
        ((col("k") - 1) * col("n_clusters")).as("n_excess"))

  val qDupProfileSql: String =
    """WITH all_fps AS (
      |  SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp FROM documents
      |  UNION ALL
      |  SELECT md5(lower(regexp_replace(upper(text), '\s+', ' ', 'g')))
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT md5(lower(regexp_replace(replace(text, ' ', '  '), '\s+', ' ', 'g')))
      |  FROM documents WHERE doc_id % 21 = 0),
      |c AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS k FROM all_fps GROUP BY 1)
      |SELECT k AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(k * COUNT(*) AS BIGINT) AS n_docs,
      |  CAST((k - 1) * COUNT(*) AS BIGINT) AS n_excess
      |FROM c GROUP BY k
      |ORDER BY cluster_size""".stripMargin

  /** Character 4-gram shingles of the normalized text, distinct per doc.
    * Shingling itself is the scalable explode: one row per (doc, gram). */
  private def shingles(s: SparkSession, dir: String, maxDocId: Option[Long]): DataFrame = {
    val base0 = documents(s, dir).select(col("doc_id"), norm(col("text")).as("t"))
    val base = maxDocId.map(m => base0.filter(col("doc_id") < m)).getOrElse(base0)
    base
      .select(col("doc_id"), col("t"), explode(sequence(lit(1), length(col("t")) - 3)).as("i"))
      .select(col("doc_id"), expr("substr(t, i, 4)").as("s"))
      .distinct()
  }

  /** Word 3-gram shingles (the standard text-dedup unit): ~5x fewer
    * shingles than char grams at the same recall — the scale knob for
    * MinHash. NOT deduped: MinHash's min over a multiset equals min over
    * the set, so skipping the `distinct` costs nothing semantically and
    * removes an entire pre-aggregation shuffle of the shingle relation. */
  private def wordShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(norm(col("text"))), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), greatest(size(col("w")) - 3, lit(0)))).as("i"))
      .filter(col("i") <= size(col("w")) - 3)
      .select(col("doc_id"),
        concat_ws(" ", expr("w[i]"), expr("w[i+1]"), expr("w[i+2]")).as("s"))

  /** Docs per (band, band_hash) bucket above which the bucket is excluded
    * from candidate generation — the skew guard: one degenerate bucket
    * (boilerplate-identical docs) would otherwise make the self-join
    * quadratic. 64x the largest bucket observed on the testdata (4 at
    * sf0.1); a production corpus tunes it. Applied identically in the
    * DuckDB oracle, and never silently: [[qLshBucketProfile]] is the
    * oracle-checked drop report (`dropped = 1` rows are the exclusions). */
  val MaxLshBucket = 256

  /** THE MinHash kernel, row-local (batch memo, planted variants and
    * stream alike): array<string> of the 16 lowercase-hex minhashes of
    * the words' 3-gram shingles, null under 3 words or for a null text.
    * Minhash j = the smallest md5(j || ':' || shingle); digests compare
    * as unsigned bytes, the order SQL MIN gives their hex strings. */
  def minhashSig(text: Column): Column =
    udf(minhashesOf _).apply(split(trim(norm(text)), " "))

  private def minhashesOf(words: Seq[String]): Array[String] =
    if (words == null || words.length < 3) null
    else {
      val shingles = words.sliding(3).map(_.mkString(" ").getBytes(UTF_8)).toArray
      val (md, h) = (MessageDigest.getInstance("MD5"), new Array[Byte](16))
      Array.tabulate(16) { j =>
        val (seed, min) = (s"$j:".getBytes(UTF_8), Array.fill[Byte](16)(-1)) // no digest is larger
        shingles.foreach { sh =>
          md.update(seed); md.update(sh); md.digest(h, 0, 16)
          if (Arrays.compareUnsigned(h, min) < 0) System.arraycopy(h, 0, min, 0, 16)
        }
        HexFormat.of().formatHex(min)
      }
    }

  /** (doc_id, m0..m15) of the docs of `docs` (doc_id, text) with a signature.
    * Not a Filter: pushed below the Project, it would run the kernel twice. */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_compact(array(minhashSig(col("text"))))).as("sig"))
      .select(col("doc_id") +: (0 until 16).map(j => col("sig")(j).as(s"m$j")): _*)

  /** The band hashes of a signature's nBands bands of 16/nBands rows
    * each: md5 of the band's comma-joined minhashes. */
  private def bandHashes(nBands: Int): Seq[Column] = {
    val r = 16 / nBands
    (0 until nBands).map { b =>
      md5(concat_ws(",", (r * b until r * b + r).map(k => col(s"m$k")): _*).cast("binary"))
    }
  }

  /** (doc_id, band, bh): one row per band of `hashes`. */
  private def explodeBands(mh: DataFrame, hashes: Seq[Column]): DataFrame =
    mh.select(col("doc_id"), posexplode(array(hashes: _*)).as(Seq("band", "bh")))

  /** Band the signature into nBands bands of 16/nBands rows each. */
  private[graft] def bandsFromSig(mh: DataFrame, nBands: Int): DataFrame =
    explodeBands(mh, bandHashes(nBands))

  /** The corpus's MinHash SIGNATURE (doc_id, m0..m15), a session memo:
    * the per-doc [[minhashSig]] pass is the expensive one behind
    * every LSH query. Each row also carries its four 4x4 band hashes
    * (b0..b3, [[bandHashes]]), computed once in the same pass: hashing
    * them in every band consumer instead cost the sub-0.3 s band leaves
    * 9-18% at sf0.1, and a second cached relation of bands is a memo
    * over a memo. The temp view `graft_minhash_sig_<md5(dir)>_<md5(files)>`
    * is keyed on the table's files (name, length, mtime; a driver-side
    * listing), so a rewrite gets a new view and the old one is dropped. It holds
    * the analyzed plan and is a cached table, so the CacheManager serves
    * every call after the first from one InMemoryRelation; a stopped
    * session takes both along, and after `spark.catalog.clearCache()`
    * the next call caches the view again. Rebuilding the plan per call
    * instead would re-read the input (one parquet schema job) and
    * re-analyze it in every consumer: +1 job per LSH leaf, +13-34% on
    * the sub-second ones at sf0.1. The input is hash-partitioned on
    * doc_id across the session's cores first: a small corpus is one
    * parquet split, and the signature pass would otherwise run as one
    * task. */
  private def cachedSig(s: SparkSession, dir: String): DataFrame = {
    val prefix = s"graft_minhash_sig_${Tables.md5Hex(dir)}_"
    val view = prefix + Tables.listing(s, dir, "documents")
    if (!s.catalog.tableExists(view)) {
      // SHOW VIEWS runs no job; catalog.listTables() runs one
      s.sql(s"SHOW VIEWS LIKE '$prefix*'").collect()
        .foreach(r => s.catalog.dropTempView(r.getString(1)))
      signatures(byDocId(s, documents(s, dir).select(col("doc_id"), col("text"))))
        .select(col("*") +: bandHashes(4).zipWithIndex.map { case (h, b) => h.as(s"b$b") }: _*)
        .createOrReplaceTempView(view)
    }
    if (!s.catalog.isCached(view)) s.catalog.cacheTable(view)
    s.table(view)
  }

  /** The corpus's 4x4 bands (doc_id, band, bh), read from the band
    * hashes the signature memo carries. */
  private def corpusBands(s: SparkSession, dir: String): DataFrame =
    explodeBands(cachedSig(s, dir), (0 until 4).map(b => col(s"b$b")))

  /** `docs` hash-partitioned on doc_id into the session's default
    * parallelism — spreads a per-doc pass over a single-split input
    * across every core. */
  private def byDocId(s: SparkSession, docs: DataFrame): DataFrame =
    docs.repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** The skew guard of every bucketed near-dup join: rows whose `keys`
    * group holds more than `max` rows are dropped. A window count (not
    * groupBy + join back) shuffles once on the bucket key, and the
    * caller's self-join on the same keys reuses that partitioning. */
  private[queries] def capBuckets(df: DataFrame, max: Int, keys: String*): DataFrame =
    df.withColumn("bn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bn") <= max)
      .drop("bn")

  /** Self-join of the capped (band, bh) buckets of `bands`: a (doc_a,
    * doc_b) row per pair that shares a bucket and satisfies `pair`. The
    * capped relation is cached: without it the banding and the bucket
    * window execute once per join side. */
  private def lshJoin(bands: DataFrame)(pair: (Column, Column) => Column): DataFrame = {
    val capped = capBuckets(bands, MaxLshBucket, "band", "bh").scopedCache()
    capped.as("a").join(capped.as("b"), col("a.band") === col("b.band") &&
        col("a.bh") === col("b.bh") && pair(col("a.doc_id"), col("b.doc_id")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Unordered LSH candidate pairs (doc_a < doc_b) of `bands`. */
  private def lshPairs(bands: DataFrame): DataFrame =
    lshJoin(bands)(_ < _).distinct()

  /** Exact word-3-gram overlap of candidate pairs: for each (doc_a,
    * doc_b) row of `pairs`, the distinct-shingle counts na and nb of the
    * two docs of `docs` (doc_id, text) and their intersection ni (0 when
    * they share none). Candidate-bounded: only docs that appear in some
    * pair are shingled, and the intersection is driven FROM the pair
    * list ((pair, shingle) rows), never a corpus-wide shingle self-join.
    * `pairs` is read four times: callers cache it when it is costly to
    * recompute (an LSH join). */
  private def shingleOverlap(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sh = wordShinglesOf(docs.join(ids, Seq("doc_id"))).distinct().scopedCache()
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ni = pairs
      .join(sh.as("x"), col("x.doc_id") === col("doc_a"))
      .join(sh.as("y"), col("y.doc_id") === col("doc_b") && col("y.s") === col("x.s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    pairs.join(ni, Seq("doc_a", "doc_b"), "left")
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        coalesce(col("ni"), lit(0L)).as("ni"))
  }

  /** Exact Jaccard ni / (na + nb - ni) over [[shingleOverlap]]'s
    * columns, rounded to 4 places (int/int: identical on both engines). */
  private def overlapJaccard: Column =
    round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 4)

  /** MinHash (16 perms via md5 keyed by j) + LSH (4 bands x 4 rows):
    * candidate near-duplicate pairs. The banding is the scale path: docs
    * only ever meet through equal (band, band_hash) buckets — a shuffle
    * on the bucket key, never an all-pairs product — and oversized
    * buckets are excluded (MaxLshBucket). */
  def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    lshPairs(corpusBands(s, dir))

  /** mh-signature CTE chain (n, sh, mh) over a (doc_id, text) relation
    * name — the oracle spelling of [[minhashSig]]; eval queries sign a
    * UNION corpus (base + planted variants) through it. */
  private def mhCteBody(src: String): String =
    s"""n AS (SELECT doc_id, regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w FROM $src),
      |sh AS (SELECT DISTINCT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] AS s
      |       FROM n, UNNEST(generate_series(1, greatest(length(w) - 2, 0))) AS u(i)
      |       WHERE CAST(i AS INT) <= length(w) - 2),
      |mh AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS m
      |       FROM sh, UNNEST(generate_series(0, 15)) AS jj(j)
      |       GROUP BY doc_id, j)""".stripMargin

  /** Banding CTE `bandsName` with `rowsPerBand` MinHash rows per band —
    * the oracle spelling of [[bandsFromSig]]. */
  private def bandsCteOf(bandsName: String, rowsPerBand: Int): String =
    s"""$bandsName AS (SELECT doc_id, CAST(FLOOR(j / $rowsPerBand) AS INT) AS band,
      |                 md5(STRING_AGG(m, ',' ORDER BY j)) AS bh
      |          FROM mh GROUP BY doc_id, CAST(FLOOR(j / $rowsPerBand) AS INT))""".stripMargin

  private def bandsCteBody(src: String): String =
    mhCteBody(src) + ",\n" + bandsCteOf("bands", 4)

  private val bandsCte: String = "WITH RECURSIVE " + bandsCteBody("documents")

  private val cappedCte: String =
    s"""bsz AS (SELECT band, bh, COUNT(*) AS bn FROM bands GROUP BY band, bh),
      |capped AS (SELECT doc_id, b.band, b.bh FROM bands b JOIN bsz USING (band, bh)
      |           WHERE bn <= $MaxLshBucket),
      |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM capped a JOIN capped b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  val qMinhashLshSql: String =
    s"""$bandsCte,
      |$cappedCte
      |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash estimator CALIBRATION — the third leg of the sketch-quality
    * triptych (q_lsh_recall measures what the banding finds, q_lsh_tuning
    * sweeps the banding; this measures how well the SIGNATURE estimates
    * similarity): for every LSH candidate pair, the 16-component match
    * fraction (the MinHash Jaccard estimator, est_bp = matches x 625)
    * against the exact shingle-set Jaccard, with the absolute error in
    * basis points. The number that justifies trusting the sketch at
    * 100 TB, published per pair rather than assumed from theory
    * (E[matches/16] = J; observed per-pair error is quantized to 625 bp
    * by the 16-hash signature).
    *
    * Scale notes: candidate-bounded end to end — signatures and shingle
    * sets are recomputed only for docs that appear in some capped LSH
    * bucket pair (at 10^12 docs, cap-bounded); the exact-intersection
    * join is driven FROM the pair list ((pair, shingle) rows, never a
    * corpus-wide shingle self-join); output is all-integer bp. */
  def qMinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    // signatures come warm from the session memo; the ma/mb equi-joins
    // restrict them to pair ids
    val mh = cachedSig(s, dir)
    val pairs = lshPairs(corpusBands(s, dir)).scopedCache()
    shingleOverlap(pairs, documents(s, dir).select(col("doc_id"), col("text")))
      .join(mh.as("ma"), col("ma.doc_id") === col("doc_a"))
      .join(mh.as("mb"), col("mb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (0 until 16).map(j =>
          when(col(s"ma.m$j") === col(s"mb.m$j"), 1L).otherwise(0L))
          .reduce(_ + _).as("n_eq"), col("na"), col("nb"), col("ni"))
      .select(col("doc_a"), col("doc_b"), col("n_eq"),
        (col("n_eq") * 625L).as("est_bp"),
        expr("ni * 10000 div (na + nb - ni)").as("jacc_bp"))
      .withColumn("err_bp", abs(col("est_bp") - col("jacc_bp")))
  }

  val qMinhashCalibrationSql: String =
    s"""$bandsCte,
      |$cappedCte,
      |eq AS (SELECT p.doc_a, p.doc_b,
      |         CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS n_eq
      |       FROM pairs p
      |       JOIN mh a ON a.doc_id = p.doc_a
      |       JOIN mh b ON b.doc_id = p.doc_b AND b.j = a.j
      |       GROUP BY p.doc_a, p.doc_b),
      |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
      |ixn AS (SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS ni
      |        FROM pairs p
      |        JOIN sh x ON x.doc_id = p.doc_a
      |        JOIN sh y ON y.doc_id = p.doc_b AND y.s = x.s
      |        GROUP BY p.doc_a, p.doc_b)
      |SELECT e.doc_a, e.doc_b, e.n_eq, e.n_eq * 625 AS est_bp,
      |  COALESCE(i.ni, 0) * 10000 // (ca.n + cb.n - COALESCE(i.ni, 0)) AS jacc_bp,
      |  abs(e.n_eq * 625 - COALESCE(i.ni, 0) * 10000 // (ca.n + cb.n - COALESCE(i.ni, 0))) AS err_bp
      |FROM eq e
      |JOIN cnt ca ON ca.doc_id = e.doc_a
      |JOIN cnt cb ON cb.doc_id = e.doc_b
      |LEFT JOIN ixn i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      |ORDER BY e.doc_a, e.doc_b""".stripMargin

  /** The skew guard's drop report (no silent caps): every LSH bucket with
    * its size and whether the candidate stage excludes it. */
  def qLshBucketProfile(s: SparkSession, dir: String): DataFrame =
    corpusBands(s, dir)
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .withColumn("dropped",
        when(col("n_docs") > MaxLshBucket, lit(1)).otherwise(lit(0)))

  val qLshBucketProfileSql: String =
    s"""$bandsCte
      |SELECT band, bh, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
      |       CAST(CASE WHEN COUNT(*) > $MaxLshBucket THEN 1 ELSE 0 END AS INT) AS dropped
      |FROM bands GROUP BY band, bh ORDER BY band, bh""".stripMargin

  /** Dedup CLUSTERING: connected components over the MinHash candidate
    * pairs — what a production dedup actually needs (a near-dup GROUP
    * keeps one canonical doc; pairwise candidates alone over-delete via
    * chains). Spark side: iterative min-label propagation (the Pregel
    * shape — per iteration one equi-join + one min-aggregate, converges
    * within the component diameter, each iteration's relation cached and
    * the previous unpersisted). The oracle computes the same components
    * via a recursive transitive closure — fine at oracle scale, exactly
    * the quadratic thing the Spark side avoids. */
  def qDedupCluster(s: SparkSession, dir: String): DataFrame =
    connectedComponents(qMinhashLsh(s, dir))

  /** General connected-components operator over an undirected pair list
    * (doc_a, doc_b) -> (doc_id, cluster_rep, cluster_size). Standalone:
    * any near-dup candidate relation (MinHash, SimHash, aHash, embedding
    * buckets) clusters through it. */
  def connectedComponents(pairs: DataFrame): DataFrame = componentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * ran (DedupClusterSpec pins the rounds and one action per round). */
  private[graft] def componentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .scopedCache()
    // iterate TO CONVERGENCE (labels decrease monotonically in a finite
    // lattice, so termination is guaranteed) — a fixed iteration cap
    // would silently return unconverged components and diverge from the
    // exact-closure oracle on long chains. localCheckpoint per round
    // truncates the logical plan: without it each iteration's plan
    // embeds all previous ones and Catalyst re-analysis grows
    // quadratically with the component diameter.
    //
    // ONE job per iteration (round-2 verdict #7): the changed flag rides
    // the update relation itself, the checkpoint is LAZY, and the
    // convergence count() is the action that materializes it.
    //
    // Each round is POINTER-JUMP + PROPAGATE (round 3): before the edge
    // join, every label follows its own label pointer one hop
    // (label <- label(label), a self-join of the already-materialized
    // checkpoint — no lineage recompute). Plain min-label propagation
    // needs O(diameter) rounds — a long duplicate chain at corpus scale
    // means that many full-relation passes; with the jump the pointer
    // forest contracts doubling-style, so rounds grow ~logarithmically
    // in the diameter instead. Same fixpoint: labels stay within the
    // component (label(x) is always some member id), both steps only
    // decrease labels, and a round with zero changes means propagation
    // alone is at its fixpoint — the classic CC convergence condition.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var changed = 1L
    var iters = 0
    while (changed > 0) {
      // label(x) <= x invariant makes coalesce the only guard needed: a
      // label that is itself a root has no row on the left-join's right
      val jumped = labels
        .join(labels.select(col("id").as("lid"), col("label").as("llabel")),
          col("label") === col("lid"), "left")
        .select(col("id"),
          coalesce(col("llabel"), col("label")).as("jlabel"),
          col("label").as("old"))
      val msgs = edges
        .join(jumped.select(col("id"), col("jlabel").as("label")), col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      val updated = jumped.join(msgs, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("jlabel"), coalesce(col("nlabel"), col("jlabel"))).as("label"),
          (least(col("jlabel"), coalesce(col("nlabel"), col("jlabel"))) < col("old")).as("chg"))
        .localCheckpoint(eager = false)
      changed = updated.filter(col("chg")).count()
      labels = updated.select(col("id"), col("label"))
      iters += 1
    }
    val w = Window.partitionBy(col("label"))
    (labels
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("label").as("cluster_rep"), col("cluster_size")),
      iters)
  }

  val qDedupClusterSql: String =
    s"""$bandsCte,
      |$cappedCte,
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges) t
      |          UNION
      |          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src)
      |SELECT doc_id, cluster_rep,
      |       CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
      |FROM labels ORDER BY doc_id""".stripMargin

  /** Id offset of the planted near-dup variants. */
  private val PlantOffset = 2000000L

  /** The planted-variant fixture of the LSH evaluation queries: every
    * doc with doc_id % 23 == 0 and length >= 60 gets a copy at
    * doc_id + [[PlantOffset]] with chars 25-27 rewritten — a handful of
    * word-3-gram shingles change, Jaccard stays high. Both engines derive
    * it from the documents table alone. */
  private def plantedVariants(base: DataFrame): DataFrame =
    base.filter(col("doc_id") % 23 === 0 && length(col("text")) >= 60)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        concat(expr("substr(text, 1, 24)"), lit("qzx"), expr("substr(text, 28)")).as("text"))

  /** Original ids (doc_a) whose planted variant shares a capped bucket
    * of `bands` with them. */
  private def plantedFound(bands: DataFrame): DataFrame =
    lshJoin(bands)((a, b) => b === a + PlantOffset).select(col("doc_a")).distinct()

  /** LSH RECALL evaluation harness — measures the approximate pipeline
    * against KNOWN ground truth, the QA step a production dedup ships
    * with: variants are planted fixture-in-query ([[plantedVariants]]),
    * the standard banding runs over base + variants, and each planted
    * pair reports whether ANY capped band bucket caught it plus its
    * exact shingle Jaccard. Recall is then `avg(found)`; the per-pair
    * rows keep the misses inspectable (which Jaccard levels the 4x4
    * banding starts dropping). Both engines derive the same planted
    * relation and the same bands from the documents table alone. */
  def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("doc_id"), col("text"))
    val planted = plantedVariants(base)
    // band signatures are PER-DOC independent (minhash never looks across
    // docs), so the union corpus's bands are the memo's bands ∪
    // bands(variants): the base signature comes warm from the session
    // memo and only the ~1-in-23 variants hash fresh
    val found = plantedFound(
      corpusBands(s, dir).unionAll(bandsFromSig(signatures(planted), 4)))
      .withColumn("hit", lit(1))
    val pairs = planted.select((col("doc_id") - PlantOffset).as("doc_a"), col("doc_id").as("doc_b"))
    // a pair that shares no shingle drops out, as in the oracle's inner
    // join on the intersection
    shingleOverlap(pairs, base.unionAll(planted)).filter(col("ni") > 0)
      .join(found, Seq("doc_a"), "left")
      .select(col("doc_a").as("doc_id"), coalesce(col("hit"), lit(0)).as("found"),
        overlapJaccard.as("jaccard"))
  }

  val qLshRecallSql: String =
    s"""WITH RECURSIVE srcu AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, substr(text, 1, 24) || 'qzx' || substr(text, 28)
      |  FROM documents WHERE doc_id % 23 = 0 AND length(text) >= 60),
      |${bandsCteBody("srcu")},
      |bsz AS (SELECT band, bh, COUNT(*) AS bn FROM bands GROUP BY band, bh),
      |capped AS (SELECT doc_id, b.band, b.bh FROM bands b JOIN bsz USING (band, bh)
      |           WHERE bn <= $MaxLshBucket),
      |found AS (SELECT DISTINCT a.doc_id
      |          FROM capped a JOIN capped b
      |            ON a.band = b.band AND a.bh = b.bh AND b.doc_id = a.doc_id + 2000000),
      |orig AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 0 AND length(text) >= 60),
      |na AS (SELECT s.doc_id, COUNT(*) AS n FROM sh s JOIN orig o ON s.doc_id = o.doc_id GROUP BY s.doc_id),
      |nb AS (SELECT doc_id - 2000000 AS doc_id, COUNT(*) AS n FROM sh WHERE doc_id >= 2000000 GROUP BY doc_id),
      |ni AS (SELECT x.doc_id, COUNT(*) AS n
      |       FROM sh x JOIN sh y ON y.doc_id = x.doc_id + 2000000 AND y.s = x.s
      |                 JOIN orig o ON o.doc_id = x.doc_id
      |       GROUP BY x.doc_id)
      |SELECT o.doc_id,
      |       CAST(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS found,
      |       round(ni.n * 1.0 / (na.n + nb.n - ni.n), 4) AS jaccard
      |FROM orig o
      |JOIN na ON na.doc_id = o.doc_id
      |JOIN nb ON nb.doc_id = o.doc_id
      |JOIN ni ON ni.doc_id = o.doc_id
      |LEFT JOIN found f ON f.doc_id = o.doc_id
      |ORDER BY o.doc_id""".stripMargin

  /** LSH banding TUNING sweep — the parameter table a production dedup
    * publishes before fixing (bands x rows): recall of the planted
    * near-dup pairs (the q_lsh_recall fixture) under 2x8, 4x4 and 8x2
    * bandings of the SAME 16-hash MinHash signature. More bands = wider
    * nets (higher recall at the same signature cost, more candidates);
    * the oracle re-derives every banding from the documents table, so
    * the sweep itself is hash-verified. One signature pass feeds all
    * three bandings. */
  def qLshTuning(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedVariants(documents(s, dir).select(col("doc_id"), col("text")))
    // per-doc signature of a disjoint-id union == union of per-doc
    // signatures: the base corpus side comes warm from the session memo
    // and only the ~1-in-23 planted variants hash fresh
    val mh = cachedSig(s, dir).drop((0 until 4).map(b => s"b$b"): _*)
      .unionAll(signatures(planted)).scopedCache()
    val nPlanted = planted.count()
    Seq(2, 4, 8).map { nBands =>
      val found = plantedFound(bandsFromSig(mh, nBands)).count()
      (s"${nBands}x${16 / nBands}", nPlanted, found)
    }.foldLeft(Option.empty[DataFrame]) { (acc, row) =>
      import s.implicits._
      val df = Seq(row).toDF("banding", "n_planted", "n_found")
      Some(acc.map(_.unionAll(df)).getOrElse(df))
    }.get
  }

  val qLshTuningSql: String = {
    val one = (nBands: Int) => {
      val r = 16 / nBands
      s"""SELECT '${nBands}x$r' AS banding,
        | (SELECT COUNT(*) FROM orig) AS n_planted,
        | (SELECT COUNT(DISTINCT a.doc_id)
        |  FROM capped$nBands a JOIN capped$nBands b
        |    ON a.band = b.band AND a.bh = b.bh AND b.doc_id = a.doc_id + 2000000) AS n_found""".stripMargin
    }
    val bandCtes = Seq(2, 4, 8).map { nBands =>
      val r = 16 / nBands
      s"""${bandsCteOf(s"bands$nBands", r)},
        |bsz$nBands AS (SELECT band, bh, COUNT(*) AS bn FROM bands$nBands GROUP BY band, bh),
        |capped$nBands AS (SELECT doc_id, x.band, x.bh FROM bands$nBands x JOIN bsz$nBands USING (band, bh)
        |            WHERE bn <= $MaxLshBucket)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE srcu AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, substr(text, 1, 24) || 'qzx' || substr(text, 28)
      |  FROM documents WHERE doc_id % 23 = 0 AND length(text) >= 60),
      |${mhCteBody("srcu")},
      |orig AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 0 AND length(text) >= 60),
      |$bandCtes
      |${one(2)}
      |UNION ALL
      |${one(4)}
      |UNION ALL
      |${one(8)}
      |ORDER BY banding""".stripMargin
  }

  /** INCREMENTAL ingestion dedup — the asymmetric production shape the
    * self-join queries don't cover: a standing corpus keeps an LSH band
    * INDEX (here docs with doc_id % 10 != 0; in production a persisted,
    * bucket-partitioned table built once), and each incoming batch
    * (doc_id % 10 == 0) probes it — new docs never join each other, so
    * daily cost is O(batch x bucket hit rate), not O(corpus^2) and not
    * even O(corpus) after the index exists. Oversized INDEX buckets are
    * capped exactly like the self-join path; candidates are verified
    * with exact word-3-gram Jaccard restricted to candidate docs; the
    * verdict is rolled up per NEW doc (candidate count, best match by
    * Jaccard with min-id tie-break, is_dup at 0.5). Jaccard is int/int
    * division rounded to 4 — deterministic across engines. */
  def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val bands = corpusBands(s, dir)
    val icap = capBuckets(bands.filter(col("doc_id") % 10 =!= 0), MaxLshBucket, "band", "bh")
      .select(col("doc_id").as("doc_b"), col("band"), col("bh"))
    val probe = bands.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("doc_a"), col("band"), col("bh"))
    // (doc_a, doc_b) = (new doc, index doc)
    val cand = probe.join(icap, Seq("band", "bh")).select(col("doc_a"), col("doc_b")).distinct()
      .scopedCache()
    shingleOverlap(cand, documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_a"), col("doc_b"), overlapJaccard.as("j"))
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("n_candidates"),
        max(struct(col("j"), (-col("doc_b")).as("neg"))).as("m"))
      .select(col("doc_a").as("doc_id"), col("n_candidates"),
        (-col("m.neg")).as("best_old_id"), col("m.j").as("best_jaccard"),
        when(col("m.j") >= 0.5, lit(1)).otherwise(lit(0)).as("is_dup"))
  }

  val qIncrementalDedupSql: String =
    s"""$bandsCte,
      |idx AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 10 <> 0),
      |isz AS (SELECT band, bh, COUNT(*) AS bn FROM idx GROUP BY band, bh),
      |icap AS (SELECT doc_id AS old_id, i.band, i.bh
      |         FROM idx i JOIN isz USING (band, bh) WHERE bn <= $MaxLshBucket),
      |probe AS (SELECT doc_id AS new_id, band, bh FROM bands WHERE doc_id % 10 = 0),
      |cand AS (SELECT DISTINCT new_id, old_id
      |         FROM probe p JOIN icap i ON p.band = i.band AND p.bh = i.bh),
      |cdocs AS (SELECT new_id AS doc_id FROM cand UNION SELECT old_id FROM cand),
      |ssz AS (SELECT doc_id, COUNT(*) AS n FROM sh
      |        WHERE doc_id IN (SELECT doc_id FROM cdocs) GROUP BY doc_id),
      |inter AS (SELECT c.new_id, c.old_id, COUNT(*) AS ni
      |          FROM cand c JOIN sh x ON x.doc_id = c.new_id
      |                      JOIN sh y ON y.doc_id = c.old_id AND y.s = x.s
      |          GROUP BY c.new_id, c.old_id),
      |scored AS (SELECT c.new_id, c.old_id,
      |                  round(COALESCE(i.ni, 0) * 1.0 / (a.n + b.n - COALESCE(i.ni, 0)), 4) AS j
      |           FROM cand c LEFT JOIN inter i ON c.new_id = i.new_id AND c.old_id = i.old_id
      |           JOIN ssz a ON a.doc_id = c.new_id JOIN ssz b ON b.doc_id = c.old_id),
      |best AS (SELECT new_id, old_id, j,
      |                ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY j DESC, old_id ASC) AS rk,
      |                COUNT(*) OVER (PARTITION BY new_id) AS n_candidates
      |         FROM scored)
      |SELECT new_id AS doc_id, CAST(n_candidates AS BIGINT) AS n_candidates,
      |       old_id AS best_old_id, j AS best_jaccard,
      |       CAST(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END AS INT) AS is_dup
      |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Canonical-document SELECTION — the dedup *resolution* step: given
    * the near-dup clusters, keep exactly one member per cluster (the
    * longest text, doc_id tie-break — "most complete version wins") and
    * point every other member at it. This is what a production pipeline
    * actually writes back: a keep/drop verdict per clustered doc, not
    * just the cluster labels. Plan shape: cluster labels (pointer-jump
    * CC) -> slim length projection join -> one partial-agg argmax per
    * cluster (max(struct)) -> join back. The join back plans as a
    * sort-merge join; AQE replans it as a broadcast hash join once the
    * cached clustered side is measured (at sf0.1 it broadcasts that
    * 477-row side, plans/q_canonical_docs_final_sf0.1.txt). No window
    * over the full corpus; every shuffle carries only clustered docs. */
  def qCanonicalDocs(s: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupCluster(s, dir)
    val lens = documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    // consumed twice (the per-cluster argmax AND the final join): cache
    // so the cluster window + length join lineage executes once
    val joined = clusters.join(lens, "doc_id").scopedCache()
    // argmax(n_chars, tie-break MIN doc_id) as a single partial-aggable
    // max(struct(n_chars, -doc_id)) — no row_number window needed
    val canon = joined.groupBy(col("cluster_rep").as("cr"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("m"))
      .select(col("cr"), (-col("m.neg")).as("canonical_id"))
    joined.join(canon, col("cluster_rep") === col("cr"))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        col("n_chars"), col("canonical_id"),
        when(col("doc_id") === col("canonical_id"), lit(1)).otherwise(lit(0)).as("is_canonical"))
  }

  val qCanonicalDocsSql: String =
    s"""$bandsCte,
      |$cappedCte,
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges) t
      |          UNION
      |          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src),
      |sized AS (SELECT doc_id, cluster_rep,
      |                 CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
      |          FROM labels),
      |j AS (SELECT s.doc_id, s.cluster_rep, s.cluster_size,
      |             CAST(length(d.text) AS BIGINT) AS n_chars
      |      FROM sized s JOIN documents d ON s.doc_id = d.doc_id),
      |c AS (SELECT cluster_rep, doc_id AS canonical_id FROM (
      |        SELECT cluster_rep, doc_id,
      |               ROW_NUMBER() OVER (PARTITION BY cluster_rep ORDER BY n_chars DESC, doc_id) AS rk
      |        FROM j) WHERE rk = 1)
      |SELECT j.doc_id, j.cluster_rep, j.cluster_size, j.n_chars, c.canonical_id,
      |       CAST(CASE WHEN j.doc_id = c.canonical_id THEN 1 ELSE 0 END AS INT) AS is_canonical
      |FROM j JOIN c ON j.cluster_rep = c.cluster_rep ORDER BY j.doc_id""".stripMargin

  /** LEAKAGE-SAFE train/val/test split: the per-doc hash split
    * (q_corpus_split) puts two near-identical docs on opposite sides of
    * the train/test wall — the classic contamination bug. Here the
    * split fate is keyed on the dup CLUSTER's representative id
    * (singletons on their own id) with the exact q_corpus_split bucket
    * arithmetic (SampleQ.bucketExpr), so cluster members always land in
    * the same split and the assignment stays stable under corpus
    * growth. Scale shape: cluster labels (pointer-jump CC over the
    * banded candidates) + one left join + narrow codegen hash — no new
    * shuffles beyond the clustering itself. */
  def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupCluster(s, dir).select(col("doc_id"), col("cluster_rep"))
    val docs = documents(s, dir).select(col("doc_id"))
    docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("grp"))
      .selectExpr("doc_id", "grp", "md5(CAST(grp AS STRING)) AS h")
      .selectExpr("doc_id", "grp", s"CAST(${SampleQ.bucketExpr} AS BIGINT) AS bucket")
      .selectExpr("doc_id", "grp",
        "CASE WHEN bucket < 58982 THEN 'train' WHEN bucket < 62259 THEN 'val' ELSE 'test' END AS split")
  }

  val qLeakageSplitSql: String =
    s"""$bandsCte,
      |$cappedCte,
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges) t
      |          UNION
      |          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src),
      |grp AS (SELECT d.doc_id, COALESCE(l.cluster_rep, d.doc_id) AS grp
      |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
      |hh AS (SELECT doc_id, grp, md5(CAST(grp AS STRING)) AS h FROM grp),
      |bb AS (SELECT doc_id, grp, CAST(${SampleQ.bucketExpr} AS BIGINT) AS bucket FROM hh)
      |SELECT doc_id, grp,
      |       CASE WHEN bucket < 58982 THEN 'train' WHEN bucket < 62259 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM bb ORDER BY doc_id""".stripMargin

  /** n-gram Jaccard similarity over a bounded doc subset (doc_id < 40):
    * |A ∩ B| via a shingle equi-join, |A ∪ B| = |A| + |B| - |A ∩ B|.
    * Ratio is int/int -> identical double on both engines. */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir, Some(40L)).scopedCache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("sa.n") + col("sb.n") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double") / (col("sa.n") + col("sb.n") - col("n_inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.35)
  }

  val qNgramJaccardSql: String =
    """WITH n AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
      |           FROM documents WHERE doc_id < 40),
      |sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS s
      |       FROM n, UNNEST(generate_series(1, length(t) - 3)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
      |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id)
      |SELECT doc_a, doc_b, n_inter,
      |       sa.n + sb.n - n_inter AS n_union,
      |       ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
      |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.35
      |ORDER BY doc_a, doc_b""".stripMargin

  /** ASYMMETRIC shingle containment |A ∩ B| / |A| over the same bounded
    * subset as [[qNgramJaccard]] — the near-dup measure Jaccard misses:
    * a short doc fully quoted inside a long one has low Jaccard (the
    * union is dominated by the container) but containment ≈ 1 from the
    * quoted side. Directional: (doc_a ⊂ doc_b) and (doc_b ⊂ doc_a) are
    * separate rows. Ratio is int/int -> identical double on both
    * engines; at scale this is the same candidate-bounded verify kernel
    * as Jaccard (a shingle equi-join + two hash aggregates), applied to
    * LSH-discovered pairs rather than a doc_id cap. */
  def qShingleContain(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir, Some(40L)).scopedCache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("sa.n").as("n_a"),
        round(col("n_inter").cast("double") / col("sa.n"), 4).as("containment"))
      .filter(col("containment") >= 0.65)
  }

  val qShingleContainSql: String =
    """WITH n AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
      |           FROM documents WHERE doc_id < 40),
      |sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS s
      |       FROM n, UNNEST(generate_series(1, length(t) - 3)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
      |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id != y.doc_id
      |          GROUP BY x.doc_id, y.doc_id)
      |SELECT doc_a, doc_b, n_inter, sa.n AS n_a,
      |       ROUND(CAST(n_inter AS DOUBLE) / sa.n, 4) AS containment
      |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
      |WHERE ROUND(CAST(n_inter AS DOUBLE) / sa.n, 4) >= 0.65
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The production two-stage near-dup: MinHash+LSH DISCOVERS candidate
    * pairs (never all-pairs), exact word-3gram Jaccard VERIFIES each —
    * the composition the bounded qNgramJaccard kernel exists for. Cost
    * is bounded by the candidate count times shingle sizes, not by the
    * corpus squared. */
  def qNeardupVerified(s: SparkSession, dir: String): DataFrame = {
    val jac = overlapJaccard
    shingleOverlap(qMinhashLsh(s, dir).scopedCache(),
        documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_a"), col("doc_b"), col("ni").as("n_inter"), jac.as("jaccard"),
        when(jac >= 0.5, lit(1)).otherwise(lit(0)).as("verified"))
  }

  val qNeardupVerifiedSql: String =
    s"""$bandsCte,
      |$cappedCte,
      |cdocs AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs) t),
      |shp AS (SELECT sh.doc_id, sh.s FROM sh JOIN cdocs USING (doc_id)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shp GROUP BY doc_id),
      |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      |          FROM pairs p JOIN shp x ON x.doc_id = p.doc_a
      |                       JOIN shp y ON y.doc_id = p.doc_b AND y.s = x.s
      |          GROUP BY p.doc_a, p.doc_b)
      |SELECT p.doc_a, p.doc_b, COALESCE(i.n_inter, 0) AS n_inter,
      |       ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.n_inter, 0)), 4) AS jaccard,
      |       CAST(CASE WHEN ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.n_inter, 0)), 4) >= 0.5 THEN 1 ELSE 0 END AS INT) AS verified
      |FROM pairs p LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      |JOIN sizes sa ON sa.doc_id = p.doc_a
      |JOIN sizes sb ON sb.doc_id = p.doc_b
      |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** 16-bit SimHash from md5 nibbles — one shared arithmetic formula,
    * run through spark.sql on a temp view and through DuckDB verbatim
    * (only the token-explode clause differs per engine). */
  private def simhashCore(tokClause: String): String = {
    val nibbleExpr = (j: Int) => s"(instr('0123456789abcdef', substr(m, ${j + 1}, 1)) - 1)"
    val bitExpr = (i: Int) => {
      val j = i / 4; val k = i % 4
      val c = nibbleExpr(j)
      k match {
        case 0 => s"($c % 2)"
        case _ => s"(CAST(FLOOR($c / ${1 << k}) AS INT) % 2)"
      }
    }
    val votes = (0 until 16).map(i => s"SUM(2 * ${bitExpr(i)} - 1) AS v$i").mkString(",\n   ")
    val assemble = (0 until 16).map(i => s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS ($tokClause),
       |h AS (SELECT doc_id, md5(t) AS m FROM tok),
       |v AS (SELECT doc_id,
       |   $votes
       | FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin
  }

  def qSimhash(s: SparkSession, dir: String): DataFrame = {
    documents(s, dir).createOrReplaceTempView("documents")
    s.sql(Tables.unordered(simhashCore(
      "SELECT doc_id, t FROM documents LATERAL VIEW explode(split(trim(text), '\\\\s+')) AS t")))
  }

  val qSimhashSql: String = simhashCore(
    "SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents")

  /** 60-bit SimHash near-dup at scale: the classic Hamming-block scheme.
    * 60 bits = 4 blocks x 15 bits; by pigeonhole, any pair within
    * Hamming distance 3 shares at least one UNCHANGED block, so
    * candidates come from equi-joins on (block_idx, block_value) — never
    * all-pairs — and bit_count(XOR) verifies exactly. 60 (not 64) bits
    * so the assembled value never touches the BIGINT sign bit, which
    * the two engines would render differently. Shared vote formula with
    * [[simhashCore]]; only shift/xor spellings differ per engine. */
  private def simhash60Votes(tokClause: String,
      hexToInt: String => String, shr: (String, Int) => String): String = {
    // One integer conversion per token, then 60 codegen'd shift-and-mask
    // bit extractions — bit-identical to the original per-nibble string
    // formulation (bit i of that == bit 4*(14 - i/4) + i%4 of the
    // integer value of the first 15 hex chars, hex digit 0 most
    // significant) at ~60x less string work per token: the old form's
    // 60 instr+substr scans per token were the q_simhash_neardup
    // battery hot loop.
    val bitExpr = (i: Int) => {
      val s0 = 4 * (14 - i / 4) + (i % 4)
      s"(${shr("h", s0)} & 1)"
    }
    val votes = (0 until 60).map(i => s"SUM(2 * CAST(${bitExpr(i)} AS INT) - 1) AS v$i").mkString(",\n   ")
    val assemble = (0 until 60).map(i => s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""tok AS ($tokClause),
       |hh AS (SELECT doc_id, ${hexToInt("substr(md5(t), 1, 15)")} AS h FROM tok),
       |v AS (SELECT doc_id,
       |   $votes
       | FROM hh GROUP BY doc_id),
       |sims AS (SELECT doc_id, CAST($assemble AS BIGINT) AS sh FROM v)""".stripMargin
  }

  /** Engine spellings for the 60-bit vote arithmetic. */
  private val sparkHexToInt: String => String = s => s"CAST(conv($s, 16, 10) AS BIGINT)"
  private val sparkShr: (String, Int) => String = (x, n) => s"shiftright($x, $n)"
  private val duckHexToInt: String => String = s => s"CAST(concat('0x', $s) AS BIGINT)"
  private val duckShr: (String, Int) => String = (x, n) => s"($x >> $n)"

  /** The block/candidate tail over an existing `simsRel(doc_id, sh)`
    * relation — CTE list WITHOUT the leading WITH so it composes either
    * with the vote CTEs (oracle, single statement) or over a cached
    * sims view (Spark, where CTE INLINING would otherwise re-expand the
    * 60-vote token aggregation into every reference: the naive
    * single-statement plan contained 32 Generate nodes — the token
    * explode computed 32 times).
    * @param shr  engine spelling of `(x >> n)`  (n a literal int)
    * @param xor  engine spelling of `xor(a, b)` */
  private def simhashNeardupTail(simsRel: String,
      shr: (String, Int) => String, xor: (String, String) => String): String = {
    val blockRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS blk, (${shr("sh", 15 * b)} & 32767) AS bv, sh FROM $simsRel"
    }.mkString("\n       UNION ALL ")
    s"""blocks AS (
       |       $blockRows),
       |bsz AS (SELECT blk, bv, COUNT(*) AS bn FROM blocks GROUP BY blk, bv),
       |capped AS (SELECT blocks.doc_id, blocks.blk, blocks.bv, blocks.sh
       |           FROM blocks JOIN bsz ON bsz.blk = blocks.blk AND bsz.bv = blocks.bv
       |           WHERE bsz.bn <= $MaxLshBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
       |         FROM capped a JOIN capped b
       |           ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(${xor("sha", "shb")}) AS INT) AS hamming
       |FROM cand WHERE bit_count(${xor("sha", "shb")}) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private def simhashNeardupCore(tokClause: String, hexToInt: String => String,
      shr: (String, Int) => String, xor: (String, String) => String): String =
    s"""WITH ${simhash60Votes(tokClause, hexToInt, shr)},
       |${simhashNeardupTail("sims", shr, xor)}""".stripMargin

  /** The 60-vote sims aggregation alone — the expensive single pass
    * over the token stream, spread over the session's cores
    * ([[byDocId]]). */
  private def simhash60Sims(s: SparkSession, dir: String): DataFrame = {
    byDocId(s, documents(s, dir)).createOrReplaceTempView("documents")
    s.sql(
      s"""WITH ${simhash60Votes(
           "SELECT doc_id, t FROM documents LATERAL VIEW explode(split(trim(text), '\\\\s+')) AS t",
           sparkHexToInt, sparkShr)}
         |SELECT doc_id, sh FROM sims""".stripMargin)
  }

  def qSimhashNeardup(s: SparkSession, dir: String): DataFrame = {
    // the expensive part — one pass over the token stream — runs ONCE
    // into a cached 1-row-per-doc relation (same policy as the other
    // self-join temporaries). The tail is DataFrame ops ON THE CACHED
    // OBJECT, not SQL over a view: re-stating the tail as SQL left the
    // analyzer re-expanding the view into every CTE reference without
    // cache substitution (executed plan: 32 Generate nodes, zero
    // InMemoryTableScan) — lineage on the DataFrame itself guarantees
    // the InMemoryRelation is what every branch scans.
    val sims = simhash60Sims(s, dir).scopedCache()
    // the four block rows of a doc come from ONE posexplode (pos = block
    // index) and the bucket cap is [[capBuckets]] over (blk, bv) — the
    // qMinhashLsh shape: `sims` is scanned once and shuffled once on
    // the bucket key, and the self-join below reuses that partitioning
    val capped = capBuckets(sims
      .select(col("doc_id"), col("sh"), posexplode(array((0 until 4).map { b =>
        shiftright(col("sh"), 15 * b).bitwiseAND(lit(32767L))
      }: _*)).as(Seq("blk", "bv"))), MaxLshBucket, "blk", "bv")
    val left = capped.select(col("doc_id").as("doc_a"), col("blk"), col("bv"), col("sh").as("sha"))
    val right = capped.select(col("doc_id").as("doc_b"), col("blk"), col("bv"), col("sh").as("shb"))
    left.join(right, Seq("blk", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sha"), col("shb")).distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sha ^ shb) AS INT)").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  val qSimhashNeardupSql: String = simhashNeardupCore(
    "SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents",
    duckHexToInt, duckShr, (a, b) => s"xor($a, $b)")

  /** Exact SUBSTRING-level dedup (the Lee-et-al "deduplicating training
    * data" block shape): non-overlapping 32-token blocks are
    * fingerprinted; a block instance is a duplicate iff an identical
    * block occurs EARLIER in corpus order (smaller doc_id, or same doc
    * at a smaller block index). Unlike whole-document dedup this
    * catches repeated passages embedded in otherwise-unique documents
    * (boilerplate paragraphs, quoted chunks) — this corpus has ~8% of
    * blocks duplicated with zero exact-dup documents.
    *
    * Scale notes: one row per block (explode is 1/32 of the token
    * stream); first-occurrence via row_number over fp — ONE shuffle of
    * the slim (fp, doc, blk) relation; the groupBy-min+join-back
    * alternative shuffles the same rows twice (q_corpus_filter
    * reasoning). Per-doc rollup is a partial-agg groupBy. */
  def qSubstrDedup(s: SparkSession, dir: String): DataFrame = {
    val blocks = documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 32)
      .select(col("doc_id"),
        explode(expr("sequence(0, CAST(size(toks) DIV 32 AS INT) - 1)")).as("blk"),
        col("toks"))
      .select(col("doc_id"), col("blk"),
        md5(concat_ws(" ", expr("slice(toks, blk * 32 + 1, 32)")).cast("binary")).as("fp"))
    val ranked = blocks.withColumn("rn", row_number().over(
      Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("blk"))))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .select(col("doc_id"), col("n_blocks"), col("n_dup_blocks"),
        round(col("n_dup_blocks").cast("double") / col("n_blocks"), 4).as("dup_block_frac"))
  }

  val qSubstrDedupSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |b AS (SELECT doc_id, i AS blk,
      |        md5(array_to_string(toks[(i*32+1):(i*32+32)], ' ')) AS fp
      |      FROM t, UNNEST(generate_series(0, length(toks)//32 - 1)) AS u(i)
      |      WHERE length(toks) >= 32),
      |r AS (SELECT doc_id, blk,
      |        ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, blk) AS rn
      |      FROM b)
      |SELECT doc_id, COUNT(*) AS n_blocks,
      |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
      |  ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS dup_block_frac
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Paragraph-level dedup with document REASSEMBLY (the C4/RefinedWeb
    * rewrite op): where [[qSubstrDedup]] only REPORTS duplicated blocks,
    * this drops every non-first occurrence corpus-wide and re-emits the
    * cleaned document — the operator that actually rewrites a training
    * corpus. "Paragraphs" are 32-token blocks INCLUDING the partial
    * tail block (unlike the report query), so a document with zero
    * duplicated blocks reassembles to exactly its normalized text and
    * the rewrite is lossless. First occurrence = corpus order (smallest
    * doc_id, then block index), the same tie-break the report uses.
    * Output: per doc, block counts and md5 of the reassembled text
    * (md5("") for a document whose every block occurred earlier).
    *
    * Scale notes: the one wide shuffle carries (fp, doc, blk, btext) —
    * a rewrite op must move the surviving text once, there is no
    * fingerprint-only shortcut; the window key is the 32-byte fp, so
    * partitioning never hashes full text. Reassembly is a per-doc
    * partial-agg groupBy (collect_list of (blk, btext) structs, sorted
    * in-memory per doc — bounded by document size, not corpus size). */
  def qParaDedup(s: SparkSession, dir: String): DataFrame = {
    val blocks = documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(0, CAST((size(toks) + 31) DIV 32 AS INT) - 1)")).as("blk"),
        col("toks"))
      .select(col("doc_id"), col("blk"),
        concat_ws(" ", expr("slice(toks, blk * 32 + 1, 32)")).as("btext"))
    val ranked = blocks
      .withColumn("fp", md5(col("btext").cast("binary")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("blk"))))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sort_array(collect_list(when(col("rn") === 1,
          struct(col("blk"), col("btext"))))).as("ks"))
      .select(col("doc_id"), col("n_blocks"),
        size(col("ks")).cast("long").as("n_kept"),
        md5(concat_ws(" ", expr("transform(ks, x -> x.btext)")).cast("binary")).as("dedup_md5"))
  }

  val qParaDedupSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |b AS (SELECT doc_id, i AS blk,
      |        array_to_string(toks[(i*32+1):(i*32+32)], ' ') AS btext
      |      FROM t, UNNEST(generate_series(0, (length(toks)+31)//32 - 1)) AS u(i)
      |      WHERE length(toks) >= 1),
      |r AS (SELECT doc_id, blk, btext,
      |        ROW_NUMBER() OVER (PARTITION BY md5(btext) ORDER BY doc_id, blk) AS rn
      |      FROM b)
      |SELECT doc_id, COUNT(*) AS n_blocks,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN btext END, ' ' ORDER BY blk), '')) AS dedup_md5
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Mirrored-doc id offset for the in-query syndication fixture. */
  private val SyndicationOffset = 1000000000L

  /** CROSS-SOURCE duplicate resolution — when one content fingerprint
    * appears in several SOURCES, which source keeps the copy and which
    * sources lose theirs? Output is the (source_kept, source_dropped)
    * matrix with drop counts — the table a curation review reads to see
    * e.g. "the aggregator crawl re-serves 4% of the curated set" and
    * the precedence rule a multi-source merge actually applies (prefer
    * curated sources over aggregators; the q_canonical_docs pick is
    * length-based and source-blind, so the two resolutions complement).
    * Precedence: priority 0 for primary `src*` sources, 2 for the
    * synthetic 'agg' aggregator (EXPLICITLY the lowest tier — round-4
    * advice: with 'agg' sharing tier 1 and sorting lexicographically
    * first, a curated non-src source would have lost to its own
    * syndicated mirror), 1 for any other source; winner =
    * min(priority, source, doc_id) — a total order, engine-independent. The synthetic corpus has no cross-source exact dups
    * below sf0.1, so (fixture-in-query, the q_decontaminate pattern)
    * every doc with doc_id % 37 == 0 is mirrored into a synthetic
    * 'agg' aggregator source at doc_id + 10^9 — modelling syndicated
    * republication; natural sf0.1 dup clusters count identically in
    * both engines on top.
    *
    * Scale shape: fingerprints groupBy with map-side partial combine
    * (the q_dedup_exact geometry); the winner relation carries only
    * multi-copy clusters (rare), so the join back is AQE-broadcast; the
    * matrix aggregate is at most #sources^2 rows. min(struct(...)) is a
    * partial-aggable argmin — no window over the corpus anywhere. */
  def qSourcePrecedence(s: SparkSession, dir: String): DataFrame = {
    val fp = exactFp(col("text"))
    val base = documents(s, dir).select(col("doc_id"), col("source"), fp.as("fp"))
    val agg = documents(s, dir).filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") + lit(SyndicationOffset)).as("doc_id"),
        lit("agg").as("source"), fp.as("fp"))
    val rel = base.unionByName(agg)
      .withColumn("prio",
        when(col("source").startsWith("src"), lit(0))
          .when(col("source") === "agg", lit(2))
          .otherwise(lit(1)))
    val winners = rel.groupBy(col("fp"))
      .agg(min(struct(col("prio"), col("source"), col("doc_id"))).as("w"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("fp"), col("w.source").as("source_kept"),
        col("w.doc_id").as("kept_id"))
    rel.join(winners, Seq("fp"))
      .filter(col("doc_id") =!= col("kept_id"))
      .groupBy(col("source_kept"), col("source"))
      .agg(count(lit(1)).as("n_docs_dropped"))
      .select(col("source_kept"), col("source").as("source_dropped"),
        col("n_docs_dropped"))
  }

  val qSourcePrecedenceSql: String =
    s"""WITH u AS (
      |  SELECT doc_id, source,
      |         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + $SyndicationOffset, 'agg',
      |         md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
      |  FROM documents WHERE doc_id % 37 = 0),
      |p AS (SELECT *, CASE WHEN source LIKE 'src%' THEN 0
      |                     WHEN source = 'agg' THEN 2 ELSE 1 END AS prio FROM u),
      |w AS (SELECT fp, source, doc_id,
      |        ROW_NUMBER() OVER (PARTITION BY fp ORDER BY prio, source, doc_id) AS rk,
      |        COUNT(*) OVER (PARTITION BY fp) AS n
      |      FROM p),
      |k AS (SELECT fp, source AS source_kept, doc_id AS kept_id
      |      FROM w WHERE rk = 1 AND n >= 2)
      |SELECT k.source_kept, p.source AS source_dropped,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs_dropped
      |FROM p JOIN k USING (fp)
      |WHERE p.doc_id <> k.kept_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_source_precedence" -> ((qSourcePrecedence _, Some(qSourcePrecedenceSql))),
    "q_substr_dedup" -> ((qSubstrDedup _, Some(qSubstrDedupSql))),
    "q_para_dedup" -> ((qParaDedup _, Some(qParaDedupSql))),
    "q_dedup_exact" -> ((qDedupExact _, Some(qDedupExactSql))),
    "q_dedup_soft" -> ((qDedupSoft _, Some(qDedupSoftSql))),
    "q_dup_profile" -> ((qDupProfile _, Some(qDupProfileSql))),
    "q_minhash_lsh" -> ((qMinhashLsh _, Some(qMinhashLshSql))),
    "q_minhash_calibration" -> ((qMinhashCalibration _, Some(qMinhashCalibrationSql))),
    "q_lsh_bucket_profile" -> ((qLshBucketProfile _, Some(qLshBucketProfileSql))),
    "q_dedup_cluster" -> ((qDedupCluster _, Some(qDedupClusterSql))),
    "q_canonical_docs" -> ((qCanonicalDocs _, Some(qCanonicalDocsSql))),
    "q_incremental_dedup" -> ((qIncrementalDedup _, Some(qIncrementalDedupSql))),
    "q_lsh_recall" -> ((qLshRecall _, Some(qLshRecallSql))),
    "q_leakage_split" -> ((qLeakageSplit _, Some(qLeakageSplitSql))),
    "q_lsh_tuning" -> ((qLshTuning _, Some(qLshTuningSql))),
    "q_neardup_verified" -> ((qNeardupVerified _, Some(qNeardupVerifiedSql))),
    "q_simhash_neardup" -> ((qSimhashNeardup _, Some(qSimhashNeardupSql))),
    "q_ngram_jaccard" -> ((qNgramJaccard _, Some(qNgramJaccardSql))),
    "q_shingle_contain" -> ((qShingleContain _, Some(qShingleContainSql))),
    "q_simhash" -> ((qSimhash _, Some(qSimhashSql))))
}
