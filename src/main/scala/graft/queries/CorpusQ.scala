package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QCache.ScopedCacheOps
import Tables.documents

/** Corpus-curation operators a large-scale training-data pipeline runs
  * on top of the per-doc signals: Gopher-style repetition filters,
  * boilerplate-prefix dedup, TF-IDF keyword terms, and the composed
  * keep/reject selection query. All oracle-checkable — counts are exact
  * ints; every ratio is an int/int double (bit-identical IEEE division
  * in Spark and DuckDB); ranking ties break on a string column.
  *
  * Scale notes (100 TB framing):
  *   - repetition + tfidf explode to one row per token/bigram, then
  *     hash-aggregate — partial map-side combine means the shuffles
  *     carry per-(doc,term) distinct rows, not the token stream;
  *   - the document-frequency relation is vocabulary-sized; its join
  *     back to (doc,term) counts is a shuffle equi-join that AQE can
  *     convert to broadcast when the vocab fits (it usually does after
  *     stopword-heavy corpora dedup into a Zipf head);
  *   - prefix dedup is a pure groupBy with map-side combine (same shape
  *     as q_dedup_exact);
  *   - the corpus filter needs every input row in the output, so the
  *     min-representative is a window over prefix_fp (one shuffle of the
  *     slim projected relation) — a groupBy+join-back would shuffle the
  *     same rows twice for the same result.
  */
object CorpusQ {

  private def toksOf(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))

  /** Gopher-style repetition signals: duplicate-token fraction and the
    * share of the most frequent word bigram. High values flag listy /
    * boilerplate / degenerate documents. */
  def qRepetitionSignals(s: SparkSession, dir: String): DataFrame = {
    val d = toksOf(s, dir)
    val base = d.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    // one row per bigram -> (doc,bigram) counts -> per-doc max/sum, all
    // with map-side partial aggregation; docs with <2 tokens simply
    // produce no bigram rows (left join backfills zeros)
    val bi = d.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks)-1), i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))")).as("b"))
    val agg = bi.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_count"), sum(col("c")).as("n_bigrams"))
    base.join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        round((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"), 4).as("dup_tok_frac"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("top_bigram_count").cast("double") / col("n_bigrams"), 4)).as("top_bigram_share"))
  }

  val qRepetitionSignalsSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |base AS (SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
      |                CAST(length(list_distinct(toks)) AS BIGINT) AS n_distinct FROM d),
      |bi AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] AS b
      |       FROM d, UNNEST(generate_series(1, length(toks)-1)) AS u(i)
      |       WHERE length(toks) >= 2),
      |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY doc_id, b),
      |agg AS (SELECT doc_id, MAX(c) AS top_bigram_count, CAST(SUM(c) AS BIGINT) AS n_bigrams
      |        FROM bc GROUP BY doc_id)
      |SELECT base.doc_id, n_tokens, n_distinct,
      |  ROUND(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens, 4) AS dup_tok_frac,
      |  COALESCE(top_bigram_count, 0) AS top_bigram_count,
      |  COALESCE(n_bigrams, 0) AS n_bigrams,
      |  CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
      |       ELSE ROUND(CAST(top_bigram_count AS DOUBLE) / n_bigrams, 4) END AS top_bigram_share
      |FROM base LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Boilerplate-prefix dedup: documents sharing the same first 8 tokens
    * collapse to one representative (min doc_id). Catches template/
    * mirror pages that exact full-text dedup misses. Same groupBy shape
    * as q_dedup_exact (map-side partial combine; the shuffle carries the
    * distinct-prefix relation, not the corpus). */
  def qPrefixDedup(s: SparkSession, dir: String): DataFrame =
    toksOf(s, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("toks"), 1, 8)).cast("binary")).as("prefix_fp"))
      .groupBy(col("prefix_fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_docs"))
      .select(col("doc_id"), col("prefix_fp"), col("n_docs"))

  val qPrefixDedupSql: String =
    """WITH t AS (SELECT doc_id,
      |  md5(array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:8], ' ')) AS prefix_fp
      |FROM documents)
      |SELECT MIN(doc_id) AS doc_id, prefix_fp, COUNT(*) AS n_docs
      |FROM t GROUP BY prefix_fp ORDER BY doc_id""".stripMargin

  /** Per-document top-3 keyword terms ranked by tf/df — the TF-IDF idea
    * with an exact rational score: both engines divide the same two
    * BIGINTs, so the doubles (and the ranking) are bit-identical,
    * whereas a log-based idf could diverge in the last ulp. Ties break
    * on the term string. */
  def qTfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = toksOf(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk").cast("long").as("rnk"))
  }

  val qTfidfTermsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, u.term FROM (
      |    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents) d,
      |    UNNEST(d.toks) AS u(term)),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf AS DOUBLE)/dfreq.df DESC, tf.term ASC) AS rnk
      |  FROM tf JOIN dfreq USING (term))
      |SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk
      |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** The composed training-set selection: every document gets a keep
    * flag and the FIRST rejection reason in fixed priority order —
    * (1) non-canonical member of a prefix-dedup group, (2) language
    * unidentifiable, (3) too short. One pass over documents; the only
    * shuffle is the window over prefix_fp (slim projection). */
  def qCorpusFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysisQ.withLangScores(documents(s, dir))
      .select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"),
        TextAnalysisQ.predLangCol.as("pred_lang"))
      .select(col("doc_id"), col("pred_lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", slice(col("toks"), 1, 8)).cast("binary")).as("prefix_fp"))
    val rep = min(col("doc_id")).over(Window.partitionBy(col("prefix_fp")))
    val reason = when(col("doc_id") =!= col("rep"), "dup_prefix")
      .when(col("pred_lang") === "unknown", "lang_unknown")
      .when(col("n_tokens") < 20, "too_short")
      .otherwise("kept")
    scored.withColumn("rep", rep)
      .withColumn("reason", reason)
      .select(col("doc_id"), col("reason"),
        when(col("reason") === "kept", 1L).otherwise(0L).as("keep_flag"))
  }

  val qCorpusFilterSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       | ${TextAnalysisQ.langScoreSqlCols}
       |FROM documents),
       |w AS (SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
       |        md5(array_to_string(toks[1:8], ' ')) AS prefix_fp,
       |        ${TextAnalysisQ.predLangCaseSql} AS pred_lang
       |      FROM t),
       |m AS (SELECT *, MIN(doc_id) OVER (PARTITION BY prefix_fp) AS rep FROM w),
       |r AS (SELECT doc_id,
       |        CASE WHEN doc_id != rep THEN 'dup_prefix'
       |             WHEN pred_lang = 'unknown' THEN 'lang_unknown'
       |             WHEN n_tokens < 20 THEN 'too_short'
       |             ELSE 'kept' END AS reason
       |      FROM m)
       |SELECT doc_id, reason,
       |  CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
       |FROM r ORDER BY doc_id""".stripMargin

  /** PII detection + redaction. The synthetic corpus carries no PII, so
    * the query INJECTS it deterministically first (docs with
    * doc_id % 7 == 0 get an email, % 11 == 0 a URL — fixture-in-query,
    * the q_pdf_roundtrip pattern), then counts and redacts. The regexes
    * use only syntax with identical semantics in Java regex (Spark) and
    * RE2 (DuckDB): char classes, +, literal dots. Redaction correctness
    * is pinned by the md5 of the redacted text. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
  private val UrlRe = "https?://[a-z0-9./_-]+"

  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" see https://example.org/doc/"), col("doc_id"))).otherwise(lit("")))
    documents(s, dir)
      .select(col("doc_id"), injected.as("t"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        md5(regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"), UrlRe, "<URL>")
          .cast("binary")).as("redacted_md5"))
  }

  val qPiiRedactSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  text ||
       |  (CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS STRING) || '@example.com' ELSE '' END) ||
       |  (CASE WHEN doc_id % 11 = 0 THEN ' see https://example.org/doc/' || CAST(doc_id AS STRING) ELSE '' END) AS t
       |FROM documents)
       |SELECT doc_id,
       |  CAST(length(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(length(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS n_urls,
       |  md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g')) AS redacted_md5
       |FROM t ORDER BY doc_id""".stripMargin

  /** Exact per-source token-count percentiles by rank arithmetic (the
    * value at rank ceil(p*n), lower-rank convention) — no approximate
    * sketch, so the oracle can hash-compare. Ties in the ORDER BY are
    * harmless: every row in a tie run carries the same n_tok, so the
    * value AT any rank is well-defined regardless of which row gets it.
    * Plan: one window shuffle on source; the sort is per-source. At
    * production scale the same rank arithmetic runs per partition-key
    * group; a global percentile would use approx_percentile instead
    * (documented trade: sketches are not oracle-exact). */
  def qLengthPercentiles(s: SparkSession, dir: String): DataFrame = {
    val t = documents(s, dir).select(col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_tok"))
    val n = Window.partitionBy(col("source"))
    def pick(p: Double) =
      max(when(col("rn") === ceil(col("n") * p).cast("long"), col("n_tok")))
    t.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        pick(0.50).as("p50"), pick(0.90).as("p90"), pick(0.99).as("p99"))
  }

  val qLengthPercentilesSql: String =
    """WITH t AS (SELECT source,
      |  CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok FROM documents),
      |r AS (SELECT source, n_tok,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
      |  COUNT(*) OVER (PARTITION BY source) AS n FROM t)
      |SELECT source, MAX(n) AS n_docs,
      |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.50) AS BIGINT) THEN n_tok END) AS p50,
      |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.90) AS BIGINT) THEN n_tok END) AS p90,
      |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN n_tok END) AS p99
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** DETERMINISTIC HyperLogLog distinct-count sketch (m = 32 registers)
    * per source — the cardinality sketch a 100 TB profile pass uses
    * where exact distinct is a full shuffle. Engine-exact by
    * construction (unlike approx_count_distinct, whose internal sketch
    * no second engine can replicate): bucket and rank derive from the
    * first 15 md5 hex chars as INTEGER bit arithmetic (rank via
    * length(bin(w)), identical in Spark and DuckDB), registers are
    * exact MAX aggregates, and the harmonic sum is carried as the exact
    * BIGINT  S = Σ 2^(56 - M_j)  (empty registers contribute 2^56;
    * max 32·2^56 = 2^61, no overflow) so the only floating-point step
    * is one literal-scaled division of exact integers. The standard
    * small-range linear-counting correction (E <= 2.5m with empty
    * registers -> m*ln(m/V)) IS applied — ln is transcendental and
    * never oracle-safe at runtime, but V only takes 32 values, so the
    * correction ships as a CASE of compile-time literal doubles,
    * identical text in both engines. Output carries the exact distinct
    * alongside, so the correctness row also PINS the estimator's
    * accuracy on this data. */
  /** One HLL cell per (source, text) row: the md5 fingerprint, its
    * bucket (top 5 of 60 bits) and the rank of the other 55 — the
    * projection both register aggregates below share. */
  private def hllCells(docs: DataFrame): DataFrame = {
    val fp = graft.queries.DedupQ.exactFp(col("text"))
    val v = expr("CAST(conv(substr(fp, 1, 15), 16, 10) AS BIGINT)")
    docs
      .select(col("source"), fp.as("fp"))
      .select(col("source"), col("fp"),
        shiftright(v, 55).as("bucket"),
        (v.bitwiseAND(lit((1L << 55) - 1))).as("w"))
      .withColumn("rho",
        when(col("w") === 0L, lit(56)).otherwise(lit(56) - length(bin(col("w")))))
  }

  /** Per-(source, bucket) HLL registers from any (source, text)
    * relation — the m=32 deterministic sketch kernel of the streaming
    * sketch ([[graft.streaming.StreamingOps.hllStream]]): register
    * update is a MAX, so the streaming aggregation is bit-identical to
    * the batch one ([[hllRegistersExact]]). */
  def hllRegisters(docs: DataFrame): DataFrame =
    hllCells(docs).groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("m"))

  /** [[hllRegisters]] plus the per-bucket DISTINCT fingerprint count —
    * lets qApproxDistinct derive the exact NDV from the same single
    * scan (bucket = f(fp), so per-source NDV = SUM of per-bucket
    * distincts). */
  private[graft] def hllRegistersExact(docs: DataFrame): DataFrame =
    hllCells(docs).groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("m"), countDistinct(col("fp")).as("nfp"))

  /** The dataset "data card" — the one-table datasheet a corpus release
    * ships with: per SOURCE and as a grand TOTAL (one rollup — a single
    * Expand + one partial-agg shuffle, never two scans): doc/char/token
    * counts, distinct languages, exact-dup membership (docs whose
    * normalized-text fingerprint appears more than once CORPUS-wide —
    * counted per source via one window over the fp key), and the
    * short-doc tail. All exact integers; one SQL-shaped rule set shared
    * with the oracle, so the datasheet itself is hash-verified. */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val normT = lower(regexp_replace(col("text"), "\\s+", " "))
    val base = documents(s, dir).select(
      col("source"), col("lang"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(trim(normT), " ")).cast("long").as("n_toks"),
      graft.queries.DedupQ.exactFp(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp"))
    val flagged = base.withColumn("dup",
      when(count(lit(1)).over(w) > 1, 1L).otherwise(0L))
    flagged.rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("dup")).as("n_dup_docs"),
        sum(when(col("n_chars") < 100L, 1L).otherwise(0L)).as("n_short_docs"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_docs"), col("n_chars"), col("n_tokens"), col("n_langs"),
        col("n_dup_docs"), col("n_short_docs"))
  }

  val qDatasetCardSql: String =
    """WITH b AS (
      |  SELECT source, lang,
      |         CAST(length(text) AS BIGINT) AS n_chars,
      |         CAST(length(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks,
      |         md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |f AS (SELECT *, CASE WHEN COUNT(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END AS dup FROM b)
      |SELECT COALESCE(source, 'TOTAL') AS source,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(SUM(dup) AS BIGINT) AS n_dup_docs,
      |       CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs
      |FROM f GROUP BY GROUPING SETS ((source), ())
      |ORDER BY source""".stripMargin

  def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: the HLL bucket is a pure function of the md5
    // fingerprint, so distinct fps partition by (source, bucket) and the
    // exact NDV is the SUM of per-bucket distinct counts — the old shape
    // scanned the corpus twice (normalize+md5 per scan: once for the
    // registers, once for countDistinct) and joined the two aggregates.
    // Same n_exact, same registers, identical output.
    val regs = hllRegistersExact(documents(s, dir).select(col("source"), col("text")))
    regs.groupBy(col("source"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 56 - m)")).as("s_present"),
        count(lit(1)).as("n_buckets"),
        sum(col("nfp")).as("n_exact"))
      .select(col("source"), col("n_exact"), expr(EstimateExpr).as("n_est"))
  }

  /** The estimator over (s_present, n_buckets) — ONE string, used
    * verbatim in both engines (any drift would hash-mismatch). */
  private val EstimateExpr: String = {
    val raw = "(0.7213 / (1.0 + 1.079 / 32.0)) * 1024.0 * 72057594037927936.0 / " +
      "CAST(s_present + (32 - n_buckets) * 72057594037927936 AS DOUBLE)"
    // linear counting m*ln(m/V), V = 32 - n_buckets empty registers:
    // 32 compile-time literals (Scala Double.toString is shortest-round-
    // trip; both engines parse the same literal to the same double)
    val linCase = (1 to 31).map { nb =>
      s"WHEN $nb THEN ${32.0 * math.log(32.0 / (32 - nb))}"
    }.mkString("CASE n_buckets ", " ", s" ELSE $raw END")
    s"ROUND(CASE WHEN ($raw) <= 80.0 AND n_buckets < 32 THEN ($linCase) ELSE ($raw) END, 2)"
  }

  val qApproxDistinctSql: String =
    s"""WITH f AS (SELECT source, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM documents),
      |b AS (SELECT source, fp,
      |   (CAST(concat('0x', substr(fp, 1, 15)) AS BIGINT) >> 55) AS bucket,
      |   (CAST(concat('0x', substr(fp, 1, 15)) AS BIGINT) & 36028797018963967) AS w
      | FROM f),
      |r AS (SELECT source, bucket,
      |   MAX(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS m
      | FROM b GROUP BY source, bucket),
      |agg AS (SELECT source,
      |   CAST(SUM(CAST(1 AS BIGINT) << (56 - m)) AS BIGINT) AS s_present,
      |   COUNT(*) AS n_buckets
      | FROM r GROUP BY source),
      |ex AS (SELECT source, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_exact FROM f GROUP BY source)
      |SELECT agg.source, ex.n_exact, $EstimateExpr AS n_est
      |FROM agg JOIN ex ON ex.source = agg.source ORDER BY agg.source""".stripMargin

  /** Cross-source contamination matrix: for every source pair, the
    * number of distinct word 3-grams they share plus the Jaccard of
    * their 3-gram vocabularies — the corpus-level overlap audit run
    * before mixing sources into one training set (a hot pair means one
    * source republishes another's content).
    *
    * Scale notes: the unit relation is DISTINCT (source, fp) — i.e.
    * vocabulary-sized per source, NOT the token stream; it is computed
    * once and cached for its three consumers (sizes + both self-join
    * sides; Spark inlines shared lineage otherwise). The self-join
    * fans out per fp by the number of sources containing it (<= #
    * sources, a constant) — never doc-pairs. Output is #sources^2/2
    * rows: nothing at any corpus size. */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val g = documents(s, dir)
      .select(col("source"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"),
        explode(sequence(lit(1), size(col("toks")) - 2)).as("i"), col("toks"))
      .select(col("source"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(3))).cast("binary")).as("fp"))
      .distinct()
      .scopedCache()
    val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = g.as("a")
      .join(g.as("b"), col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), Seq("source_b"))
      // integer basis points, not round(double, 6): hashed float division
      // is the exact cross-engine drift class the Relational.scala header
      // bans (DeltaQ's jacc_bp convention)
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        expr("(n_shared * 10000) div (n_a + n_b - n_shared)").as("jacc_bp"))
  }

  val qSourceOverlapSql: String =
    """WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |g AS (SELECT DISTINCT source,
      |        md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS fp
      |      FROM t, UNNEST(generate_series(1, length(toks) - 2)) AS u(i)
      |      WHERE length(toks) >= 3),
      |sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |p AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |      FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
      |      GROUP BY a.source, b.source)
      |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |  CAST((n_shared * 10000) // (sa.n + sb.n - n_shared) AS BIGINT) AS jacc_bp
      |FROM p JOIN sizes sa ON sa.source = p.source_a
      |       JOIN sizes sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Robust outlier gate: per-source median + MAD (median absolute
    * deviation) of token counts via the exact rank arithmetic of
    * qLengthPercentiles (lower median at rank ceil(n/2)), then the
    * standard |x - med| > 3*MAD flag — the lengths-based anomaly filter
    * that, unlike mean/stddev, one mega-doc cannot drag. All integer
    * ranks and values; the only doubles are int/int ratios.
    *
    * The synthetic corpus has near-uniform lengths (max |x-med| is
    * ~2.5 MAD — a standard 3*MAD gate can never fire on it), so the
    * heavy tail is planted fixture-in-query (the q_pii_redact /
    * q_decontaminate pattern): docs with doc_id % 101 == 0 count 20x
    * tokens, modeling the mega-doc tail this engine's skew handling
    * exists for. The medians must NOT move (that is the point of
    * robust stats — a spec pins it) while every planted doc flags.
    *
    * Scale: two window passes over the slim (source, n_tok) projection
    * (values, then deviations) + one broadcastable per-source medians
    * join — same shape as the percentile profile, run twice. */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val t = documents(s, dir).select(col("doc_id"), col("source"),
      (size(split(trim(col("text")), "\\s+")).cast("long") *
        when(col("doc_id") % 101 === 0, 20L).otherwise(1L)).as("n_tok"))
    def medianOf(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy(col("source")).orderBy(col(valueCol))
      val n = Window.partitionBy(col("source"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .groupBy(col("source"))
        .agg(max(when(col("rn") === ceil(col("n") * 0.5).cast("long"), col(valueCol))).as(outCol))
    }
    val med = medianOf(t, "n_tok", "med")
    val dev = t.join(med, Seq("source")).withColumn("adev", abs(col("n_tok") - col("med")))
    val mad = medianOf(dev, "adev", "mad")
    dev.join(mad, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  val qMadOutliersSql: String =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+'))
      |         * (CASE WHEN doc_id % 101 = 0 THEN 20 ELSE 1 END) AS BIGINT) AS n_tok FROM documents),
      |r1 AS (SELECT source, n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n FROM t),
      |med AS (SELECT source, MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN n_tok END) AS med
      |        FROM r1 GROUP BY source),
      |dev AS (SELECT t.source, t.n_tok, ABS(t.n_tok - med.med) AS adev, med.med
      |        FROM t JOIN med ON med.source = t.source),
      |r2 AS (SELECT source, adev,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY adev) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n FROM dev),
      |mad AS (SELECT source, MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN adev END) AS mad
      |        FROM r2 GROUP BY source)
      |SELECT dev.source, COUNT(*) AS n_docs, MAX(dev.med) AS med, MAX(mad.mad) AS mad,
      |  CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad ON mad.source = dev.source
      |GROUP BY dev.source ORDER BY dev.source""".stripMargin

  /** Exact-integer distribution profile: per-source mean/variance of
    * token counts carried as EXACT BIGINT sums (n, sum, sum of squares);
    * the only floating-point steps are final int/int divisions, so both
    * engines produce bit-identical doubles. The one-pass partial-agg
    * alternative to rank-based percentiles when a streaming profile is
    * enough. */
  def qSourceVariance(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        sum(col("n_tok") * col("n_tok")).as("sumsq_tok"))
      .select(col("source"), col("n_docs"), col("sum_tok"), col("sumsq_tok"),
        round(col("sum_tok").cast("double") / col("n_docs"), 6).as("mean_tok"),
        round((col("n_docs") * col("sumsq_tok") - col("sum_tok") * col("sum_tok")).cast("double")
          / (col("n_docs") * col("n_docs")), 6).as("var_tok"))

  val qSourceVarianceSql: String =
    """WITH t AS (SELECT source,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok FROM documents),
      |a AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      |    CAST(SUM(n_tok * n_tok) AS BIGINT) AS sumsq_tok
      |  FROM t GROUP BY source)
      |SELECT source, n_docs, sum_tok, sumsq_tok,
      |  ROUND(CAST(sum_tok AS DOUBLE) / n_docs, 6) AS mean_tok,
      |  ROUND(CAST(n_docs * sumsq_tok - sum_tok * sum_tok AS DOUBLE) / (n_docs * n_docs), 6) AS var_tok
      |FROM a ORDER BY source""".stripMargin

  /** Histogram-sketch bin width / clamp bin (covers n_chars 0..4095;
    * larger values land in the open top bin). */
  val HistBinWidth = 16
  val HistMaxBin = 255

  /** Quantile targets (percent). */
  val HistQs: Seq[Int] = Seq(50, 90, 99)

  /** MERGEABLE histogram-quantile sketch vs exact — the fourth
    * deterministic sketch in the battery (HLL = cardinality, CMS =
    * frequency, Bloom = membership, this = quantiles): per source, an
    * equi-width 256-bin histogram of n_chars, quantile estimate = the
    * upper value bound of the first bin whose cumulative count reaches
    * the target rank. Unlike rank-pick exact percentiles (one sort per
    * group), the histogram is a bounded-size MERGEABLE partial
    * aggregate — the 100 TB shape: map-side combine into <= 256
    * counters per group, no per-group sort, and partial histograms
    * merge associatively across partitions/days. The exact value rides
    * alongside, so the sketch's one-sided error law (0 <= est_hi -
    * exact < bin width, when unclamped) is oracle-checked on every row.
    */
  def qHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val t = documents(s, dir).select(col("source"), col("n_chars"))
    val bins = t
      .select(col("source"),
        least(lit(HistMaxBin.toLong), expr(s"n_chars div $HistBinWidth")).cast("long").as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
    val cum = bins
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("c")).over(Window.partitionBy(col("source"))))
    val est = cum
      .select(col("source"), col("bin"), col("cum"), col("total"),
        explode(array(HistQs.map(lit): _*)).as("q_pct"))
      .filter(col("cum") * 100 >= col("q_pct") * col("total"))
      .groupBy(col("source"), col("q_pct"))
      .agg(min(col("bin")).as("est_bin"))
      .select(col("source"), col("q_pct").cast("long").as("q_pct"),
        ((col("est_bin") + 1) * HistBinWidth - 1).as("est_hi"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    val exact = t
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("n_chars"), col("rn"), col("n"),
        explode(array(HistQs.map(lit): _*)).as("q_pct"))
      .filter(col("rn") === ceil(col("n") * col("q_pct") / 100.0).cast("long"))
      .select(col("source"), col("q_pct").cast("long").as("q_pct"),
        col("n_chars").as("exact_v"))
    est.join(exact, Seq("source", "q_pct"))
      .select(col("source"), col("q_pct"), col("est_hi"), col("exact_v"),
        (col("est_hi") - col("exact_v")).as("err"))
  }

  val qHistQuantilesSql: String = {
    val qs = HistQs.mkString(", ")
    s"""WITH t AS (SELECT source, n_chars FROM documents),
       |b AS (SELECT source, LEAST($HistMaxBin, n_chars // $HistBinWidth) AS bin, COUNT(*) AS c
       |      FROM t GROUP BY 1, 2),
       |cb AS (SELECT source, bin,
       |    SUM(c) OVER (PARTITION BY source ORDER BY bin
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS total
       |  FROM b),
       |q AS (SELECT unnest(ARRAY[$qs]) AS q_pct),
       |est AS (SELECT source, q_pct, MIN(bin) AS est_bin
       |        FROM cb, q WHERE cum * 100 >= q_pct * total GROUP BY 1, 2),
       |r AS (SELECT source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM t),
       |ex AS (SELECT source, q_pct, n_chars AS exact_v
       |       FROM r, q WHERE rn = CAST(CEIL(n * q_pct / 100.0) AS BIGINT))
       |SELECT e.source, CAST(e.q_pct AS BIGINT) AS q_pct,
       |  CAST((e.est_bin + 1) * $HistBinWidth - 1 AS BIGINT) AS est_hi,
       |  CAST(x.exact_v AS BIGINT) AS exact_v,
       |  CAST((e.est_bin + 1) * $HistBinWidth - 1 - x.exact_v AS BIGINT) AS err
       |FROM est e JOIN ex x ON x.source = e.source AND x.q_pct = e.q_pct
       |ORDER BY e.source, e.q_pct""".stripMargin
  }

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_hist_quantiles" -> ((qHistQuantiles _, Some(qHistQuantilesSql))),
    "q_mad_outliers" -> ((qMadOutliers _, Some(qMadOutliersSql))),
    "q_source_variance" -> ((qSourceVariance _, Some(qSourceVarianceSql))),
    "q_source_overlap" -> ((qSourceOverlap _, Some(qSourceOverlapSql))),
    "q_approx_distinct" -> ((qApproxDistinct _, Some(qApproxDistinctSql))),
    "q_dataset_card" -> ((qDatasetCard _, Some(qDatasetCardSql))),
    "q_length_percentiles" -> ((qLengthPercentiles _, Some(qLengthPercentilesSql))),
    "q_pii_redact" -> ((qPiiRedact _, Some(qPiiRedactSql))),
    "q_repetition_signals" -> ((qRepetitionSignals _, Some(qRepetitionSignalsSql))),
    "q_prefix_dedup" -> ((qPrefixDedup _, Some(qPrefixDedupSql))),
    "q_tfidf_terms" -> ((qTfidfTerms _, Some(qTfidfTermsSql))),
    "q_corpus_filter" -> ((qCorpusFilter _, Some(qCorpusFilterSql))))
}
