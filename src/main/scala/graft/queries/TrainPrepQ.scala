package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables.documents

/** Training-set preparation operators — the steps a pipeline runs AFTER
  * curation, immediately before tokenization/sharding:
  *
  *   - benchmark decontamination (n-gram overlap against a held-out
  *     eval set — the standard 8-to-13-gram test-set-leak check);
  *   - sequence packing (concat-and-chunk document packing into fixed
  *     token-budget training sequences);
  *   - hashed-linear quality scoring (the fasttext-style "model-based
  *     quality filter" shape: a linear scorer over hashed token
  *     features, here with a deterministic md5-derived weight table so
  *     both engines compute bit-identical integer scores).
  *
  * All exact-integer arithmetic (no transcendental functions, no
  * order-dependent float sums) so every query is DuckDB-hash-comparable.
  *
  * Scale notes (100 TB framing):
  *   - decontamination: the benchmark n-gram set is tiny relative to the
  *     corpus (an eval suite, not a second corpus) — distinct fps
  *     broadcast to the corpus-shingle stream; the per-doc hit count
  *     aggregates with map-side partial combine. The corpus side streams
  *     one (doc, position) row per shingle through the broadcast probe —
  *     never a shuffle of the shingle stream itself;
  *   - packing: the running token total is per-SOURCE (window over the
  *     source partition) — the production shape packs within a shard so
  *     no global single-partition sort exists. A corpus-global pack
  *     would serialize; sharded packing is both the scalable and the
  *     realistic layout (shards feed data-parallel loaders);
  *   - linear quality: explode -> md5 -> weight -> re-aggregate, all
  *     codegen'd builtins with partial aggregation; the weight table is
  *     a pure expression (no join at all).
  */
object TrainPrepQ {

  import graft.queries.QCache.ScopedCacheOps

  // ---------------------------------------------------------------- //
  // q_dsir_select                                                     //
  // ---------------------------------------------------------------- //

  /** DSIR hashed-feature dimensionality (the method hashes n-grams into
    * a fixed bucket vector; 10k in the paper, 64 here so the oracle's
    * distribution CTEs stay readable — the arithmetic is identical). */
  val DsirBuckets = 64

  /** DSIR (Xie et al. 2023, arXiv:2302.03169 — Data Selection via
    * Importance Resampling): score every raw document by how much more
    * likely its hashed-token profile is under a small in-domain TARGET
    * distribution than under the raw-corpus distribution — the public
    * method behind "select pretraining data that looks like your
    * domain". Tokens (whitespace words of the lowercased text) hash
    * into [[DsirBuckets]] buckets via md5 (engine-portable); the
    * target seed is the src0 slice. The paper's log importance weight
    * is sum_b c_d[b]*(log T[b] - log S[b]); log() is not oracle-safe
    * (Relational.scala determinism rules), so this emits the EXACT
    * integer cross products score_target = sum_b c_d[b]*T[b] and
    * score_raw = sum_b c_d[b]*S[b] and gates selection on the rational
    * importance ratio >= 1 by cross-multiplication
    * (score_target * sum(S) >= score_raw * sum(T)) — BIGINT-exact in
    * both engines, and a downstream sampler can rank on the same
    * rational by cross-multiplying pairs.
    *
    * Scale shape: ONE tokenize/explode pass -> per-(doc, bucket) counts
    * (partial-agg groupBy, cached for its three consumers); both
    * distributions are [[DsirBuckets]]-row aggregates BROADCAST back
    * onto the count relation; per-doc scores are one more partial agg
    * keyed on doc_id. Nothing shuffles wider than (doc_id, bucket) —
    * at 10^12 docs the distribution vectors are still 64 rows. */
  /** Shared DSIR kernel: per-(doc, source, bucket) token counts — used
    * by [[qDsirSelect]] and by [[dsirDistributions]] (which freezes the
    * reference data the streaming gate scores against), so batch and
    * stream bucket arithmetic cannot drift. */
  private[graft] def dsirCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), explode(dsirBuckets(col("text"))).as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("c"))

  /** THE DSIR token kernel: the bucket ids of `text`'s non-empty tokens,
    * each its md5's first 7 hex digits mod [[DsirBuckets]]; [[dsirCounts]]
    * explodes it, StreamingOps.dsirSelectStream folds it. A UDF: as array
    * lambdas (interpreted per token) it cost q_dsir_select 10-38% at sf0.1. */
  private[graft] def dsirBuckets(text: Column): Column =
    udf((words: Seq[String]) => if (words == null) null else {
      val md = java.security.MessageDigest.getInstance("MD5")
      words.filter(_.nonEmpty).map { w =>
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((d(0) & 0xffL) << 20 | (d(1) & 0xff) << 12 | (d(2) & 0xff) << 4 | (d(3) & 0xff) >> 4) % DsirBuckets
      }.toArray
    }).apply(split(trim(lower(text)), "\\s+"))

  /** Freeze the two DSIR bucket distributions as driver-side maps —
    * BOUNDED reference data ([[DsirBuckets]] entries each), the shape a
    * streaming gate broadcasts. Returns (target, raw, tTotal, sTotal). */
  def dsirDistributions(docs: DataFrame): (Map[Long, Long], Map[Long, Long], Long, Long) = {
    val c = dsirCounts(docs).cache()
    try {
      val t = c.filter(col("source") === "src0")
        .groupBy(col("b")).agg(sum(col("c")).as("tb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sAll = c.groupBy(col("b")).agg(sum(col("c")).as("sb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (t, sAll, t.values.sum, sAll.values.sum)
    } finally { c.unpersist(); () }
  }

  def qDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val c = dsirCounts(documents(s, dir)).scopedCache()
    val t = c.filter(col("source") === "src0")
      .groupBy(col("b")).agg(sum(col("c")).as("tb"))
    val sAll = c.groupBy(col("b")).agg(sum(col("c")).as("sb"))
    val tot = t.agg(sum(col("tb")).as("t_total"))
      .crossJoin(sAll.agg(sum(col("sb")).as("s_total")))
    c.join(broadcast(t), Seq("b"), "left")
      .join(broadcast(sAll), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * coalesce(col("tb"), lit(0L))).as("score_target"),
        sum(col("c") * col("sb")).as("score_raw"),
        sum(col("c")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("score_target"), col("score_raw"),
        when(col("score_target") * col("s_total") >= col("score_raw") * col("t_total"),
          lit(1)).otherwise(lit(0)).as("selected"))
  }

  val qDsirSelectSql: String =
    s"""WITH w AS (SELECT doc_id, source,
      |            UNNEST(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |     FROM documents),
      |c AS (SELECT doc_id, source,
      |        CAST(concat('0x', substr(md5(word), 1, 7)) AS BIGINT) % $DsirBuckets AS b,
      |        COUNT(*) AS c
      |      FROM w WHERE word <> '' GROUP BY 1, 2, 3),
      |t AS (SELECT b, SUM(c) AS tb FROM c WHERE source = 'src0' GROUP BY b),
      |sall AS (SELECT b, SUM(c) AS sb FROM c GROUP BY b),
      |tot AS (SELECT (SELECT SUM(tb) FROM t) AS t_total,
      |               (SELECT SUM(sb) FROM sall) AS s_total),
      |scored AS (SELECT c.doc_id,
      |    CAST(SUM(c.c * COALESCE(t.tb, 0)) AS BIGINT) AS score_target,
      |    CAST(SUM(c.c * sall.sb) AS BIGINT) AS score_raw,
      |    CAST(SUM(c.c) AS BIGINT) AS n_tokens
      |  FROM c LEFT JOIN t ON t.b = c.b JOIN sall ON sall.b = c.b
      |  GROUP BY c.doc_id)
      |SELECT doc_id, n_tokens, score_target, score_raw,
      |  CAST(CASE WHEN score_target * s_total >= score_raw * t_total
      |       THEN 1 ELSE 0 END AS INT) AS selected
      |FROM scored, tot
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_decontaminate                                                   //
  // ---------------------------------------------------------------- //

  /** 8-token sentinel phrase. The synthetic corpus has no natural
    * verbatim 8-gram overlap, so (fixture-in-query, the q_pii_redact
    * pattern) the query plants it deterministically: every BENCHMARK doc
    * (doc_id % 97 == 0) and every doc with doc_id % 13 == 0 gets the
    * phrase appended — the latter are the "contaminated" training docs
    * the check must flag. Natural overlaps, if any, count identically in
    * both engines. */
  private val Sentinel = "the quick brown fox jumps over the lazy"

  /** The sentinel-injected text column (see [[Sentinel]]) — shared by
    * q_decontaminate and q_curate_pipeline (and applied by the
    * streaming-contamination spec so stream inputs match the batch
    * fixture). */
  private[graft] def injectedText = concat(col("text"),
    when(col("doc_id") % 97 === 0 || col("doc_id") % 13 === 0,
      lit(" " + Sentinel)).otherwise(lit("")))

  private val injectedTextSql =
    s"text || (CASE WHEN doc_id % 97 = 0 OR doc_id % 13 = 0 THEN ' $Sentinel' ELSE '' END)"

  /** Benchmark decontamination: flag training documents that share any
    * 8-token shingle with the benchmark set (doc_id % 97 == 0; those
    * docs model the held-out eval suite and are excluded from the
    * output). Output: per training doc, total shingles, contaminated
    * shingle positions, and the drop flag. */
  /** One (doc_id, fp) row per 8-token shingle of the given
    * `(doc_id, text, ...)` relation. Positions explode and md5 runs
    * OUTSIDE any lambda (codegen'd scan-stage work); the size >= 8 guard
    * exists because Spark's sequence(1, n) DESCENDS when n < 1. Shared
    * by q_decontaminate, q_curate_pipeline and the streaming
    * decontamination join (StreamingOps) — batch and stream cannot
    * drift. */
  def shingleFps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - 7)).as("i"), col("toks"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(8))).cast("binary")).as("fp"))

  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"), split(trim(injectedText), "\\s+").as("toks"))
    val shingles = shingleFps(documents(s, dir).withColumn("text", injectedText))
    val benchFps = shingles.filter(col("doc_id") % 97 === 0).select(col("fp")).distinct()
    val hits = shingles.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchFps), Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    toks.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        greatest(size(col("toks")) - 7, lit(0)).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_hits"), lit(0L)) > 0, 1L).otherwise(0L).as("drop_flag"))
  }

  val qDecontaminateSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  regexp_split_to_array(trim(text ||
       |    (CASE WHEN doc_id % 97 = 0 OR doc_id % 13 = 0 THEN ' $Sentinel' ELSE '' END)), '\\s+') AS toks
       |  FROM documents),
       |sh AS (SELECT doc_id,
       |         md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS fp
       |       FROM t, UNNEST(generate_series(1, length(toks) - 7)) AS u(i)
       |       WHERE length(toks) >= 8),
       |bench AS (SELECT DISTINCT fp FROM sh WHERE doc_id % 97 = 0),
       |hits AS (SELECT doc_id, COUNT(*) AS n_hits
       |         FROM sh JOIN bench USING (fp) WHERE doc_id % 97 != 0 GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(GREATEST(length(toks) - 7, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_contaminated,
       |  CAST(CASE WHEN COALESCE(n_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS drop_flag
       |FROM t LEFT JOIN hits USING (doc_id)
       |WHERE t.doc_id % 97 != 0 ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_ngram_novelty                                                   //
  // ---------------------------------------------------------------- //

  /** Corpus self-novelty: per document, the fraction of its DISTINCT
    * 8-token shingles that appear in no EARLIER document (doc_id order —
    * the ingestion sequence). The continuous companion to the boolean
    * dedup family: a curation signal that ranks documents by how much
    * genuinely new n-gram mass they add to the corpus (boilerplate-heavy
    * late arrivals score near 0, the canonical first copies near 10000).
    * Shingles shared via [[shingleFps]] (same 8-gram fingerprint as
    * decontamination/curation, so the signals compose). Integer basis
    * points only.
    *
    * Scale shape: shuffles carry (fp, doc_id) pairs — fingerprint-width,
    * never text; first-occurrence is one window MIN over the fp key
    * (tiny groups — a shingle's doc list), then one per-doc partial agg.
    * Identical to the proven q_substr_dedup first-occurrence pattern. */
  def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val dfp = shingleFps(documents(s, dir)).distinct()
    val w = Window.partitionBy(col("fp"))
    dfp.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 10000 div n_grams").as("novelty_bp"))
  }

  val qNgramNoveltySql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |         md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS fp
      |       FROM t, UNNEST(generate_series(1, length(toks) - 7)) AS u(i)
      |       WHERE length(toks) >= 8),
      |d AS (SELECT DISTINCT doc_id, fp FROM sh),
      |f AS (SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS first_doc FROM d)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000
      |       // COUNT(*) AS BIGINT) AS novelty_bp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_seq_pack                                                        //
  // ---------------------------------------------------------------- //

  /** Tokens per training sequence — a small power of two (a production
    * run uses 4096/8192) so even the sf0.01 corpus (~1.4k tokens per
    * source shard) packs several sequences per source and the oracle
    * check is non-vacuous. */
  val SeqLen = 256

  /** Concat-and-chunk sequence packing: documents are laid end-to-end in
    * doc_id order WITHIN EACH SOURCE (the shard), and each doc is
    * stamped with the training sequence its first token lands in plus
    * the offset inside that sequence. Pure window arithmetic — exactly
    * the metadata a pretokenizer needs to build packed samples. */
  /** Shared batch/streaming packing input: the whitespace token count
    * per (doc_id, source) — ONE expression, so the streaming twin
    * ([[graft.streaming.StreamingOps.seqPackStream]]) cannot drift from
    * the batch tokenizer. */
  def packInput(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))

  def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    val t = packInput(documents(s, dir))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t.withColumn("cum_end", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"(cum_end - n_tok) div $SeqLen").as("seq_id"),
        ((col("cum_end") - col("n_tok")) % SeqLen).as("seq_off"))
  }

  val qSeqPackSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_tok,
       |        SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum_end
       |      FROM t)
       |SELECT doc_id, source, n_tok,
       |  CAST((cum_end - n_tok) // $SeqLen AS BIGINT) AS seq_id,
       |  CAST((cum_end - n_tok) % $SeqLen AS BIGINT) AS seq_off
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_linear_quality                                                  //
  // ---------------------------------------------------------------- //

  /** Hashed-linear quality scorer: each token hashes (md5, first two hex
    * nibbles) into one of 256 feature buckets whose deterministic weight
    * is `bucket % 21 - 10` (integers in [-10, 10]); a document's score
    * is the integer sum of its token weights and the keep flag is
    * `score >= 0`. The same md5-nibble rule the sampling/LSH oracles
    * use, so both engines build the identical weight table. */
  def qLinearQuality(s: SparkSession, dir: String): DataFrame = {
    val nib1 = expr("instr('0123456789abcdef', substr(h, 1, 1)) - 1")
    val nib2 = expr("instr('0123456789abcdef', substr(h, 2, 1)) - 1")
    documents(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .withColumn("h", md5(col("term").cast("binary")))
      .withColumn("wt", (nib1 * 16 + nib2) % 21 - 10)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).cast("long").as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        when(col("score") >= 0, 1L).otherwise(0L).as("keep_flag"))
  }

  val qLinearQualitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, u.term FROM (
      |    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents) d,
      |    UNNEST(d.toks) AS u(term)),
      |wt AS (SELECT doc_id,
      |         ((instr('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
      |          + (instr('0123456789abcdef', substr(md5(term), 2, 1)) - 1)) % 21 - 10 AS wt
      |       FROM tok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(wt) AS BIGINT) AS score,
      |  CAST(CASE WHEN CAST(SUM(wt) AS BIGINT) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
      |FROM wt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_curate_pipeline                                                 //
  // ---------------------------------------------------------------- //

  /** The COMPOSED curation pipeline — every document flows through the
    * full selection DAG in one query: benchmark exclusion -> boilerplate-
    * prefix dedup -> n-gram decontamination -> language gate -> length
    * gate, and the survivors are sequence-packed per source. Reject
    * reasons use fixed priority (benchmark > dup_prefix > contaminated >
    * lang_unknown > too_short); rejected docs carry seq_id/seq_off -1.
    *
    * This is the "switch your whole pipeline to this engine" evidence:
    * the individual operators (q_prefix_dedup, q_decontaminate,
    * q_langid, q_seq_pack) compose in one DataFrame DAG whose every row
    * the DuckDB oracle recomputes independently. Plan: the shingle
    * stream feeds the broadcast benchmark probe exactly as in
    * q_decontaminate (never shuffled, deliberately not cached — at
    * corpus scale rescanning beats materializing the shingle stream);
    * the pack offsets come from a reason-conditional running sum in the
    * same per-source window q_seq_pack uses, so kept docs pack densely
    * without a second join. */
  def qCuratePipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).withColumn("text", injectedText)
    val scored = TextAnalysisQ.withLangScores(docs)
      .select(col("doc_id"), col("source"),
        split(trim(col("text")), "\\s+").as("toks"),
        TextAnalysisQ.predLangCol.as("pred_lang"))
      .select(col("doc_id"), col("source"), col("pred_lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", slice(col("toks"), 1, 8)).cast("binary")).as("prefix_fp"))
    val shingles = shingleFps(docs)
    val benchFps = shingles.filter(col("doc_id") % 97 === 0).select(col("fp")).distinct()
    val hits = shingles.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchFps), Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    val reason = when(col("doc_id") % 97 === 0, "benchmark")
      .when(col("doc_id") =!= col("rep"), "dup_prefix")
      .when(col("n_hits") > 0, "contaminated")
      .when(col("pred_lang") === "unknown", "lang_unknown")
      .when(col("n_tokens") < 20, "too_short")
      .otherwise("kept")
    val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    scored
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("prefix_fp"))))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("reason", reason)
      .withColumn("kept_n", when(col("reason") === "kept", col("n_tokens")).otherwise(lit(0L)))
      .withColumn("cum_end", sum(col("kept_n")).over(wPack))
      .select(col("doc_id"), col("reason"),
        when(col("reason") === "kept", 1L).otherwise(0L).as("keep_flag"),
        when(col("reason") === "kept", expr(s"(cum_end - kept_n) div $SeqLen"))
          .otherwise(lit(-1L)).as("seq_id"),
        when(col("reason") === "kept", (col("cum_end") - col("kept_n")) % SeqLen)
          .otherwise(lit(-1L)).as("seq_off"))
  }

  val qCuratePipelineSql: String =
    s"""WITH d AS (SELECT doc_id, source, $injectedTextSql AS text FROM documents),
       |sc AS (SELECT doc_id, source, text, ${TextAnalysisQ.langScoreSqlCols} FROM d),
       |w AS (SELECT doc_id, source,
       |        regexp_split_to_array(trim(text), '\\s+') AS toks,
       |        ${TextAnalysisQ.predLangCaseSql} AS pred_lang
       |      FROM sc),
       |base AS (SELECT doc_id, source, pred_lang,
       |        CAST(length(toks) AS BIGINT) AS n_tokens,
       |        md5(array_to_string(toks[1:8], ' ')) AS prefix_fp FROM w),
       |sh AS (SELECT doc_id,
       |         md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS fp
       |       FROM w, UNNEST(generate_series(1, length(toks) - 7)) AS u(i)
       |       WHERE length(toks) >= 8),
       |bench AS (SELECT DISTINCT fp FROM sh WHERE doc_id % 97 = 0),
       |hits AS (SELECT doc_id, COUNT(*) AS n_hits
       |         FROM sh JOIN bench USING (fp) WHERE doc_id % 97 != 0 GROUP BY doc_id),
       |m AS (SELECT base.*, COALESCE(n_hits, 0) AS nh,
       |        MIN(doc_id) OVER (PARTITION BY prefix_fp) AS rep
       |      FROM base LEFT JOIN hits USING (doc_id)),
       |r AS (SELECT doc_id, source, n_tokens,
       |        CASE WHEN doc_id % 97 = 0 THEN 'benchmark'
       |             WHEN doc_id != rep THEN 'dup_prefix'
       |             WHEN nh > 0 THEN 'contaminated'
       |             WHEN pred_lang = 'unknown' THEN 'lang_unknown'
       |             WHEN n_tokens < 20 THEN 'too_short'
       |             ELSE 'kept' END AS reason
       |      FROM m),
       |p AS (SELECT doc_id, reason,
       |        CASE WHEN reason = 'kept' THEN n_tokens ELSE 0 END AS kept_n,
       |        SUM(CASE WHEN reason = 'kept' THEN n_tokens ELSE 0 END)
       |          OVER (PARTITION BY source ORDER BY doc_id) AS cum_end
       |      FROM r)
       |SELECT doc_id, reason,
       |  CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS BIGINT) AS keep_flag,
       |  CAST(CASE WHEN reason = 'kept' THEN (cum_end - kept_n) // $SeqLen ELSE -1 END AS BIGINT) AS seq_id,
       |  CAST(CASE WHEN reason = 'kept' THEN (cum_end - kept_n) % $SeqLen ELSE -1 END AS BIGINT) AS seq_off
       |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_boilerplate_ngrams                                              //
  // ---------------------------------------------------------------- //

  /** Boilerplate n-gram mining: 8-token shingles occurring in 3+
    * DISTINCT documents — the cross-document repeated-substring report
    * that feeds template/footer strip lists (the aggregate view of what
    * q_prefix_dedup catches only at position 0). The sentinel injection
    * (shared with q_decontaminate) guarantees a non-vacuous hit set on
    * the synthetic corpus; any natural repetition counts identically in
    * both engines. Plan: one partial-agg groupBy over (fp, doc) then
    * (fp) — the shuffle carries distinct (fp, doc) pairs, never the
    * shingle stream. */
  def qBoilerplateNgrams(s: SparkSession, dir: String): DataFrame =
    shingleFps(documents(s, dir).withColumn("text", injectedText))
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 3)

  val qBoilerplateNgramsSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  regexp_split_to_array(trim($injectedTextSql), '\\s+') AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |         md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS fp
       |       FROM t, UNNEST(generate_series(1, length(toks) - 7)) AS u(i)
       |       WHERE length(toks) >= 8)
       |SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
       |FROM sh GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 3 ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------- //
  // q_vocab_stats                                                     //
  // ---------------------------------------------------------------- //

  /** Corpus vocabulary profile: distinct-token count, hapax count
    * (tokens occurring exactly once — the Zipf tail a tokenizer trainer
    * watches), total tokens, and the maximum token frequency. One
    * partial-agg groupBy(term) then a single global fold. The synthetic
    * corpus reuses a ~31-word vocabulary, so every 50th doc gets one
    * doc-unique token injected (fixture-in-query) — the hapax column
    * measures something real. */
  def qVocabStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 50 === 0,
          concat(lit(" rareword"), col("doc_id"))).otherwise(lit(""))))
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"),
        sum(col("c")).cast("long").as("n_tokens"),
        max(col("c")).as("max_freq"))

  val qVocabStatsSql: String =
    """WITH tok AS (
      |  SELECT u.term FROM (
      |    SELECT regexp_split_to_array(trim(text ||
      |      (CASE WHEN doc_id % 50 = 0 THEN ' rareword' || CAST(doc_id AS STRING) ELSE '' END)), '\s+') AS toks
      |    FROM documents) d,
      |    UNNEST(d.toks) AS u(term)),
      |tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term)
      |SELECT COUNT(*) AS vocab_size,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  MAX(c) AS max_freq
      |FROM tc""".stripMargin

  // ---------------------------------------------------------------- //
  // q_domain_stats                                                    //
  // ---------------------------------------------------------------- //

  /** URL/domain analysis — the per-host profile a web-corpus pipeline
    * keeps (crawl budgeting, domain blocklists, source attribution).
    * The synthetic corpus carries no URLs, so they are injected
    * deterministically first (q_pii_redact's fixture-in-query pattern;
    * two host families so the output has real shape). Host extraction
    * uses only regex syntax with identical Java-regex/RE2 semantics. */
  private val HostRe = "https?://([a-z0-9.-]+)/"

  def qDomainStats(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(col("text"),
      when(col("doc_id") % 11 === 0,
        concat(lit(" see https://example.org/doc/"), col("doc_id"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" via https://cdn"), col("doc_id") % 3, lit(".mirror-net.example/p/"), col("doc_id")))
        .otherwise(lit("")))
    documents(s, dir)
      .select(col("doc_id"), explode(regexp_extract_all(injected, lit(HostRe), lit(1))).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
  }

  val qDomainStatsSql: String =
    """WITH t AS (SELECT doc_id,
      |  text ||
      |  (CASE WHEN doc_id % 11 = 0 THEN ' see https://example.org/doc/' || CAST(doc_id AS STRING) ELSE '' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN ' via https://cdn' || CAST(doc_id % 3 AS STRING) || '.mirror-net.example/p/' || CAST(doc_id AS STRING) ELSE '' END) AS t
      |FROM documents),
      |u AS (SELECT doc_id, UNNEST(regexp_extract_all(t, 'https?://([a-z0-9.-]+)/', 1)) AS host FROM t)
      |SELECT host, COUNT(*) AS n_urls,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM u GROUP BY host ORDER BY host""".stripMargin

  /** Context-window CHUNKING with overlap — the other half of sequence
    * preparation (q_seq_pack concatenates short docs into fixed
    * sequences; this SPLITS long docs into overlapping token windows,
    * the standard pretraining chunker: window 64 tokens, stride 48, so
    * adjacent chunks share 16 tokens of context). One row per chunk
    * with its token count and content fingerprint (md5 of the re-joined
    * window — chunk-level exact dedup keys off it). Pure per-doc
    * arithmetic: explode over chunk starts + array slice, no
    * shuffle before the aggregation a caller adds — embarrassingly
    * parallel at any scale. */
  val ChunkWindow = 64
  val ChunkStride = 48

  def qChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    documents(s, dir)
      .select(col("doc_id"), toks.as("w"), size(toks).as("n"))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, (n - 1) div $ChunkStride)")).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(w, chunk_idx * $ChunkStride + 1, $ChunkWindow)").as("c"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c")).cast("binary")).as("chunk_fp"))
  }

  val qChunkOverlapSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
      |x AS (SELECT doc_id, w, CAST(i AS INT) AS chunk_idx
      |      FROM t, UNNEST(generate_series(0, (length(w) - 1) // $ChunkStride)) u(i)),
      |c AS (SELECT doc_id, chunk_idx,
      |        list_slice(w, chunk_idx * $ChunkStride + 1, chunk_idx * $ChunkStride + $ChunkWindow) AS c
      |      FROM x)
      |SELECT doc_id, chunk_idx,
      |  CAST(length(c) AS BIGINT) AS n_chunk_tokens,
      |  md5(array_to_string(c, ' ')) AS chunk_fp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** URL canonicalization + dedup — the crawl-level dedup step every
    * CommonCrawl-style pipeline runs before content dedup: lowercase,
    * http -> https, strip query/fragment, strip trailing slashes, then
    * group. The fixture-in-query injection (q_domain_stats pattern)
    * plants the same logical URL under DIFFERENT raw spellings (mixed
    * case + tracking params on one variant, http + trailing slash on
    * the other, overlapping item ids across variants), so the
    * canonical groups genuinely merge distinct raw forms — the oracle
    * predicts the merged groups independently. All regexes use
    * Java/RE2-identical syntax; anchored or rest-consuming patterns so
    * first-match (DuckDB) == all-match (Spark) replacement. */
  def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" ref https://Shop.Example.com/item/"), col("doc_id") % 10, lit("?utm=abc")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 3,
        concat(lit(" ref http://shop.example.com/item/"), col("doc_id") % 10, lit("/")))
        .otherwise(lit("")))
    val canon = regexp_replace(regexp_replace(regexp_replace(
      lower(col("u")), "^http://", "https://"), "[?#].*", ""), "/+$", "")
    documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(injected,
          lit("https?://[A-Za-z0-9./?=&_-]+"), lit(0))).as("u"))
      .select(col("doc_id"), canon.as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"))
  }

  val qUrlDedupSql: String =
    """WITH t AS (SELECT doc_id,
      |  text ||
      |  (CASE WHEN doc_id % 7 = 0 THEN ' ref https://Shop.Example.com/item/' || CAST(doc_id % 10 AS VARCHAR) || '?utm=abc' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 3 THEN ' ref http://shop.example.com/item/' || CAST(doc_id % 10 AS VARCHAR) || '/' ELSE '' END) AS t
      |FROM documents),
      |u AS (SELECT doc_id, UNNEST(regexp_extract_all(t, 'https?://[A-Za-z0-9./?=&_-]+')) AS u FROM t),
      |c AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(lower(u), '^http://', 'https://'), '[?#].*', ''), '/+$', '') AS canon_url
      |FROM u)
      |SELECT canon_url, COUNT(*) AS n_urls,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS min_doc
      |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin

  // ---------------------------------------------------------------- //
  // q_bloom_probe                                                     //
  // ---------------------------------------------------------------- //

  /** Canonical boilerplate shared by "mirror" pages (doc_id % 71 == 0)
    * — the fixture-in-query exact-dup plant (the corpus has no natural
    * exact duplicates across the benchmark boundary). doc_id 0 is both
    * a mirror and a benchmark doc (0 % 97 == 0), so the mirrored
    * content is benchmark content and every other mirror is a TRUE hit. */
  private val MirrorText = "shared mirror landing page boilerplate content"

  /** Deterministic Bloom-filter membership probe — the fixed-size
    * alternative to broadcasting the full benchmark fingerprint set.
    * Build: k=4 hash positions per benchmark fp (disjoint 28-bit md5
    * chunks mod m=512 bits), OR-folded into 30-bit words (30, not 64,
    * so the mask arithmetic stays in safe signed range in BOTH
    * engines). Probe: a training doc is a bloom hit iff all 4 of its
    * bit positions are set; `true_hit` labels it against the exact set,
    * so the output exhibits the sketch's one-sided error (false
    * positives possible, false negatives impossible — a spec pin).
    *
    * Scale note: the broadcast is the BITMAP (m/30 words regardless of
    * benchmark cardinality — m is chosen from the FP budget), not the
    * fingerprint set; the probe side is a map-side broadcast join plus
    * a 4-row-per-doc aggregate with partial combine. At a 10^9-entry
    * blocklist the exact-set broadcast is gigabytes; the bloom bitmap
    * is megabytes, and only misses of the bloom pre-filter would ever
    * need the exact verify join (the q_neardup_verified two-stage
    * pattern applied to membership). */
  def qBloomProbe(s: SparkSession, dir: String): DataFrame = {
    val fp = md5(lower(regexp_replace(
      when(col("doc_id") % 71 === 0, lit(MirrorText)).otherwise(col("text")),
      "\\s+", " ")).cast("binary"))
    val docs = documents(s, dir).select(col("doc_id"), fp.as("fp"))
    val positions = (0 until 4).map(i =>
      expr(s"CAST(conv(substring(fp, ${1 + i * 8}, 7), 16, 10) AS BIGINT) % 512"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val bloom = bench.select(explode(array(positions: _*)).as("h"))
      .select(expr("h div 30").as("word"), (col("h") % 30).as("bit"))
      .groupBy(col("word"))
      .agg(expr("bit_or(CAST(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)) AS BIGINT))").as("bits"))
    val benchFps = bench.select(col("fp")).distinct()
      .withColumn("in_bench", lit(true))
    val probes = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("fp"), explode(array(positions: _*)).as("h"))
      .select(col("doc_id"), col("fp"), expr("h div 30").as("word"), (col("h") % 30).as("bit"))
    probes
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy(col("doc_id"), col("fp"))
      .agg(sum(expr(
        "CASE WHEN bits IS NOT NULL AND (shiftright(bits, CAST(bit AS INT)) & 1) = 1 THEN 1 ELSE 0 END")).as("n_bits_set"))
      .join(broadcast(benchFps), Seq("fp"), "left")
      .select(col("doc_id"), col("n_bits_set"),
        (col("n_bits_set") === 4).as("bloom_hit"),
        coalesce(col("in_bench"), lit(false)).as("true_hit"))
  }

  val qBloomProbeSql: String =
    s"""WITH f AS (SELECT doc_id,
       |  md5(lower(regexp_replace(
       |    CASE WHEN doc_id % 71 = 0 THEN '$MirrorText' ELSE text END,
       |    '\\s+', ' ', 'g'))) AS fp FROM documents),
       |pos AS (SELECT doc_id, fp,
       |          CAST(concat('0x', substr(fp, 1 + i * 8, 7)) AS BIGINT) % 512 AS h
       |        FROM f, UNNEST([0, 1, 2, 3]) AS u(i)),
       |bloom AS (SELECT h // 30 AS word,
       |            CAST(bit_or(CAST(1 AS BIGINT) << CAST(h % 30 AS INT)) AS BIGINT) AS bits
       |          FROM pos WHERE doc_id % 97 = 0 GROUP BY h // 30),
       |bench AS (SELECT DISTINCT fp FROM f WHERE doc_id % 97 = 0),
       |probe AS (SELECT p.doc_id, p.fp,
       |            CAST(SUM(CASE WHEN bloom.bits IS NOT NULL
       |                          AND (bloom.bits >> CAST(p.h % 30 AS INT)) & 1 = 1
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bits_set
       |          FROM pos p LEFT JOIN bloom ON bloom.word = p.h // 30
       |          WHERE p.doc_id % 97 != 0 GROUP BY p.doc_id, p.fp)
       |SELECT probe.doc_id, n_bits_set,
       |  n_bits_set = 4 AS bloom_hit,
       |  bench.fp IS NOT NULL AS true_hit
       |FROM probe LEFT JOIN bench ON bench.fp = probe.fp
       |ORDER BY probe.doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_epoch_shuffle                                                   //
  // ---------------------------------------------------------------- //

  /** Number of training epochs whose order is materialized. */
  val ShuffleEpochs = 2

  /** Shard count for the epoch shuffle — at test scale 8; in production
    * this is sized so one shard ≈ one output file a single task writes
    * (~100k shards at 100 TB), NOT a constant. */
  val ShuffleShards = 8

  /** Deterministic epoch shuffle — the reproducible global permutation a
    * training run needs per epoch, WITHOUT a global sort: each (epoch,
    * doc) gets a splitmix64 key (native codegen expression, the engine's
    * shared corpus hash — graft_hash64), docs are hash-SHARDED on the
    * key's floorMod, and ordered only WITHIN a shard. Reading shards
    * 0..S-1, each sequentially, yields the epoch's order: the classic
    * shuffle-by-shard layout (each shard = one output file one task
    * sorts and writes), so no stage ever materializes a corpus-wide
    * ordering. Different epochs use different key strings, hence
    * independent permutations; a rerun on any cluster size reproduces
    * the exact order (hash-based, never rand()/row-order).
    *
    * Determinism rules: the sort key is the UNSIGNED hash — emitted as
    * the 16-hex `hkey` whose lexicographic order equals unsigned numeric
    * order on both engines (Spark's %016x of the signed long == DuckDB's
    * lpad(hex) of the HUGEINT); doc_id breaks (never-observed) ties.
    * Scale notes: one explode (×epochs), one narrow projection, one
    * window partitioned by (epoch, shard) — partition count scales with
    * ShuffleShards, each holding corpus/S rows, exactly the per-file
    * sort a production sharder runs. No join, no corpus-wide window. */
  def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExprs.hash64s
    val epochs = array((0 until ShuffleEpochs).map(lit): _*)
    val keyed = documents(s, dir)
      .select(col("doc_id"), explode(epochs).as("epoch"))
      .withColumn("h64", hash64s(
        concat(lit("shuffle:"), col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      .withColumn("hkey", format_string("%016x", col("h64")))
      .withColumn("shard", pmod(col("h64"), lit(ShuffleShards.toLong)).cast("int"))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("hkey"), col("doc_id"))
    keyed
      .select(col("epoch"), col("shard"),
        row_number().over(w).cast("long").as("pos"),
        col("doc_id"), col("hkey"))
  }

  val qEpochShuffleSql: String = {
    val h = FlagshipQ.hash64Sql("'shuffle:' || epoch || ':' || doc_id")
    val shard = FlagshipQ.floorModSql("h", ShuffleShards.toLong)
    s"""WITH e AS (
       |  SELECT doc_id, CAST(ep AS INT) AS epoch
       |  FROM documents, UNNEST(range($ShuffleEpochs)) AS u(ep)),
       |k AS (SELECT doc_id, epoch, $h AS h FROM e),
       |sk AS (SELECT doc_id, epoch,
       |         CAST($shard AS INT) AS shard,
       |         lpad(lower(hex(h)), 16, '0') AS hkey
       |       FROM k)
       |SELECT epoch, shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |                          ORDER BY hkey, doc_id) AS BIGINT) AS pos,
       |  doc_id, hkey
       |FROM sk ORDER BY epoch, shard, pos""".stripMargin
  }

  // ---------------------------------------------------------------- //
  // q_contam_coverage                                                 //
  // ---------------------------------------------------------------- //

  /** Benchmark-contamination COVERAGE report — the GPT-3-appendix-C /
    * PaLM-style refinement of [[qDecontaminate]]'s boolean flag: per
    * training document, the fraction of its TOKENS that sit inside at
    * least one 8-gram shared with the benchmark set (doc_id % 97 == 0,
    * the same held-out model as q_decontaminate, same sentinel
    * injection so the check is non-vacuous on the synthetic corpus).
    * A boolean drop flag over-drops long documents that merely quote a
    * benchmark once; the coverage fraction is what real pipelines
    * threshold on ("drop if > 15% of tokens are contaminated").
    * Overlapping contaminated grams from one long shared span must not
    * double-count, so per-doc coverage is the measure of the merged
    * interval union — same running-max window trick as
    * q_dupspan_coverage (MiningQ): with constant gram width k the union
    * increment at position i is `i + k - greatest(i, pm + k)` where pm
    * is the max earlier hit position, ONE long of window state.
    *
    * Scale shape: the benchmark fp set is an eval suite, not a second
    * corpus — distinct fps BROADCAST to the training-gram stream (the
    * q_decontaminate join geometry); only HIT grams (rare) reach the
    * per-doc window, so the window shuffle carries the contaminated
    * slice, never the corpus; the final left join back to per-doc token
    * counts is doc_id-width. Exact integer basis points. */
  /** Positioned 8-gram fingerprints of the sentinel-injected corpus —
    * the shared kernel under [[qContamCoverage]] and
    * [[contamBenchFps]] (which freezes the benchmark set the streaming
    * gate scores against), so batch and stream gram arithmetic cannot
    * drift. One row per (doc_id, 1-based position, md5-of-8-gram). */
  private[graft] def contamGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(injectedText), "\\s+").as("toks"))
      .filter(size(col("toks")) >= ContamK)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - (ContamK - 1))).as("i"), col("toks"))
      .select(col("doc_id"), col("i").cast("long").as("i"), gramFp(col("toks"), col("i")).as("fp"))

  /** The gram width, and the md5 of the gram of `toks` at 1-based `i` (batch and stream). */
  private[graft] val ContamK = 8
  private[graft] def gramFp(toks: Column, i: Column): Column =
    md5(concat_ws(" ", slice(toks, i, lit(ContamK))).cast("binary"))

  /** Freeze the benchmark 8-gram fingerprint set — BOUNDED reference
    * data (an eval suite, not a second corpus), the shape a streaming
    * contamination gate broadcasts. */
  def contamBenchFps(docs: DataFrame): Seq[String] =
    contamGrams(docs).filter(col("doc_id") % 97 === 0)
      .select(col("fp")).distinct()
      .collect().map(_.getString(0)).toSeq

  def qContamCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"), split(trim(injectedText), "\\s+").as("toks"))
    val grams = contamGrams(documents(s, dir))
      .scopedCache() // two consumers: bench distinct + training probe
    val bench = grams.filter(col("doc_id") % 97 === 0).select(col("fp")).distinct()
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("fp"))
      .withColumn("pm", max(col("i")).over(wPrev))
      .select(col("doc_id"),
        (col("i") + ContamK - greatest(col("i"), coalesce(col("pm") + ContamK, col("i")))).as("inc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("inc")).as("cov"), count(lit(1)).as("nhit"))
    toks.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("nhit"), lit(0L)).as("n_contam_grams"),
        coalesce(col("cov"), lit(0L)).as("covered_tokens"),
        expr("CAST(CASE WHEN n_tokens > 0 THEN (coalesce(cov, 0) * 10000) div n_tokens ELSE 0 END AS BIGINT)")
          .as("contam_bp"))
  }

  val qContamCoverageSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  regexp_split_to_array(trim($injectedTextSql), '\\s+') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
       |        md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS fp
       |      FROM t, UNNEST(generate_series(1, length(toks) - 7)) AS u(i)
       |      WHERE length(toks) >= 8),
       |bench AS (SELECT DISTINCT fp FROM g WHERE doc_id % 97 = 0),
       |m AS (SELECT g.doc_id, g.i,
       |        MAX(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |      FROM g JOIN bench USING (fp) WHERE g.doc_id % 97 != 0),
       |cov AS (SELECT doc_id,
       |          CAST(SUM(i + 8 - GREATEST(i, COALESCE(pm + 8, i))) AS BIGINT) AS cov,
       |          CAST(COUNT(*) AS BIGINT) AS nhit
       |        FROM m GROUP BY doc_id)
       |SELECT t.doc_id, CAST(length(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(c.nhit, 0) AS BIGINT) AS n_contam_grams,
       |  CAST(COALESCE(c.cov, 0) AS BIGINT) AS covered_tokens,
       |  CAST(CASE WHEN length(t.toks) > 0
       |       THEN (COALESCE(c.cov, 0) * 10000) // length(t.toks)
       |       ELSE 0 END AS BIGINT) AS contam_bp
       |FROM t LEFT JOIN cov c USING (doc_id)
       |WHERE t.doc_id % 97 != 0 ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- //
  // q_quality_calibration                                             //
  // ---------------------------------------------------------------- //

  /** Quality-filter CALIBRATION table — the cross-signal audit behind
    * picking a model-based filter's threshold: bucket every training
    * doc by its per-token quality score (the q_linear_quality hashed
    * linear kernel over the RAW text) and report, per bucket, the doc
    * count, the benchmark-contamination rate (q_contam_coverage's
    * 8-gram hit flag) and mean doc length — "does my quality score
    * correlate with leakage/length, and where do I cut?". Buckets are
    * fixed integer ranges of the SHIFTED per-token mean
    * ((score + 10·n)·10000 div n, in [0, 200000], bucket width 20000 →
    * 11 buckets): the shift keeps every div on non-negative operands,
    * because Spark's `div` truncates toward zero while DuckDB's `//`
    * floors — they only agree above zero (determinism rules,
    * Relational.scala header).
    *
    * Scale shape: two partial-agg passes over the corpus (quality
    * explode, gram probe) that share nothing wider than doc_id; the
    * contaminated-doc flag relation is rare-row and AQE-broadcast onto
    * the per-doc quality relation; the final aggregate is 11 rows. */
  def qQualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val nib1 = expr("instr('0123456789abcdef', substr(h, 1, 1)) - 1")
    val nib2 = expr("instr('0123456789abcdef', substr(h, 2, 1)) - 1")
    val quality = documents(s, dir).filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .withColumn("h", md5(col("term").cast("binary")))
      .withColumn("wt", (nib1 * 16 + nib2) % 21 - 10)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).cast("long").as("score"))
    val grams = contamGrams(documents(s, dir)).scopedCache()
    val bench = grams.filter(col("doc_id") % 97 === 0).select(col("fp")).distinct()
    val flagged = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("fp"))
      .select(col("doc_id")).distinct()
      .withColumn("is_contam", lit(1L))
    quality.join(flagged, Seq("doc_id"), "left")
      .withColumn("bucket",
        expr("(((score + 10 * n_tokens) * 10000) div n_tokens) div 20000"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_contam"), lit(0L))).as("n_contam"),
        sum(col("n_tokens")).as("tok_sum"))
      .select(col("bucket"), col("n_docs"), col("n_contam"),
        expr("(n_contam * 10000) div n_docs").as("contam_rate_bp"),
        expr("tok_sum div n_docs").as("avg_tokens"))
  }

  val qQualityCalibrationSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, u.term FROM (
       |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |    FROM documents WHERE doc_id % 97 != 0) d,
       |    UNNEST(d.toks) AS u(term)),
       |q AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |        CAST(SUM(((instr('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
       |          + (instr('0123456789abcdef', substr(md5(term), 2, 1)) - 1)) % 21 - 10)
       |          AS BIGINT) AS score
       |      FROM tok GROUP BY doc_id),
       |t AS (SELECT doc_id,
       |  regexp_split_to_array(trim($injectedTextSql), '\\s+') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id,
       |        md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS fp
       |      FROM t, UNNEST(generate_series(1, length(toks) - 7)) AS u(i)
       |      WHERE length(toks) >= 8),
       |bench AS (SELECT DISTINCT fp FROM g WHERE doc_id % 97 = 0),
       |fl AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (fp)
       |       WHERE g.doc_id % 97 != 0),
       |b AS (SELECT (((score + 10 * n_tokens) * 10000) // n_tokens) // 20000 AS bucket,
       |        n_tokens,
       |        CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_contam
       |      FROM q LEFT JOIN fl ON q.doc_id = fl.doc_id)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(is_contam) AS BIGINT) AS n_contam,
       |  CAST((SUM(is_contam) * 10000) // COUNT(*) AS BIGINT) AS contam_rate_bp,
       |  CAST(SUM(n_tokens) // COUNT(*) AS BIGINT) AS avg_tokens
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- //
  // q_pack_efficiency                                                 //
  // ---------------------------------------------------------------- //

  /** Packing-strategy audit — the table that decides a real training
    * run's packing mode: per source shard, the bin count, padding waste
    * and integer-bp efficiency of (a) CONCAT-AND-SPLIT packing (docs
    * laid end-to-end and cut every [[SeqLen]] tokens — q_seq_pack's
    * layout: zero padding except the final partial sequence, but
    * sequences cross document boundaries) versus (b) DOC-BOUNDARY
    * GREEDY packing (documents first chunked to ≤ SeqLen pieces, then
    * greedily packed in (doc_id, piece) order, opening a new bin
    * whenever the next piece would overflow — no training sequence ever
    * mixes two documents mid-stream, at the cost of per-bin padding).
    * The efficiency gap IS the attention-mask trade every pretraining
    * team prices.
    *
    * Shape: greedy packing is inherently SEQUENTIAL within a shard —
    * the honest scale framing is the one the kernel has: chunking is a
    * parallel explode; the fold runs per SOURCE (= the packer shard,
    * whose doc budget is bounded in production — ~10k docs per output
    * file at 100 TB, never a corpus-wide list) as one array HOF over
    * the shard's ordered piece lengths with a two-long struct
    * accumulator (open-bin fill, closed waste). Parallel ACROSS shards,
    * sequential within — exactly how production packers run. All
    * integer arithmetic; the oracle folds the same recurrence via
    * list_reduce with a waste*[[PackRadix]]+fill encoding. */
  def qPackEfficiency(s: SparkSession, dir: String): DataFrame = {
    val L = SeqLen.toLong
    val chunks = packInput(documents(s, dir))
      .withColumn("pieces", expr(s"CAST((n_tok + ${L - 1}) div $L AS INT)"))
      .select(col("source"),
        explode(sequence(lit(1), col("pieces"))).as("pi"),
        col("doc_id"), col("n_tok"), col("pieces"))
      .withColumn("len", when(col("pi") < col("pieces"), lit(L))
        .otherwise(col("n_tok") - (col("pieces") - 1).cast("long") * L))
    val zero = struct(lit(0L).as("fill"), lit(0L).as("waste"))
    val step = (st: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) => {
      val n = c.getField("len")
      val over = st.getField("fill") + n > L
      struct(
        when(over, n).otherwise(st.getField("fill") + n).as("fill"),
        when(over, st.getField("waste") + (lit(L) - st.getField("fill")))
          .otherwise(st.getField("waste")).as("waste"))
    }
    chunks.groupBy(col("source"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pi"), col("len")))).as("cs"),
        sum(col("len")).as("n_tokens"))
      .withColumn("st", aggregate(col("cs"), zero, step))
      .select(col("source"), col("n_tokens"),
        (col("st.waste") + lit(L) - col("st.fill")).as("greedy_waste"))
      .withColumn("greedy_bins", expr(s"(n_tokens + greedy_waste) div $L"))
      .withColumn("concat_bins", expr(s"(n_tokens + ${L - 1}) div $L"))
      .withColumn("concat_waste", col("concat_bins") * L - col("n_tokens"))
      .select(col("source"), col("n_tokens"),
        col("greedy_bins"), col("greedy_waste"),
        expr(s"(n_tokens * 10000) div (greedy_bins * $L)").as("greedy_eff_bp"),
        col("concat_bins"), col("concat_waste"),
        expr(s"(n_tokens * 10000) div (concat_bins * $L)").as("concat_eff_bp"))
  }

  /** Radix for the oracle's single-BIGINT `waste * radix + fill` fold
    * state: DERIVED from [[SeqLen]] (next power of two strictly above
    * it), so the open-bin fill digit — which ranges 0..SeqLen — can
    * never overflow into the waste digits when SeqLen is raised to a
    * production 4096/8192 (round-4 advice: the former hardcoded 1024
    * was silently valid only while SeqLen < 1024). */
  private def packRadix: Long = java.lang.Long.highestOneBit(SeqLen.toLong) * 2

  val qPackEfficiencySql: String = {
    val L = SeqLen
    val R = packRadix
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |p AS (SELECT *, CAST((n_tok + ${L - 1}) // $L AS INT) AS pieces FROM t),
       |ch AS (SELECT source, doc_id, CAST(pi AS INT) AS pi,
       |         CASE WHEN pi < pieces THEN $L
       |              ELSE n_tok - (pieces - 1) * $L END AS len
       |       FROM p, UNNEST(generate_series(1, pieces)) AS u(pi)),
       |f AS (SELECT source, CAST(SUM(len) AS BIGINT) AS n_tokens,
       |        list_reduce(
       |          list_prepend(0::BIGINT,
       |            list(CAST(len AS BIGINT) ORDER BY doc_id, pi)),
       |          (st, n) -> CASE WHEN st % $R + n <= $L THEN st + n
       |                          ELSE (st // $R + $L - st % $R) * $R + n END) AS st
       |      FROM ch GROUP BY source),
       |g AS (SELECT source, n_tokens,
       |        (st // $R) + $L - (st % $R) AS greedy_waste
       |      FROM f)
       |SELECT source, n_tokens,
       |  CAST((n_tokens + greedy_waste) // $L AS BIGINT) AS greedy_bins,
       |  CAST(greedy_waste AS BIGINT) AS greedy_waste,
       |  CAST((n_tokens * 10000) // (((n_tokens + greedy_waste) // $L) * $L) AS BIGINT) AS greedy_eff_bp,
       |  CAST((n_tokens + ${L - 1}) // $L AS BIGINT) AS concat_bins,
       |  CAST(((n_tokens + ${L - 1}) // $L) * $L - n_tokens AS BIGINT) AS concat_waste,
       |  CAST((n_tokens * 10000) // (((n_tokens + ${L - 1}) // $L) * $L) AS BIGINT) AS concat_eff_bp
       |FROM g ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- //
  // q_shard_manifest                                                  //
  // ---------------------------------------------------------------- //

  /** Shard count for the export manifest — 16 at test scale; production
    * sizes this so one shard ≈ one training-loader file. */
  val ManifestShards = 16

  /** Checksum modulus 2^32: per-doc hash residues sum into a BIGINT
    * without overflow up to ~2^31 docs per shard — far above any real
    * per-shard doc budget. */
  private val ChecksumMod = 4294967296L

  /** Training-export SHARD MANIFEST — the integrity/accounting table a
    * data release ships next to its shards and every downstream loader
    * re-derives to verify the export (the WebDataset/Croissant
    * manifest shape): per hash-assigned shard, the doc count, total
    * chars, total whitespace tokens, doc_id range, and an
    * ORDER-INDEPENDENT content checksum — sum over member docs of
    * `floorMod(graft_hash64('shard:' || doc_id), 2^32)`. Commutative +
    * associative, so it partial-aggregates map-side, merges across any
    * partitioning, and never needs a per-shard sort or array — the
    * property that lets a 100k-shard manifest over 10^12 docs fall out
    * of ONE groupBy with map-side combine (contrast md5-of-concat,
    * which would force a per-shard global sort). Shard assignment uses
    * the engine's shared splitmix64 (native codegen expression
    * graft_hash64; the oracle re-derives it via FlagshipQ.hash64Sql),
    * so the manifest reproduces bit-identically on any engine or
    * cluster size. */
  /** The manifest aggregate as a shared kernel over any
    * `(doc_id, text, n_chars)` relation — every aggregate (count, sums,
    * min/max, the modular checksum) is commutative + associative, so
    * the SAME plan runs as a batch groupBy AND as a streaming
    * complete-mode aggregate (StreamingOps.shardManifestStream): an
    * export manifest can be maintained incrementally while shards are
    * still being written. */
  private[graft] def shardManifest(docs: DataFrame): DataFrame = {
    import graft.functions.HashExprs.hash64s
    docs
      .select(col("doc_id"), col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"),
        hash64s(concat(lit("shard:"), col("doc_id").cast("string"))).as("h64"))
      .withColumn("shard", pmod(col("h64"), lit(ManifestShards.toLong)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        sum(col("n_toks")).as("n_tokens_total"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(pmod(col("h64"), lit(ChecksumMod))).as("checksum"))
  }

  def qShardManifest(s: SparkSession, dir: String): DataFrame =
    shardManifest(documents(s, dir))

  /** The manifest aggregate as SQL over a named doc relation — shared
    * by the q_shard_manifest oracle and both sides of the
    * q_manifest_diff oracle (def, not val: shared SQL generators must
    * be defs — object-val init order once embedded "null", see the
    * verify-skill gotcha). */
  private def manifestSqlOver(rel: String): String = {
    val h = FlagshipQ.hash64Sql("'shard:' || doc_id")
    val shard = FlagshipQ.floorModSql("h", ManifestShards.toLong)
    val res = FlagshipQ.floorModSql("h", ChecksumMod)
    s"""SELECT shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens_total,
       |  MIN(doc_id) AS min_doc_id,
       |  MAX(doc_id) AS max_doc_id,
       |  CAST(SUM(res) AS BIGINT) AS checksum
       |FROM (SELECT doc_id, n_chars, n_toks,
       |        CAST($shard AS INT) AS shard,
       |        CAST($res AS BIGINT) AS res
       |      FROM (SELECT doc_id, n_chars,
       |              length(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
       |              $h AS h
       |            FROM $rel) k) s
       |GROUP BY shard""".stripMargin
  }

  val qShardManifestSql: String =
    manifestSqlOver("documents") + " ORDER BY shard"

  // ---------------------------------------------------------------- //
  // q_manifest_diff                                                   //
  // ---------------------------------------------------------------- //

  /** Mirrored-doc id offset for the in-query next-snapshot fixture
    * (distinct from DedupQ's syndication offset so fixtures compose). */
  private val SnapshotOffset = 2000000000L

  /** Incremental manifest DIFF — the "which shards changed since the
    * last export" table that lets a downstream sync re-fetch only the
    * shards whose content moved, instead of re-reading a 100k-shard
    * release: the shard manifest of the current corpus joined against
    * the manifest of the NEXT snapshot (fixture-in-query: every doc
    * with doc_id % 41 == 0 re-ingested under a new doc_id — the
    * daily-crawl-append shape), emitting per shard the old/new doc
    * counts, added docs, and whether the content CHECKSUM moved. This
    * is the query the manifest's order-independent modular checksum
    * exists for: two bounded manifest relations diff with one 16-row
    * join — no doc-level comparison anywhere.
    *
    * Scale shape: two manifest aggregates (each partial→final, one
    * exchange) over relations that share the scan; the diff join is
    * #shards wide. A real deployment diffs two PERSISTED manifests —
    * O(shards), independent of corpus size. */
  def qManifestDiff(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
    val adds = base.filter(col("doc_id") % 41 === 0)
      .withColumn("doc_id", col("doc_id") + lit(SnapshotOffset))
    val m0 = shardManifest(base)
      .select(col("shard"), col("n_docs").as("n_docs_old"), col("checksum").as("ck_old"))
    val m1 = shardManifest(base.unionByName(adds))
      .select(col("shard"), col("n_docs").as("n_docs_new"), col("checksum").as("ck_new"))
    m0.join(m1, Seq("shard"), "full")
      .select(col("shard"),
        coalesce(col("n_docs_old"), lit(0L)).as("n_docs_old"),
        coalesce(col("n_docs_new"), lit(0L)).as("n_docs_new"),
        (coalesce(col("n_docs_new"), lit(0L)) - coalesce(col("n_docs_old"), lit(0L)))
          .as("docs_added"),
        when(coalesce(col("ck_old"), lit(-1L)) =!= coalesce(col("ck_new"), lit(-1L)),
          lit(1)).otherwise(lit(0)).as("checksum_changed"))
  }

  val qManifestDiffSql: String =
    s"""WITH snap AS (
       |  SELECT doc_id, text, n_chars FROM documents
       |  UNION ALL
       |  SELECT doc_id + $SnapshotOffset, text, n_chars
       |  FROM documents WHERE doc_id % 41 = 0),
       |m0 AS (${manifestSqlOver("documents")}),
       |m1 AS (${manifestSqlOver("snap")})
       |SELECT COALESCE(m0.shard, m1.shard) AS shard,
       |  CAST(COALESCE(m0.n_docs, 0) AS BIGINT) AS n_docs_old,
       |  CAST(COALESCE(m1.n_docs, 0) AS BIGINT) AS n_docs_new,
       |  CAST(COALESCE(m1.n_docs, 0) - COALESCE(m0.n_docs, 0) AS BIGINT) AS docs_added,
       |  CAST(CASE WHEN COALESCE(m0.checksum, -1) <> COALESCE(m1.checksum, -1)
       |       THEN 1 ELSE 0 END AS INT) AS checksum_changed
       |FROM m0 FULL OUTER JOIN m1 ON m0.shard = m1.shard
       |ORDER BY shard""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_manifest_diff" -> ((qManifestDiff _, Some(qManifestDiffSql))),
    "q_bloom_probe" -> ((qBloomProbe _, Some(qBloomProbeSql))),
    "q_url_dedup" -> ((qUrlDedup _, Some(qUrlDedupSql))),
    "q_chunk_overlap" -> ((qChunkOverlap _, Some(qChunkOverlapSql))),
    "q_boilerplate_ngrams" -> ((qBoilerplateNgrams _, Some(qBoilerplateNgramsSql))),
    "q_vocab_stats" -> ((qVocabStats _, Some(qVocabStatsSql))),
    "q_domain_stats" -> ((qDomainStats _, Some(qDomainStatsSql))),
    "q_curate_pipeline" -> ((qCuratePipeline _, Some(qCuratePipelineSql))),
    "q_decontaminate" -> ((qDecontaminate _, Some(qDecontaminateSql))),
    "q_ngram_novelty" -> ((qNgramNovelty _, Some(qNgramNoveltySql))),
    "q_seq_pack" -> ((qSeqPack _, Some(qSeqPackSql))),
    "q_linear_quality" -> ((qLinearQuality _, Some(qLinearQualitySql))),
    "q_epoch_shuffle" -> ((qEpochShuffle _, Some(qEpochShuffleSql))),
    "q_dsir_select" -> ((qDsirSelect _, Some(qDsirSelectSql))),
    "q_contam_coverage" -> ((qContamCoverage _, Some(qContamCoverageSql))),
    "q_shard_manifest" -> ((qShardManifest _, Some(qShardManifestSql))),
    "q_pack_efficiency" -> ((qPackEfficiency _, Some(qPackEfficiencySql))),
    "q_quality_calibration" -> ((qQualityCalibration _, Some(qQualityCalibrationSql))))
}
