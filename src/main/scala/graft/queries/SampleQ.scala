package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting/mixing — the selection operators a
  * training-data pipeline runs after curation. All hash-based (md5 of
  * the doc id), NEVER rand(): reproducible across runs, engines,
  * cluster sizes, and corpus growth (a doc's sample/split fate never
  * changes when other docs are added — count-based splits reshuffle
  * everything). One shared SQL formula string runs through spark.sql
  * AND DuckDB verbatim, so the oracle checks the exact arithmetic.
  *
  * Scale: each query is one narrow projection + (for the mix) one
  * partial-agg groupBy on `source` — no joins, no windows; the md5
  * bucket is codegen'd scalar work in the scan stage. */
object SampleQ {

  /** First 4 hex nibbles of md5(doc_id) as an integer bucket in
    * [0, 65536) — the shared sampling coordinate. Exposed to the
    * cluster-aware split in DedupQ so every splitter in the engine uses
    * ONE bucket arithmetic (column `h` must hold the md5 hex). */
  private[queries] val bucketExpr: String = {
    def nib(i: Int) = s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  private def core(select: String, tail: String = ""): String =
    s"""WITH h AS (SELECT doc_id, source, md5(CAST(doc_id AS STRING)) AS h FROM documents),
       |b AS (SELECT doc_id, source, CAST($bucketExpr AS BIGINT) AS bucket FROM h)
       |$select
       |$tail""".stripMargin

  /** ~10% deterministic sample: bucket < 6554 (6554/65536). */
  private val sampleSql: String = core(
    "SELECT doc_id, bucket FROM b WHERE bucket < 6554",
    "ORDER BY doc_id")

  /** 90/5/5 train/val/test split, stable under corpus growth. */
  private val splitSql: String = core(
    """SELECT doc_id, bucket,
      | CASE WHEN bucket < 58982 THEN 'train'
      |      WHEN bucket < 62259 THEN 'val'
      |      ELSE 'test' END AS split FROM b""",
    "ORDER BY doc_id")

  /** Source mixing: per-source keep fractions (the data-mixture knob) —
    * src0 keeps all, src1 half, src2 a quarter, everything else 10%. */
  private val mixSql: String = core(
    """SELECT source,
      | COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN bucket < (CASE source
      |     WHEN 'src0' THEN 65536 WHEN 'src1' THEN 32768
      |     WHEN 'src2' THEN 16384 ELSE 6554 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | ROUND(CAST(SUM(CASE WHEN bucket < (CASE source
      |     WHEN 'src0' THEN 65536 WHEN 'src1' THEN 32768
      |     WHEN 'src2' THEN 16384 ELSE 6554 END) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS kept_ratio
      |FROM b GROUP BY source""",
    "ORDER BY source")

  /** Stratified fixed-quota sample: exactly min(10, |stratum|) docs PER
    * SOURCE, chosen by md5-bucket rank — the balanced-mixture sampler
    * (equal per-source representation regardless of stratum size).
    * Deliberately rank-based: it trades q_hash_sample's growth-
    * stability for exact per-stratum counts; both selection modes exist
    * because pipelines need both. Plan: one window shuffle on source. */
  private val stratifiedSql: String = core(
    """, r AS (SELECT doc_id, source, bucket,
      |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rk FROM b)
      |SELECT doc_id, source, bucket, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 10""",
    "ORDER BY source, rk")

  /** Curriculum deciles: NTILE(10) per source over length (descending;
    * doc_id tie-break makes the order total, so bucket boundaries are
    * engine-independent). The curriculum/difficulty-binning step —
    * downstream schedulers feed deciles in order. ANSI NTILE (remainder
    * buckets first) is identical in Spark and DuckDB, so one SQL string
    * runs through both. Plan: one window shuffle on source. */
  private val ntileSql: String =
    """SELECT doc_id, source, n_chars,
      | CAST(NTILE(10) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS decile
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Deterministic WEIGHTED sample: top-10 per source by the priority
    * bucket*65536/weight (weight = n_chars, so longer docs are
    * proportionally likelier) — the hash-based stand-in for weighted
    * reservoir sampling, rand()-free like everything in this module.
    * The division runs in IEEE double in BOTH engines (identical
    * operands -> identical correctly-rounded quotient -> identical
    * FLOOR), then ranks break ties on doc_id for a total order. */
  private val weightedSql: String =
    s"""WITH h AS (SELECT doc_id, source, n_chars, md5(CAST(doc_id AS STRING)) AS h FROM documents),
       |b AS (SELECT doc_id, source, n_chars, CAST($bucketExpr AS BIGINT) AS bucket FROM h),
       |p AS (SELECT doc_id, source, n_chars, bucket,
       |   CAST(FLOOR((bucket * 65536.0) / (CASE WHEN n_chars < 1 THEN 1 ELSE n_chars END)) AS BIGINT) AS priority
       | FROM b),
       |r AS (SELECT doc_id, source, n_chars, priority,
       |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rk FROM p)
       |SELECT doc_id, source, n_chars, priority, CAST(rk AS BIGINT) AS rk
       |FROM r WHERE rk <= 10
       |ORDER BY source, rk""".stripMargin

  /** Rendezvous (highest-random-weight) shard count before/after adding
    * one shard. */
  private val ShardsBefore = 8

  /** First 8 hex nibbles of md5(doc_id || ':' || shard) as a BIGINT
    * weight (the per-(key, shard) rendezvous score; engine-identical —
    * the q_hash_sample nibble idiom widened to 32 bits). */
  private def shardWeight(k: Int): String = {
    def nib(i: Int) =
      s"CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING) || ':$k'), $i, 1)) - 1 AS BIGINT)"
    (1 to 8).map(i => s"${nib(i)} * ${1L << ((8 - i) * 4)}").mkString("(", " + ", ")")
  }

  /** Consistent shard assignment via RENDEZVOUS HASHING — the placement
    * primitive that makes cluster resizing cheap: every key scores all
    * shards with an independent hash weight and lands on the argmax.
    * Growing from 8 to 9 shards re-scores in place; the HRW guarantee —
    * ONLY keys whose new shard is the added one ever move (~1/9 of
    * keys), everything else stays put — is emitted per source
    * (n_moved == n_moved_to_new on every row) and oracle-checked.
    * Modulo sharding would move ~8/9 of all keys on the same resize.
    *
    * Ties are impossible by construction: the argmax runs over
    * weight * 16 + shard (a total order). Narrow scan + GREATEST —
    * pure codegen scalar work, one partial-agg shuffle on source. */
  private val consistentShardSql: String = {
    def packed(k: Int) = s"${shardWeight(k)} * 16 + $k"
    val c8 = (0 until ShardsBefore).map(packed).mkString("GREATEST(", ", ", ")")
    val c9 = (0 to ShardsBefore).map(packed).mkString("GREATEST(", ", ", ")")
    s"""WITH c AS (SELECT source, $c8 AS c8, $c9 AS c9 FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN c8 % 16 <> c9 % 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       |  CAST(SUM(CASE WHEN c8 % 16 <> c9 % 16 AND c9 % 16 = $ShardsBefore
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  /** Token-budget mixture PLANNING — the step before q_source_mix's
    * keep-fractions exist: given target mixture WEIGHTS (src0:4 src1:3
    * src2:2 else:1) and a global token budget (the corpus total — so
    * up-weighted sources must repeat while weight-1 sources fit with
    * room to spare), compute each source's token target, its
    * available tokens (BPE-ish chars/4 estimate), and the repetition
    * factor epochs_x100 = ceil(100 * target / available) — >100 means
    * the source repeats across the run (the LLM-mixture "epochs over
    * source" number). All arithmetic stays exact: integer sums, and
    * double division only where both engines see identical operands
    * (same correctly-rounded quotient, the q_weighted_sample rule).
    *
    * Plan: one partial-agg groupBy(source) to <= |sources| rows, then
    * an unpartitioned window over those few rows — the global totals
    * never touch per-doc data. */
  private val tokenBudgetSql: String =
    """WITH t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(FLOOR((n_chars + 3) / 4.0)) AS BIGINT) AS avail_tokens,
      |    CAST(CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 3
      |         WHEN 'src2' THEN 2 ELSE 1 END AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |g AS (SELECT source, n_docs, avail_tokens, weight,
      |    SUM(avail_tokens) OVER () AS total_avail,
      |    SUM(weight) OVER () AS sum_w FROM t)
      |SELECT source, n_docs, avail_tokens, weight,
      |  CAST(FLOOR(FLOOR(1.0 * total_avail) * weight / sum_w) AS BIGINT) AS target_tokens,
      |  CAST(CEIL(100.0 * FLOOR(FLOOR(1.0 * total_avail) * weight / sum_w)
      |       / avail_tokens) AS BIGINT) AS epochs_x100,
      |  CAST(FLOOR(FLOOR(1.0 * total_avail) * weight / sum_w) AS BIGINT)
      |       > avail_tokens AS oversubscribed
      |FROM g ORDER BY source""".stripMargin

  /** Docs kept per domain (test scale; the real knob is per-corpus). */
  val DomainCap = 10

  /** Salt fan-out for the skew-safe first phase — at test scale 4; in
    * production sized so one (domain, salt) slice fits a task (a
    * 10^9-doc mega-domain at S=10^4 is 10^5 rows per slice). */
  val DomainCapSalts = 4

  /** Per-domain document budget — the Common-Crawl-style "no domain may
    * contribute more than N docs" curation cap (source = domain here),
    * keeping the N longest docs (n_chars DESC, doc_id tie-break: a
    * total order, so the selection is deterministic on any engine).
    *
    * The PLAN is the point: a single `row_number() OVER (PARTITION BY
    * domain)` puts every doc of a mega-domain in ONE window partition —
    * the straggler shape that stalls a 100-TB run. Instead: salted
    * two-phase exact top-N. Phase 1 ranks within (domain,
    * pmod(doc_id, S)) and keeps N per slice — every global top-N doc
    * ranks ≤ N inside its own slice, so phase 1 never drops a winner
    * (exactness, pinned against the one-window brute force in
    * SampleQSpec for several S). Phase 2 re-ranks the ≤ N·S survivors
    * per domain — bounded rows per key regardless of corpus size. The
    * mega-domain partition shrinks from |domain| to |domain|/S rows;
    * shuffles carry only (doc_id, source, n_chars). The ORACLE stays
    * the plain one-window SQL: same values, skew-safe plan. */
  def qDomainCap(s: SparkSession, dir: String): DataFrame =
    domainCapPlan(s, dir, DomainCapSalts)

  /** The two-phase plan with an explicit salt count (spec knob). */
  private[graft] def domainCapPlan(s: SparkSession, dir: String, salts: Int): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w1 = Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(salts.toLong)))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val survivors = base
      .withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= DomainCap)
      .drop("rk1")
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= DomainCap)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
  }

  private val domainCapSql: String =
    s"""WITH r AS (SELECT doc_id, source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
       |FROM r WHERE rk <= $DomainCap
       |ORDER BY source, rk""".stripMargin

  /** Languages capped at this many epochs in the UniMax allocation. */
  val UniMaxEpochCap = 5L

  /** Token budget as a multiple of the corpus's available tokens. */
  val UniMaxBudgetX = 4L

  /** UniMax language-sampling allocation (Chung et al. 2023, ICLR —
    * "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining", public paper): given a
    * total token budget B = [[UniMaxBudgetX]] x the corpus's available
    * tokens and a per-language cap of [[UniMaxEpochCap]] epochs, spread
    * the budget as uniformly as possible across languages — a language
    * whose cap is below its uniform share gets its full cap; the
    * remainder splits evenly among the rest. Replaces the paper's
    * sequential greedy (ascending data size, alloc_i = min(cap_i,
    * floor(remaining / remaining_langs))) with its WATER-FILLING closed
    * form so no cross-engine sequential fold is needed (the round-4
    * q_pack_efficiency lesson): sort by cap ascending, language i is
    * capped iff cap_i*(n-i+1) + prefix_{i-1} <= B — once that predicate
    * fails it stays false (caps ascend), so the capped set is a prefix
    * computable with one window prefix-sum. The n-k uncapped languages
    * share R = B - sum(capped caps): with R = q*(n-k) + r, the first
    * n-k-r of them (cap-ascending — a total order, lang tie-break) get
    * q and the last r get q+1, which is EXACTLY what the greedy's
    * floor-share cascade produces (shares are non-decreasing, so the
    * remainder surfaces at the tail) — UniMaxSpec pins closed form ==
    * greedy on randomized instances. Exact to the token.
    * All arithmetic exact integers (token proxy = (n_chars+3) div 4,
    * the q_token_budget estimate); integer division only on
    * non-negative operands, where Spark's `div` (truncate) and
    * DuckDB's `//` (floor) agree — the one operator spelled per engine.
    *
    * Plan: one partial-agg groupBy(lang) collapses the corpus to
    * <= |languages| rows; every window below runs on that bounded
    * relation (the q_token_budget precedent — global totals never
    * touch per-doc data). On this corpus BOTH branches fire: the four
    * minority languages hit the 5-epoch cap and `en` absorbs the
    * remaining budget below its cap. */
  private def unimaxSql(idiv: String): String =
    s"""WITH t AS (SELECT lang, CAST(SUM((n_chars + 3) $idiv 4) AS BIGINT) AS avail
       |    FROM documents GROUP BY lang),
       |c AS (SELECT lang, avail, avail * $UniMaxEpochCap AS cap FROM t),
       |g AS (SELECT lang, avail, cap,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cap, lang) AS BIGINT) AS rn,
       |    SUM(cap) OVER (ORDER BY cap, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
       |    SUM(avail) OVER () * $UniMaxBudgetX AS budget
       |  FROM c),
       |f AS (SELECT *, CASE WHEN cap * (n - rn + 1) + (pfx - cap) <= budget
       |    THEN 1 ELSE 0 END AS capped FROM g),
       |s AS (SELECT *, SUM(capped) OVER () AS k,
       |    SUM(capped * cap) OVER () AS pk FROM f),
       |a AS (SELECT lang, avail, cap, capped,
       |    CASE WHEN capped = 1 THEN cap
       |         ELSE (budget - pk) $idiv (n - k)
       |              + (CASE WHEN rn - k > (n - k) - ((budget - pk) % (n - k))
       |                 THEN 1 ELSE 0 END) END AS alloc
       |  FROM s)
       |SELECT lang, avail AS avail_tokens, cap AS cap_tokens,
       |  CAST(capped AS BIGINT) AS is_capped,
       |  CAST(alloc AS BIGINT) AS alloc_tokens,
       |  CAST((100 * alloc) $idiv (CASE WHEN avail < 1 THEN 1 ELSE avail END)
       |       AS BIGINT) AS epochs_x100
       |FROM a ORDER BY lang""".stripMargin

  private[graft] val unimaxSparkSql: String = unimaxSql("div")
  private[graft] val unimaxDuckSql: String = unimaxSql("//")

  private def run(sql: String)(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    s.sql(Tables.unordered(sql))
  }

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_hash_sample" -> ((run(sampleSql) _, Some(sampleSql))),
    "q_corpus_split" -> ((run(splitSql) _, Some(splitSql))),
    "q_stratified_sample" -> ((run(stratifiedSql) _, Some(stratifiedSql))),
    "q_source_mix" -> ((run(mixSql) _, Some(mixSql))),
    "q_ntile_curriculum" -> ((run(ntileSql) _, Some(ntileSql))),
    "q_weighted_sample" -> ((run(weightedSql) _, Some(weightedSql))),
    "q_consistent_shard" -> ((run(consistentShardSql) _, Some(consistentShardSql))),
    "q_token_budget" -> ((run(tokenBudgetSql) _, Some(tokenBudgetSql))),
    "q_unimax_alloc" -> ((run(unimaxSparkSql) _, Some(unimaxDuckSql))),
    "q_domain_cap" -> ((qDomainCap _, Some(domainCapSql))))
}
