package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import DedupQ.norm
import QCache.ScopedCacheOps
import Tables.documents

/** Indexing / tokenizer-training operators a web-scale corpus platform
  * layers on the extraction battery (engine-side additions beyond the
  * reference scope — SURVEY.md §2.F/G): inverted-index posting lists,
  * SCD2 validity-interval construction over a change log, the vocabulary
  * coverage curve a tokenizer budget is sized from, and byte-pair-
  * encoding merge training (the first rounds of tokenizer learning).
  *
  * Determinism rules (CLAUDE.md): exact BIGINT counts everywhere, total
  * orders on every ranking (count desc, term asc), epochs via
  * unix_micros/epoch_us, and string ops restricted to the
  * Java/DuckDB-identical subset (replace = left-to-right non-overlapping
  * scan in both engines).
  */
object IndexQ {

  /** DuckDB-side tokenization identical to `norm` + split (the
    * qCmsHeavy pattern). */
  private val duckToks =
    "regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"

  // ---------------------------------------------------------------------
  // q_inverted_index — posting-list construction
  // ---------------------------------------------------------------------

  /** Posting-list head length (bounded output — the full list lives in
    * the index shards, not the stats relation). */
  val PostingHead = 20

  /** Inverted-index build — the retrieval-side core: per term, document
    * frequency, total term frequency, and the head of the sorted
    * posting list. Restricted to terms appearing in >= 5% of documents
    * (df * 20 >= n_docs) so the stats relation stays bounded while the
    * zipf head — the part a query planner caches — is fully visible.
    *
    * Scale notes: (term, doc) tf via one groupBy with map-side partial
    * combine; per-term fold is a second partial-agg shuffle keyed on
    * term (posting SETS shard naturally by term at 100 TB — this query
    * materializes only the bounded head via sort+slice, never an
    * unbounded collect). The n_docs scalar joins in as a broadcast. */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val toks = docs
      .select(col("doc_id"), explode(split(trim(norm(col("text"))), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tfd = toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tfd.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        expr(s"array_join(transform(slice(sort_array(collect_list(doc_id)), 1, $PostingHead)," +
          " x -> CAST(x AS STRING)), ',')").as("postings_head"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 20 >= col("n_docs"))
      .select(col("term"), col("df"), col("tf_total"), col("postings_head"))
      .orderBy(col("df").desc, col("term").asc)
  }

  val qInvertedIndexSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
       |tfd AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM toks WHERE length(term) > 0 GROUP BY term, doc_id),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       |  CAST(SUM(tf) AS BIGINT) AS tf_total,
       |  array_to_string(list_transform(list_sort(list(doc_id))[1:$PostingHead],
       |    x -> CAST(x AS VARCHAR)), ',') AS postings_head
       |FROM tfd
       |GROUP BY term
       |HAVING COUNT(*) * 20 >= (SELECT n_docs FROM n)
       |ORDER BY df DESC, term ASC""".stripMargin

  // ---------------------------------------------------------------------
  // q_scd2 — slowly-changing-dimension validity intervals
  // ---------------------------------------------------------------------

  /** SCD2 interval build — the warehouse-side companion of
    * q_cdc_latest: the event stream is a change log of each user's
    * current event_type; consecutive duplicates collapse, each retained
    * change opens a validity interval [valid_from, valid_to) closed by
    * the next change (NULL = current). Epochs in micros (exact BIGINT).
    *
    * Scale notes: two windows over the same (user_id; ts, event_id)
    * ordering — one shuffle, one sort, both window passes reuse it (the
    * change filter runs between them without re-partitioning). */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = Tables.read(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_from", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(ord))
      .withColumn("version", row_number().over(ord))
      .select(col("user_id"), col("version").cast("long").as("version"),
        col("event_type"), col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val qScd2Sql: String =
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (SELECT user_id, ts, event_id, event_type FROM o
      |      WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
      |  event_type,
      |  epoch_us(ts) AS valid_from,
      |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM c ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------------
  // q_vocab_coverage — tokenizer-budget coverage curve
  // ---------------------------------------------------------------------

  /** Cumulative-coverage thresholds (percent of total token mass). */
  val CoverageThresholds: Seq[Int] = Seq(50, 80, 90, 95, 99)

  /** Vocabulary coverage curve — for each coverage threshold, the
    * smallest vocabulary size (terms ranked by frequency desc, term asc)
    * whose cumulative token mass reaches it. The number a tokenizer /
    * OOV budget is sized from. All-integer: cum * 100 >= t * total.
    *
    * Scale notes: the running sum's single-partition window runs over
    * the VOCAB relation (orders of magnitude smaller than the corpus;
    * at 10^12 tokens a range-partitioned prefix-sum replaces it — the
    * aggregation feeding it is the expensive part and shuffles only
    * (term, count) pairs with map-side combine). */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = documents(s, dir)
      .select(explode(split(trim(norm(col("text"))), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val ranked = counts
      .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("term").asc)))
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(col("n").desc, col("term").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total"), count(lit(1)).as("vocab_size"))))
    ranked
      .select(col("rk"), col("cum"), col("total"), col("vocab_size"),
        explode(array(CoverageThresholds.map(lit): _*)).as("threshold_pct"))
      .filter(col("cum") * 100 >= col("threshold_pct") * col("total"))
      .groupBy(col("threshold_pct"), col("total"), col("vocab_size"))
      .agg(min(col("rk")).cast("long").as("vocab_rank"))
      .select(col("threshold_pct").cast("long").as("threshold_pct"), col("vocab_rank"),
        col("total").as("total_tokens"), col("vocab_size"))
      .orderBy(col("threshold_pct"))
  }

  val qVocabCoverageSql: String = {
    val thresholds = CoverageThresholds.mkString(", ")
    s"""WITH toks AS (SELECT unnest($duckToks) AS term FROM documents),
       |counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM toks WHERE length(term) > 0 GROUP BY term),
       |ranked AS (SELECT
       |    ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rk,
       |    SUM(n) OVER (ORDER BY n DESC, term ASC
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM counts),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS vocab_size
       |        FROM counts)
       |SELECT CAST(t.t AS BIGINT) AS threshold_pct,
       |  CAST(MIN(r.rk) AS BIGINT) AS vocab_rank,
       |  (SELECT total FROM tot) AS total_tokens,
       |  (SELECT vocab_size FROM tot) AS vocab_size
       |FROM (SELECT unnest(ARRAY[$thresholds]) AS t) t, ranked r
       |WHERE r.cum * 100 >= t.t * (SELECT total FROM tot)
       |GROUP BY t.t ORDER BY threshold_pct""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_bpe_merges — byte-pair-encoding merge training (first rounds)
  // ---------------------------------------------------------------------

  /** Number of BPE merge rounds trained. */
  val BpeRounds = 3

  /** BPE merge training — the first [[BpeRounds]] rounds of tokenizer
    * learning: words become space-separated symbol sequences; each
    * round counts adjacent symbol pairs weighted by word frequency,
    * picks the argmax (count desc, pair asc — total order), and merges
    * it corpus-wide. Merging uses padded `replace` applied TWICE per
    * round: both engines scan left-to-right non-overlapping over the
    * original string, so a run like `a b a b` leaves its second
    * occurrence un-merged on pass one (its leading separator was
    * consumed); the second pass catches it. Reported per round: the
    * winning pair, its merged symbol, its weighted frequency, and the
    * distinct-pair count before the merge.
    *
    * Scale notes: rounds operate on the WORD-FREQUENCY relation (vocab-
    * sized, not corpus-sized — the one corpus-wide shuffle is the
    * initial word count with map-side combine). Each round is one
    * partial-agg shuffle over vocab plus a broadcast of the single
    * argmax row; at a production vocab the pair-count relation is
    * ~|vocab| * avg_word_len rows, still tiny next to the corpus. */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val words = documents(s, dir)
      .select(explode(split(trim(norm(col("text"))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(" ", split(col("word"), "")).as("syms"), col("freq"))

    var cur = words
    val rounds = (1 to BpeRounds).map { r =>
      val pc = cur
        .filter(size(split(col("syms"), " ")) >= 2)
        .select(col("freq"), split(col("syms"), " ").as("a"))
        .select(col("freq"),
          explode(expr("transform(sequence(0, size(a) - 2), i -> concat(a[i], ' ', a[i + 1]))")).as("p"))
        .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
        .scopedCache()
      val best = pc.orderBy(col("cnt").desc, col("p").asc).limit(1)
        .select(col("p").as("bp"), col("cnt").as("bcnt"))
      val nPairs = pc.agg(count(lit(1)).as("n_pairs"))
      val result = best.crossJoin(broadcast(nPairs))
        .select(lit(r.toLong).as("round"), col("bp").as("best_pair"),
          expr("replace(bp, ' ', '')").as("merged_sym"),
          col("bcnt").as("pair_freq"), col("n_pairs"))
      cur = cur.crossJoin(broadcast(best))
        .select(expr(
          "trim(replace(replace(concat(' ', syms, ' '), concat(' ', bp, ' '), concat(' ', replace(bp, ' ', ''), ' ')), " +
          "concat(' ', bp, ' '), concat(' ', replace(bp, ' ', ''), ' ')))").as("syms"),
          col("freq"))
      result
    }
    rounds.reduce(_.unionByName(_)).orderBy(col("round"))
  }

  /** DuckDB merge-application expression: padded `replace` applied twice
    * (left-to-right non-overlapping in both engines — see qBpeMerges).
    * `def`, not val: shared by two SQL builder vals (init-order rule). */
  private def bpeMergeExprSql(b: String): String =
    s"trim(replace(replace(' ' || syms || ' ', ' ' || (SELECT p FROM $b) || ' ', " +
    s"' ' || (SELECT replace(p, ' ', '') FROM $b) || ' '), ' ' || (SELECT p FROM $b) || ' ', " +
    s"' ' || (SELECT replace(p, ' ', '') FROM $b) || ' '))"

  /** The per-round training CTE chain (pair counts over s{r-1}, argmax
    * b{r}, merged relation s{r}) shared verbatim by the merge-training
    * and encode oracles; `extraCols` rides along through each s{r} so the
    * encoder can keep the original word key. */
  private def bpeRoundCtesSql(extraCols: String): String =
    (1 to BpeRounds).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""pc$r AS (
         |  SELECT a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS p,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(syms, ' ') AS a, freq FROM $prev) t,
         |       UNNEST(generate_series(1, len(a) - 1)) AS u(i)
         |  WHERE len(a) >= 2
         |  GROUP BY 1),
         |b$r AS (SELECT p, cnt FROM pc$r ORDER BY cnt DESC, p ASC LIMIT 1),
         |s$r AS (SELECT $extraCols${bpeMergeExprSql(s"b$r")} AS syms, freq FROM $prev)""".stripMargin
    }.mkString(",\n")

  val qBpeMergesSql: String = {
    val roundCtes = bpeRoundCtesSql("")
    val rows = (1 to BpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, (SELECT p FROM b$r) AS best_pair,
         |  (SELECT replace(p, ' ', '') FROM b$r) AS merged_sym,
         |  (SELECT cnt FROM b$r) AS pair_freq,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pc$r) AS n_pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT unnest($duckToks) AS word FROM documents),
       |w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |      FROM toks WHERE length(word) > 0 GROUP BY word),
       |s0 AS (SELECT array_to_string(string_split(word, ''), ' ') AS syms, freq FROM w),
       |$roundCtes
       |$rows
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_bpe_encode — tokenizer APPLICATION (encode the corpus with the
  // learned merges)
  // ---------------------------------------------------------------------

  /** BPE encode — the other half of the tokenizer story (qBpeMerges
    * trains the merge table; this applies it): every document is
    * tokenized under the [[BpeRounds]] learned merges and reports its
    * exact post-merge token count alongside word/char counts — the
    * sequence-length accounting every token-budget/packing decision
    * (q_token_budget, q_seq_pack) would consume from a REAL tokenizer
    * rather than the whitespace proxy.
    *
    * Scale shape — the tokenizer-apply idiom at 100 TB: merges are
    * learned on the WORD-FREQUENCY relation (vocab-sized) and the merged
    * symbol-count map is joined back to the corpus words as a BROADCAST
    * (a production vocab is ~10^5-10^6 rows — always dwarfed by the
    * corpus), so the apply pass is one narrow map-side join + per-doc
    * partial agg; the only corpus-wide shuffle is the initial word count
    * (map-side combine) and the final per-doc agg. No per-round pass
    * ever touches the corpus. */
  /** Train [[BpeRounds]] merges on the word-frequency relation and
    * return the (word, n_syms) post-merge symbol-count map — the
    * vocab-sized broadcast side of every tokenizer-apply join. Shared
    * by qBpeEncode (per-doc) and qTokenizerFertility (per-lang). */
  private def bpeVocab(words: DataFrame): DataFrame = {
    var vocab = words.select(col("word"),
      concat_ws(" ", split(col("word"), "")).as("syms"), col("freq"))
    (1 to BpeRounds).foreach { _ =>
      val pc = vocab
        .filter(size(split(col("syms"), " ")) >= 2)
        .select(col("freq"), split(col("syms"), " ").as("a"))
        .select(col("freq"),
          explode(expr("transform(sequence(0, size(a) - 2), i -> concat(a[i], ' ', a[i + 1]))")).as("p"))
        .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
      val best = pc.orderBy(col("cnt").desc, col("p").asc).limit(1)
        .select(col("p").as("bp"))
      // scopedCache per round: each round's argmax broadcast and the
      // next round's pair counts both read vocab_{r}; without the cache
      // the nested broadcast builds recompute round 1's lineage ~4x
      vocab = vocab.crossJoin(broadcast(best))
        .select(col("word"), expr(
          "trim(replace(replace(concat(' ', syms, ' '), concat(' ', bp, ' '), concat(' ', replace(bp, ' ', ''), ' ')), " +
          "concat(' ', bp, ' '), concat(' ', replace(bp, ' ', ''), ' ')))").as("syms"),
          col("freq"))
        .scopedCache()
    }
    vocab.select(col("word"),
      size(split(col("syms"), " ")).cast("long").as("n_syms"))
  }

  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docWords = documents(s, dir)
      .select(col("doc_id"), explode(split(trim(norm(col("text"))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .scopedCache() // feeds training freqs AND the apply join
    val words = docWords.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val vmap = bpeVocab(words)
    docWords.join(broadcast(vmap), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("n_syms")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val qBpeEncodeSql: String = {
    val roundCtes = bpeRoundCtesSql("word, ")
    s"""WITH dw AS (SELECT doc_id, word FROM
       |    (SELECT doc_id, unnest($duckToks) AS word FROM documents) t
       |  WHERE length(word) > 0),
       |w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM dw GROUP BY word),
       |s0 AS (SELECT word, array_to_string(string_split(word, ''), ' ') AS syms, freq FROM w),
       |$roundCtes,
       |v AS (SELECT word, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_syms
       |      FROM s$BpeRounds)
       |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(v.n_syms) AS BIGINT) AS n_tokens
       |FROM dw JOIN v USING (word)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_tokenizer_fertility — per-language tokens-per-word audit
  // ---------------------------------------------------------------------

  /** Tokenizer FERTILITY per language — the multilingual-equity audit
    * (fertility = subword tokens per word; see e.g. the XLM-R and
    * NLLB tokenizer analyses, public papers): a tokenizer trained on a
    * skewed corpus fragments minority languages into more tokens per
    * word, so their documents consume more sequence budget per unit of
    * text — the per-language cost curve that q_unimax_alloc's epoch
    * budgeting and q_token_budget's mixture planning should be read
    * against. Reports, per language: word/char/BPE-token counts under
    * the [[BpeRounds]] learned merges, fertility in exact basis points
    * (10000*tokens div words), and chars-per-token x100 (the
    * compression ratio) — integer division on non-negative operands
    * only, no float ratio compared.
    *
    * Plan: same shape as the qBpeEncode apply pass (merges learned on
    * the vocab-sized word-frequency relation, symbol counts joined
    * back as a BROADCAST), with the final partial agg on lang instead
    * of doc_id — output <= |languages| rows. */
  def qTokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val langWords = documents(s, dir)
      .select(col("lang"), explode(split(trim(norm(col("text"))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .scopedCache() // feeds training freqs AND the apply join
    val words = langWords.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val vmap = bpeVocab(words)
    langWords.join(broadcast(vmap), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("n_syms")).cast("long").as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("CAST((10000 * n_tokens) div n_words AS BIGINT)").as("fertility_bp"),
        expr("CAST((100 * n_chars) div n_tokens AS BIGINT)").as("chars_per_token_x100"))
      .orderBy(col("lang"))
  }

  val qTokenizerFertilitySql: String = {
    val roundCtes = bpeRoundCtesSql("word, ")
    s"""WITH dw AS (SELECT lang, word FROM
       |    (SELECT lang, unnest($duckToks) AS word FROM documents) t
       |  WHERE length(word) > 0),
       |w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM dw GROUP BY word),
       |s0 AS (SELECT word, array_to_string(string_split(word, ''), ' ') AS syms, freq FROM w),
       |$roundCtes,
       |v AS (SELECT word, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_syms
       |      FROM s$BpeRounds),
       |agg AS (SELECT dw.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
       |    CAST(SUM(v.n_syms) AS BIGINT) AS n_tokens
       |  FROM dw JOIN v USING (word) GROUP BY dw.lang)
       |SELECT lang, n_words, n_chars, n_tokens,
       |  CAST((10000 * n_tokens) // n_words AS BIGINT) AS fertility_bp,
       |  CAST((100 * n_chars) // n_tokens AS BIGINT) AS chars_per_token_x100
       |FROM agg ORDER BY lang""".stripMargin
  }

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_inverted_index" -> ((qInvertedIndex _, Some(qInvertedIndexSql))),
    "q_scd2" -> ((qScd2 _, Some(qScd2Sql))),
    "q_vocab_coverage" -> ((qVocabCoverage _, Some(qVocabCoverageSql))),
    "q_bpe_merges" -> ((qBpeMerges _, Some(qBpeMergesSql))),
    "q_bpe_encode" -> ((qBpeEncode _, Some(qBpeEncodeSql))),
    "q_tokenizer_fertility" -> ((qTokenizerFertility _, Some(qTokenizerFertilitySql))))
}
