package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QCache.ScopedCacheOps
import Tables.documents

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * fingerprinting. All oracle-checkable: counts are exact ints, ratios
  * are int/int doubles (bit-identical across engines). */
object TextAnalysisQ {

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** BPE-style pretokenizer regex (GPT-2-family shape, simplified to the
    * subset whose semantics are identical in Java and RE2 regex
    * dialects): letter runs, digit runs, single punctuation marks. */
  private val BpeRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting: whitespace tokens AND BPE-ish pretokens + chars. */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeRegex), lit(0))).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_txt"))

  val qTokenCountSql: String =
    s"""SELECT doc_id,
      | CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      | CAST(length(regexp_extract_all(text, '$BpeRegex')) AS BIGINT) AS n_bpe_tokens,
      | CAST(length(text) AS BIGINT) AS n_chars_txt
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio, mean token length (int/int
    * divisions -> identical doubles; ROUND ties-away-from-zero on both
    * engines). */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val nTok = size(toks)
    val nStop = size(filter(toks, (t: Column) => t.isInCollection(stopwords)))
    val nNonSpace = length(regexp_replace(col("text"), "\\s", ""))
    documents(s, dir)
      .select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        nStop.cast("long").as("n_stop"),
        round(nStop.cast("double") / nTok, 4).as("stop_ratio"),
        round(nNonSpace.cast("double") / nTok, 4).as("mean_tok_len"))
  }

  val qQualityScoreSql: String = {
    val sw = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |        length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
       | FROM documents)
       |SELECT doc_id,
       | CAST(length(toks) AS BIGINT) AS n_tokens,
       | CAST(length(list_filter(toks, x -> list_contains($sw, x))) AS BIGINT) AS n_stop,
       | ROUND(CAST(length(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / length(toks), 4) AS stop_ratio,
       | ROUND(CAST(n_nonspace AS DOUBLE) / length(toks), 4) AS mean_tok_len
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Language ID by marker-token counting (n-gram-heuristic style):
    * occurrences counted via the length-difference trick so both engines
    * share the exact formula; fixed priority chain breaks ties. */
  private val markers = Seq(
    "en" -> Seq(" the ", " and "),
    "de" -> Seq(" der ", " und "),
    "fr" -> Seq(" le ", " et "),
    "es" -> Seq(" el ", " y "))

  /** Appends the four marker-count columns s_en..s_es (shared with
    * CorpusQ's composed filter — one formula, two call sites). */
  private[queries] def withLangScores(df: DataFrame): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    def occurrences(m: String): Column =
      (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(m), ""))) / m.length
    def score(ms: Seq[String]): Column = ms.map(occurrences).reduce(_ + _)
    markers.foldLeft(df) { case (d, (lang, ms)) =>
      d.withColumn(s"s_$lang", score(ms).cast("long"))
    }
  }

  /** Fixed-priority argmax over the marker scores. */
  private[queries] val predLangCol: Column =
    when(
      col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es") && col("s_en") > 0, "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") && col("s_de") > 0, "de")
      .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
      .when(col("s_es") > 0, "es")
      .otherwise("unknown")

  def qLangid(s: SparkSession, dir: String): DataFrame = {
    val scored = withLangScores(documents(s, dir))
    scored.select(col("doc_id"), predLangCol.as("pred_lang"),
        col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
  }

  /** The s_en..s_es column list in DuckDB SQL (shared with CorpusQ). */
  private[queries] val langScoreSqlCols: String = {
    def occ(m: String): String =
      s"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$m', ''))) / ${m.length}"
    def score(ms: Seq[String]): String = ms.map(occ).mkString(" + ")
    markers.map { case (l, ms) => s"CAST(${score(ms)} AS BIGINT) AS s_$l" }.mkString(",\n ")
  }

  /** The pred-lang CASE in DuckDB SQL (shared with CorpusQ). */
  private[queries] val predLangCaseSql: String =
    """CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
      |      WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
      |      WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
      |      WHEN s_es > 0 THEN 'es'
      |      ELSE 'unknown' END""".stripMargin

  val qLangidSql: String =
    s"""WITH t AS (SELECT doc_id,
       | $langScoreSqlCols
       |FROM documents)
       |SELECT doc_id,
       | $predLangCaseSql AS pred_lang,
       | s_en, s_de, s_fr, s_es
       |FROM t ORDER BY doc_id""".stripMargin

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text (portable across engines). */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " ")).cast("binary")).as("fp"))

  val qFingerprintSql: String =
    """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus-self-trained familiarity score — the LM-perplexity idea in
    * exact integer arithmetic (a transcendental log would hash-diverge
    * across engines in the last ulp): global character-bigram counts
    * over the corpus, then each doc scored by the mean corpus frequency
    * of its own bigrams. Rare-glyph/garbled docs score low — a standard
    * pipeline quality filter. Plan: the raw char-bigram stream folds
    * FIRST into a per-(doc, bigram) histogram — one shuffle with full
    * map-side partial aggregation, whose Exchange is then CONSUMED
    * TWICE via Catalyst's ReuseExchange (once by the global bigram
    * counts, once by the per-doc join side), so the explode and the
    * histogram are computed exactly once; the tiny global table
    * broadcasts back and the final per-doc agg recombines counts
    * (sum(cnt), sum(cnt*gc)) instead of re-touching every position. */
  /** Per-doc bigram histogram as a DOC-granularity kernel: one LongMap
    * pass over the code points (key = cp1 << 21 | cp2 — code points fit
    * 21 bits, so the packing is collision-free), strings built once per
    * DISTINCT bigram. The previous shape exploded one row per character
    * position (~15M rows at sf0.1, the battery's largest row blow-up)
    * and re-aggregated them in a shuffle; the kernel emits the
    * per-(doc, bigram) counts directly — identical rows (Spark substr
    * slices code points, exactly what the packing iterates), with the
    * whole position-stream Exchange gone. A UDF is right here because
    * it runs once per DOCUMENT (5k rows), not per element — the
    * builtin formulation is asymptotically worse, not cheaper. */
  private val bigramCountsUdf = udf { t: String =>
    if (t == null) Map.empty[String, Long]
    else {
      val cps = t.codePoints().toArray
      if (cps.length < 2) Map.empty[String, Long]
      else {
        val m = scala.collection.mutable.LongMap.empty[Long]
        var i = 0
        while (i < cps.length - 1) {
          val key = (cps(i).toLong << 21) | cps(i + 1).toLong
          m(key) = m.getOrElse(key, 0L) + 1L
          i += 1
        }
        val out = Map.newBuilder[String, Long]
        m.foreach { case (k, c) =>
          out += new String(Array((k >>> 21).toInt, (k & 0x1FFFFF).toInt), 0, 2) -> c
        }
        out.result()
      }
    }
  }

  def qBigramFamiliarity(s: SparkSession, dir: String): DataFrame = {
    // shared by the global agg AND the join side; cache() (same policy as
    // DedupQ's self-join temporaries) because Catalyst's ReuseExchange
    // does not fire across the broadcast boundary here — without it the
    // kernel would run twice
    val hist = documents(s, dir)
      .select(col("doc_id"), lower(regexp_replace(col("text"), "\\s+", " ")).as("t"))
      .select(col("doc_id"), explode(bigramCountsUdf(col("t"))).as(Seq("b", "cnt")))
      .scopedCache()
    val global = hist.groupBy(col("b")).agg(sum(col("cnt")).as("gc"))
    hist.join(broadcast(global), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(col("cnt") * col("gc")).as("sum_gc"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_gc").cast("double") / col("n_bigrams"), 4).as("familiarity"))
  }

  val qBigramFamiliaritySql: String =
    """WITH bi AS (
      |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS b
      |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents) d,
      |       UNNEST(generate_series(1, greatest(length(t) - 1, 0))) AS u(i)
      |  WHERE CAST(i AS INT) <= length(t) - 1),
      |g AS (SELECT b, COUNT(*) AS gc FROM bi GROUP BY b)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       ROUND(CAST(CAST(SUM(gc) AS BIGINT) AS DOUBLE) / COUNT(*), 4) AS familiarity
      |FROM bi JOIN g USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Readability scoring (Flesch-style): word / sentence / vowel-group
    * counts are exact regex counts with identical Java/RE2 semantics
    * (char classes and + only), the score is fixed-literal arithmetic
    * over those integers (IEEE-deterministic), rounded to 4. Sentence
    * count floors at 1 (a fragment is one sentence; also guards the
    * division on both engines identically). The per-doc length gate a
    * curation pipeline pairs with quality_score. */
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val nWords = greatest(size(split(trim(col("text")), "\\s+")), lit(1)).cast("long")
    val nSent = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1)).cast("long")
    val nVg = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    documents(s, dir)
      .select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sentences"),
        nVg.as("n_vowel_groups"),
        round(lit(206.835)
          - lit(1.015) * (nWords.cast("double") / nSent.cast("double"))
          - lit(84.6) * (nVg.cast("double") / nWords.cast("double")), 4).as("flesch"))
  }

  val qReadabilitySql: String =
    """SELECT doc_id,
      | CAST(GREATEST(length(regexp_split_to_array(trim(text), '\s+')), 1) AS BIGINT) AS n_words,
      | CAST(GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      | CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_vowel_groups,
      | ROUND(206.835
      |   - 1.015 * (CAST(GREATEST(length(regexp_split_to_array(trim(text), '\s+')), 1) AS DOUBLE)
      |              / CAST(GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
      |   - 84.6 * (CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |             / CAST(GREATEST(length(regexp_split_to_array(trim(text), '\s+')), 1) AS DOUBLE)), 4) AS flesch
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Skip-gram co-occurrence — the word2vec/GloVe-style corpus statistic:
    * unordered word pairs within a +/-2 token window, with the pair and
    * both unigram frequencies (all exact ints — association scores like
    * PMI are a log away, which the consumer computes; the oracle-checked
    * layer stays transcendental-free per the determinism rules). Top 200
    * pairs, total order (count desc, then the pair strings).
    *
    * Scale notes: pairs generate ARRAY-SIDE (two shifted zips per doc,
    * no positions self-join — a join on (doc, pos distance) would
    * shuffle the token stream twice); (pair) and (word) counts are
    * hash-aggregates with map-side combine, so the shuffles carry
    * distinct pairs/words; the two unigram joins are vocabulary-sized
    * (AQE broadcasts them); top-k is a TakeOrdered, not a global sort. */
  def qCooccur(s: SparkSession, dir: String): DataFrame = {
    val toksRel = documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val pairs = toksRel.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(toks) - 1), i ->
          |  filter(transform(sequence(1, 2), d ->
          |    CASE WHEN i + d <= size(toks) THEN
          |      struct(least(element_at(toks, i), element_at(toks, i + d)) AS w1,
          |             greatest(element_at(toks, i), element_at(toks, i + d)) AS w2)
          |    END), p -> p IS NOT NULL)))""".stripMargin)).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_count"))
    val uni = toksRel.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    pairs
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "w1_count"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "w2_count"), Seq("w2"))
      .select(col("w1"), col("w2"), col("pair_count"), col("w1_count"), col("w2_count"))
      .orderBy(col("pair_count").desc, col("w1").asc, col("w2").asc)
      .limit(200)
  }

  val qCooccurSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |p AS (SELECT LEAST(toks[CAST(i AS INT)], toks[CAST(i + d AS INT)]) AS w1,
      |             GREATEST(toks[CAST(i AS INT)], toks[CAST(i + d AS INT)]) AS w2
      |      FROM t, UNNEST(generate_series(1, length(toks) - 1)) AS u(i),
      |           UNNEST([1, 2]) AS v(d)
      |      WHERE length(toks) >= 2 AND i + d <= length(toks)),
      |pc AS (SELECT w1, w2, COUNT(*) AS pair_count FROM p GROUP BY w1, w2),
      |uni AS (SELECT w, COUNT(*) AS c FROM (SELECT UNNEST(toks) AS w FROM t) GROUP BY w)
      |SELECT pc.w1, pc.w2, pair_count, u1.c AS w1_count, u2.c AS w2_count
      |FROM pc JOIN uni u1 ON u1.w = pc.w1 JOIN uni u2 ON u2.w = pc.w2
      |ORDER BY pair_count DESC, pc.w1 ASC, pc.w2 ASC LIMIT 200""".stripMargin

  /** Gopher-rule word bounds (Rae et al. use 50..100,000; the lower
    * bound is tuned to this corpus's 8-100-word docs so the rule
    * discriminates instead of passing or failing everything). */
  private val GopherMinWords = 20L
  private val GopherMaxWords = 100000L

  /** The Gopher required-stopword set (Rae et al. 2021 appendix A1.1);
    * a doc must contain at least 2 distinct members. */
  private val gopherStop = Seq("the", "a", "and", "of", "to", "that", "have", "with")

  /** Gopher-style document quality RULES (Rae et al. 2021, public paper,
    * appendix A1.1) — the per-rule filter battery real pretraining
    * pipelines run alongside the model-based quality score, expressed
    * EXACTLY: integer counts and cross-multiplied RATIONAL thresholds
    * (no float ratio ever compared), so both engines agree bit-for-bit.
    *  - word count in [GopherMinWords, GopherMaxWords];
    *  - mean word length in [3, 10]: 3n <= sum_wchars <= 10n;
    *  - >= 80% of words contain an alphabetic char: 5*alpha >= 4n;
    *  - >= 2 distinct required stopwords present;
    *  - repetition: <= 20% of word chars inside occurrences of the
    *    single most frequent word 2-gram (count x gram chars, space
    *    excluded; ties broken by gram text): 5*top2_chars <= sum_wchars.
    * The paper's symbol-ratio and bullet-/ellipsis-line rules are
    * newline- and symbol-dependent; this corpus has neither (verified),
    * so they are documented as inapplicable rather than silently passed.
    *
    * Scale shape: one tokenize+explode pass; per-doc aggregates are
    * partial-agg map-side; the 2-gram relation shuffles on (doc, gram)
    * then one doc-width window bounded by the doc's own gram count —
    * nothing corpus-wide. */
  def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val words = documents(s, dir)
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("i", "w")))
      .scopedCache() // two consumers: per-doc stats + 2-gram top-1
    val stats = words.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_words"),
      sum(length(col("w"))).cast("long").as("sum_wchars"),
      sum(when(col("w").rlike("[A-Za-z]"), 1L).otherwise(0L)).as("n_alpha"),
      countDistinct(when(col("w").isInCollection(gopherStop), col("w"))).as("n_stop"))
    val gw = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val topW = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("gram"))
    val top2 = words
      .withColumn("nxt", lead(col("w"), 1).over(gw))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat(col("w"), lit(" "), col("nxt")).as("gram"),
        (length(col("w")) + length(col("nxt"))).cast("long").as("gchars"))
      .groupBy(col("doc_id"), col("gram"), col("gchars"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(topW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), (col("cnt") * col("gchars")).as("top2_chars"))
    val flag = (c: Column) => when(c, 1).otherwise(0).cast("int")
    stats.join(top2, Seq("doc_id"), "left")
      .withColumn("top2_chars", coalesce(col("top2_chars"), lit(0L)))
      .withColumn("r_nwords", flag(col("n_words") >= GopherMinWords &&
        col("n_words") <= GopherMaxWords))
      .withColumn("r_wordlen", flag(lit(3L) * col("n_words") <= col("sum_wchars") &&
        col("sum_wchars") <= lit(10L) * col("n_words")))
      .withColumn("r_alpha", flag(lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")))
      .withColumn("r_stop", flag(col("n_stop") >= 2))
      .withColumn("r_rep", flag(lit(5L) * col("top2_chars") <= col("sum_wchars")))
      .withColumn("kept", flag(col("r_nwords") + col("r_wordlen") + col("r_alpha") +
        col("r_stop") + col("r_rep") === 5))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("sum_wchars"), col("n_alpha").cast("long").as("n_alpha"),
        col("n_stop").cast("long").as("n_stop"), col("top2_chars"),
        col("r_nwords"), col("r_wordlen"), col("r_alpha"), col("r_stop"),
        col("r_rep"), col("kept"))
  }

  val qGopherRulesSql: String = {
    val sw = gopherStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |w AS (SELECT doc_id, CAST(i AS INT) AS i, toks[CAST(i AS INT)] AS w
       |      FROM t, UNNEST(generate_series(1, length(toks))) AS u(i)),
       |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |         CAST(SUM(length(w)) AS BIGINT) AS sum_wchars,
       |         CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
       |         CAST(COUNT(DISTINCT CASE WHEN list_contains($sw, w) THEN w END) AS BIGINT) AS n_stop
       |       FROM w GROUP BY doc_id),
       |g AS (SELECT doc_id, a.w || ' ' || b.w AS gram,
       |        CAST(length(a.w) + length(b.w) AS BIGINT) AS gchars
       |      FROM w a JOIN w b USING (doc_id) WHERE b.i = a.i + 1),
       |gc AS (SELECT doc_id, gram, gchars, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram, gchars),
       |tp AS (SELECT doc_id, cnt * gchars AS top2_chars FROM (
       |        SELECT doc_id, cnt, gchars,
       |               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
       |        FROM gc) WHERE rn = 1)
       |SELECT st.doc_id, n_words, sum_wchars, n_alpha, n_stop,
       |  CAST(COALESCE(tp.top2_chars, 0) AS BIGINT) AS top2_chars,
       |  CAST(CASE WHEN n_words >= $GopherMinWords AND n_words <= $GopherMaxWords THEN 1 ELSE 0 END AS INT) AS r_nwords,
       |  CAST(CASE WHEN 3 * n_words <= sum_wchars AND sum_wchars <= 10 * n_words THEN 1 ELSE 0 END AS INT) AS r_wordlen,
       |  CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS INT) AS r_alpha,
       |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS r_stop,
       |  CAST(CASE WHEN 5 * COALESCE(tp.top2_chars, 0) <= sum_wchars THEN 1 ELSE 0 END AS INT) AS r_rep,
       |  CAST(CASE WHEN n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
       |        AND 3 * n_words <= sum_wchars AND sum_wchars <= 10 * n_words
       |        AND 5 * n_alpha >= 4 * n_words AND n_stop >= 2
       |        AND 5 * COALESCE(tp.top2_chars, 0) <= sum_wchars THEN 1 ELSE 0 END AS INT) AS kept
       |FROM st LEFT JOIN tp ON tp.doc_id = st.doc_id
       |ORDER BY st.doc_id""".stripMargin
  }

  /** Power-law length HISTOGRAM per source: docs bucketed by
    * floor(log2(n_chars)) — computed EXACTLY as `length(bin(n)) - 1`
    * (the bit length of the integer), never a transcendental log — the
    * shape chart a corpus card plots and the partition-sizing input a
    * 100 TB writer reads (how much mass sits in the mega-doc tail).
    * One groupBy with map-side partial agg, at most ~64 x #sources
    * rows. */
  def qLengthHist(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("source"),
        expr("CAST(length(bin(length(text))) - 1 AS INT)").as("log2_bucket"),
        length(col("text")).cast("long").as("n"))
      .groupBy(col("source"), col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_chars"),
        min(col("n")).as("min_chars"), max(col("n")).as("max_chars"))

  val qLengthHistSql: String =
    """SELECT source,
      |  CAST(length(bin(length(text))) - 1 AS INT) AS log2_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(MIN(length(text)) AS BIGINT) AS min_chars,
      |  CAST(MAX(length(text)) AS BIGINT) AS max_chars
      |FROM documents WHERE length(text) > 0
      |GROUP BY source, log2_bucket
      |ORDER BY source, log2_bucket""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_gopher_rules" -> ((qGopherRules _, Some(qGopherRulesSql))),
    "q_length_hist" -> ((qLengthHist _, Some(qLengthHistSql))),
    "q_cooccur" -> ((qCooccur _, Some(qCooccurSql))),
    "q_bigram_familiarity" -> ((qBigramFamiliarity _, Some(qBigramFamiliaritySql))),
    "q_token_count" -> ((qTokenCount _, Some(qTokenCountSql))),
    "q_quality_score" -> ((qQualityScore _, Some(qQualityScoreSql))),
    "q_langid" -> ((qLangid _, Some(qLangidSql))),
    "q_readability" -> ((qReadability _, Some(qReadabilitySql))),
    "q_fingerprint" -> ((qFingerprint _, Some(qFingerprintSql))))
}
