package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.CorpusGen
import graft.layout.MediaOcr
import graft.pipeline.Extract

/** Media-span TEXT under the independent oracle (round-3 verdict #7,
  * stretch): the last flagship column class that was only rows-only /
  * golden-pinned.
  *
  * One law, two execution forms. The Spark side runs the extraction
  * pipeline, whose media kernel is the classifier's STITCH LAW in Scala
  * (MediaOcr.text), and emits md5(text) per media span. The oracle
  * re-derives the text from the documents parquet alone by running the
  * law's SQL form: MediaOcr's sequential splitmix64 Rng stream simulated
  * in a DuckDB RECURSIVE CTE — a 15-phase state machine consuming exactly
  * one draw per step — that accumulates the stitched text:
  *
  *   stitched = for each line, every word ++ " ", then "\n"
  *              (+ optional orphan-paragraph word line, + optional
  *               "orphan line " line)  ++ "\n\n"
  *
  * MediaTextSpec pins the law against the model path it replaces
  * (classify -> G-13 assembly -> H-13 stitch); MediaOcr.text's scaladoc
  * says why it is exact.
  *
  * Rng recurrence (MediaOcr.Rng — splitmix64 proper, distinct from the
  * hash64 absorb loop): state += 0x9E3779B97F4A7C15; z = state;
  * z = (z ^ z>>>30) * 0xBF58476D1CE4E5B9;
  * z = (z ^ z>>>27) * 0x94D049BB133111EB; out = z ^ z>>>31;
  * int(n) = floorMod(signed(out), n). Draw order per classify():
  * pageLang(4); nBlocks 1+int(3); per block nParas 1+int(2); per para
  * nLines 1+int(3); per line nTokens 2+int(6); per token word int(V),
  * conf int(50), int(5) [+ int(4) if 0]; per line int(4) [+ int(4) if
  * 0]; then int(7) [+ word int(V) if 0]; int(11).
  */
object MediaTextQ {

  // ---- the Spark queries ----

  def qExtractMediaText(s: SparkSession, dir: String): DataFrame =
    Extract.run(CorpusGen.fromDocuments(s, dir))
      .select(col("doc_id"), explode(col("span_seq")).as("sp"))
      .filter(col("sp.kind") === "media")
      .select(col("doc_id"), col("sp.order").as("span_order"),
        md5(col("sp.text").cast("binary")).as("text_md5"))

  /** pdf_layout-span TEXT under the same machine: CorpusGen renders real
    * hOCR from MediaOcr.classify("pdf://<doc>/<i>") and extraction does
    * parse -> H-13 stitch, so the round-trip (render -> parse -> stitch)
    * reproduces exactly the classify -> assembly -> stitch text the Rng
    * machine predicts — only the seed string differs from the media
    * case. SpanTextSpec pins that round-trip law on every pdf span of a
    * corpus-shaped fixture set. Reads the materialized pre-split layout
    * (like q_extract_text): the battery measures extraction, and the
    * pre-split order reconstruction gets a text-level oracle row too. */
  def qExtractPdfText(s: SparkSession, dir: String): DataFrame =
    Extract.run(Tables.preSplit(s, dir))
      .select(col("doc_id"), explode(col("span_seq")).as("sp"))
      .filter(col("sp.kind") === "pdf_layout")
      .select(col("doc_id"), col("sp.order").as("span_order"),
        md5(col("sp.text").cast("binary")).as("text_md5"))

  // ---- the DuckDB oracle: Rng stream as a recursive state machine ----

  import FlagshipQ.{floorModSql, hash64Sql, hex16Sql, mul64, C1, C2, M64s, Seed}

  /** One Rng output from the incremented state column `nstate`. */
  private def routSql: (String, String, String) = {
    val z1 = mul64("xor(nstate, nstate // 1073741824::HUGEINT)", C1) // >>> 30
    val z2 = mul64("xor(z1, z1 // 134217728::HUGEINT)", C2) // >>> 27
    val rout = "xor(z2, z2 // 2147483648::HUGEINT)" // >>> 31
    (z1, z2, rout)
  }

  /** The classify() ref for a media span ('img://<hex16(hi)>'). */
  private[queries] val mediaRefSql: String = s"'img://' || ${hex16Sql("hi")}"

  /** The classify() ref CorpusGen uses for a pdf_layout span. */
  private[queries] val pdfRefSql: String = "'pdf://' || doc_id || '/' || span_order"

  private[queries] def kindPickSql: String = floorModSql("hi", 10)

  /** The recursive-machine CTE list (no WITH keyword, no final select):
    * [[HtmlTextQ.spanCtesWithText]]'s (doc_id, text, span_order, hi)
    * chain, a `seed` CTE seeding hash64(refExpr) for the spans matching
    * `kindFilter`, and the 15-phase `machine` that consumes exactly one
    * Rng draw per step and accumulates text fragments. Callers append
    * their own final SELECT (and may reference k for kind/media_ref). */
  private[queries] def machineCtes(refExpr: String, kindFilter: String): String = {
    val (z1, z2, rout) = routSql
    def d(n: Int) = floorModSql("rout", n)
    val vocabList = MediaOcr.vocab.map(w => s"'$w'").mkString("[", ", ", "]")
    val word = s"list_extract($vocabList, CAST(${d(MediaOcr.vocab.length)} AS INT) + 1)"
    val tokEnd = s"((phase = 'TL' AND ${d(5)} <> 0) OR phase = 'TL2')"
    val lineEnd = s"((phase = 'LL' AND ${d(4)} <> 0) OR phase = 'LL2')"
    // NB draws int(3), NP int(2), NL int(3), NT int(6)
    s"""${HtmlTextQ.spanCtesWithText}, seed AS (
       |  SELECT doc_id, span_order,
       |         ${hash64Sql(refExpr)} AS st
       |  FROM k WHERE $kindFilter
       |), machine AS (
       |  SELECT doc_id, span_order, 0 AS step, st AS state, 'PL' AS phase,
       |         0 AS b_rem, 0 AS p_rem, 0 AS l_rem, 0 AS t_rem, '' AS frag
       |  FROM seed
       |  UNION ALL
       |  SELECT doc_id, span_order, step + 1, nstate,
       |    CASE
       |      WHEN phase = 'PL' THEN 'NB'
       |      WHEN phase = 'NB' THEN 'NP'
       |      WHEN phase = 'NP' THEN 'NL'
       |      WHEN phase = 'NL' THEN 'NT'
       |      WHEN phase = 'NT' THEN 'W'
       |      WHEN phase = 'W' THEN 'C'
       |      WHEN phase = 'C' THEN 'TL'
       |      WHEN phase = 'TL' AND ${d(5)} = 0 THEN 'TL2'
       |      WHEN $tokEnd AND t_rem > 1 THEN 'W'
       |      WHEN $tokEnd THEN 'LL'
       |      WHEN phase = 'LL' AND ${d(4)} = 0 THEN 'LL2'
       |      WHEN $lineEnd AND l_rem > 1 THEN 'NT'
       |      WHEN $lineEnd AND p_rem > 1 THEN 'NL'
       |      WHEN $lineEnd AND b_rem > 1 THEN 'NP'
       |      WHEN $lineEnd THEN 'E1'
       |      WHEN phase = 'E1' AND ${d(7)} = 0 THEN 'E1W'
       |      WHEN phase = 'E1' THEN 'E2'
       |      WHEN phase = 'E1W' THEN 'E2'
       |      ELSE 'DONE'
       |    END,
       |    CASE WHEN phase = 'NB' THEN CAST(1 + ${d(3)} AS INT)
       |         WHEN $lineEnd AND l_rem = 1 AND p_rem = 1 THEN b_rem - 1
       |         ELSE b_rem END,
       |    CASE WHEN phase = 'NP' THEN CAST(1 + ${d(2)} AS INT)
       |         WHEN $lineEnd AND l_rem = 1 THEN p_rem - 1
       |         ELSE p_rem END,
       |    CASE WHEN phase = 'NL' THEN CAST(1 + ${d(3)} AS INT)
       |         WHEN $lineEnd THEN l_rem - 1
       |         ELSE l_rem END,
       |    CASE WHEN phase = 'NT' THEN CAST(2 + ${d(6)} AS INT)
       |         WHEN $tokEnd THEN t_rem - 1
       |         ELSE t_rem END,
       |    CASE WHEN phase = 'W' THEN $word || ' '
       |         WHEN phase = 'E1W' THEN $word || ' ' || chr(10)
       |         WHEN $lineEnd THEN chr(10)
       |         WHEN phase = 'E2' THEN
       |           CASE WHEN ${d(11)} = 0 THEN 'orphan line ' || chr(10) ELSE '' END ||
       |           chr(10) || chr(10)
       |         ELSE '' END
       |  FROM (
       |    SELECT *, $rout AS rout FROM (
       |      SELECT *, $z2 AS z2 FROM (
       |        SELECT *, $z1 AS z1 FROM (
       |          SELECT machine.*, (state + $Seed::HUGEINT) % $M64s::HUGEINT AS nstate
       |          FROM machine WHERE phase <> 'DONE'
       |        )
       |      )
       |    )
       |  )
       |)""".stripMargin
  }

  /** md5-per-span final select shared by the media and pdf oracles. */
  private val textMd5Select: String =
    """SELECT 'doc_' || doc_id AS doc_id, span_order,
      |       md5(string_agg(frag, '' ORDER BY step)) AS text_md5
      |FROM machine
      |GROUP BY doc_id, span_order
      |ORDER BY doc_id, span_order""".stripMargin

  val oracle: String =
    s"WITH RECURSIVE ${machineCtes(mediaRefSql, s"$kindPickSql >= 7")}\n$textMd5Select"

  val pdfOracle: String =
    s"WITH RECURSIVE ${machineCtes(pdfRefSql, s"$kindPickSql >= 4 AND $kindPickSql < 7")}\n$textMd5Select"
}
