package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.IndexQ

/** Semantic laws for the indexing/tokenizer batch (exact values pinned by
  * the DuckDB oracles at sf0.01 and sf0.1; these pin the PROPERTIES,
  * each against an independent in-memory brute force at sf0.001). */
class IndexQSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def normWords(t: String): Array[String] =
    t.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT).trim
      .split(" ").filter(_.nonEmpty)

  private lazy val corpusWords: Seq[Array[String]] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().map(r => normWords(r.getString(0))).toSeq

  test("q_inverted_index: df threshold, sorted bounded postings, tf mass") {
    val rows = IndexQ.qInvertedIndex(spark, dir).collect()
      .sortBy(r => (-r.getLong(1), r.getString(0)))
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.nonEmpty)
    // independent brute force for one term: per-doc tf and df
    val probe = rows.head.getString(0)
    val perDoc = corpusWords.map(_.count(_ == probe)).filter(_ > 0)
    assert(rows.head.getLong(1) === perDoc.size.toLong)      // df
    assert(rows.head.getLong(2) === perDoc.sum.toLong)       // tf_total
    rows.foreach { r =>
      assert(r.getLong(1) * 20 >= nDocs, s"df threshold violated for ${r.getString(0)}")
      val posting = r.getString(3).split(",").map(_.toLong)
      assert(posting.length <= IndexQ.PostingHead)
      assert(posting.sameElements(posting.sorted), "postings_head must be ascending")
      assert(r.getLong(2) >= r.getLong(1), "tf_total >= df")
    }
  }

  test("q_scd2: per-user intervals chain exactly (valid_to = next valid_from), one current") {
    val rows = IndexQ.qScd2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, vs) =>
      val s = vs.sortBy(_._2)
      assert(s.map(_._2).sameElements(1L to s.length), s"versions not contiguous for user $u")
      s.sliding(2).foreach {
        case Array((_, _, t1, _, to1, _), (_, _, t2, from2, _, _)) =>
          assert(to1.contains(from2), s"interval gap for user $u")
          assert(t1 != t2, s"consecutive duplicate type not collapsed for user $u")
        case _ =>
      }
      assert(s.count(_._6) === 1, s"user $u must have exactly one current row")
      assert(s.last._5.isEmpty, "the current row is the last version")
    }
  }

  test("q_vocab_coverage: ranks monotone in threshold; brute-force check") {
    val rows = IndexQ.qVocabCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._1).sameElements(IndexQ.CoverageThresholds.map(_.toLong)))
    assert(rows.map(_._2).sameElements(rows.map(_._2).sorted), "vocab_rank monotone")
    // brute force: rank terms by (count desc, term asc), find min rank per threshold
    val counts = corpusWords.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ranked = counts.toSeq.sortBy { case (t, n) => (-n, t) }
    val total = counts.values.sum
    assert(rows.head._3 === total)
    assert(rows.head._4 === counts.size.toLong)
    var cum = 0L
    val cums = ranked.map { case (_, n) => cum += n; cum }
    rows.foreach { case (t, rk, _, _) =>
      val expect = cums.indexWhere(c => c * 100 >= t * total) + 1
      assert(rk === expect.toLong, s"threshold $t")
    }
  }

  test("q_bpe_merges: round-1 argmax matches brute force; merge shrinks symbol mass") {
    val rows = IndexQ.qBpeMerges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.length === IndexQ.BpeRounds)
    // brute-force round 1: adjacent char-pair counts weighted by word freq
    val wordFreq = corpusWords.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    wordFreq.foreach { case (w, f) =>
      w.toSeq.sliding(2).filter(_.length == 2).foreach { p =>
        pairCnt(s"${p(0)} ${p(1)}") += f
      }
    }
    val (bp, bc) = pairCnt.toSeq.sortBy { case (p, c) => (-c, p) }.head
    assert(rows.head._2 === bp)
    assert(rows.head._4 === bc)
    assert(rows.head._3 === bp.replace(" ", ""))
    // each merge strictly reduces the distinct-pair universe or keeps it
    // within 1 of the previous round (the merged pair disappears; new
    // pairs around the merged symbol appear)
    assert(rows.forall(_._4 > 0))
    assert(rows.map(_._2).distinct.length === IndexQ.BpeRounds, "a pair must not win twice")
  }

  test("q_bpe_encode: per-doc token counts match an independently trained+applied brute force") {
    // brute-force trainer: same argmax law (cnt desc, pair asc), same
    // two-pass padded-replace application (the engines' pinned merge law)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), normWords(r.getString(1))))
    val wordFreq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    var syms: Map[String, String] =
      wordFreq.keys.map(w => w -> w.split("").mkString(" ")).toMap
    (1 to IndexQ.BpeRounds).foreach { _ =>
      val pairCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      syms.foreach { case (w, s) =>
        val a = s.split(" ")
        if (a.length >= 2) a.sliding(2).foreach(p => pairCnt(s"${p(0)} ${p(1)}") += wordFreq(w))
      }
      val bp = pairCnt.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
      val merged = bp.replace(" ", "")
      syms = syms.view.mapValues { s =>
        (s" $s " : String).replace(s" $bp ", s" $merged ").replace(s" $bp ", s" $merged ").trim
      }.toMap
    }
    val nSyms: Map[String, Long] = syms.view.mapValues(_.split(" ").length.toLong).toMap
    val expect: Map[Long, (Long, Long, Long)] = docs
      .filter(_._2.nonEmpty)
      .map { case (id, ws) =>
        id -> ((ws.length.toLong, ws.map(_.length.toLong).sum, ws.map(nSyms).sum))
      }.toMap

    val got = IndexQ.qBpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === expect.size)
    got.foreach { case (id, nw, nc, nt) =>
      val (ew, ec, et) = expect(id)
      assert(nw === ew, s"doc $id n_words")
      assert(nc === ec, s"doc $id n_chars")
      assert(nt === et, s"doc $id n_tokens")
      assert(nt >= nw && nt <= nc, s"doc $id token-count bounds")
    }
    // non-vacuous: the merges must have fired somewhere
    assert(got.exists { case (_, _, nc, nt) => nt < nc }, "no merge ever applied")
  }

  test("q_tokenizer_fertility: per-lang rows are the lang-grouped sums of q_bpe_encode") {
    // cross-query consistency: both run the same trained vocab, so the
    // per-lang aggregates must equal q_bpe_encode's per-doc counts
    // grouped by the document's language
    val docLang = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = IndexQ.qBpeEncode(spark, dir).collect()
      .map(r => (docLang(r.getLong(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = perDoc.groupBy(_._1).view.mapValues { g =>
      (g.map(_._2).sum, g.map(_._3).sum, g.map(_._4).sum)
    }.toMap
    val got = IndexQ.qTokenizerFertility(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet == expect.keySet)
    got.foreach { r =>
      val (lang, nw, nc, nt) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert((nw, nc, nt) == expect(lang), s"lang $lang aggregates")
      // fertility is exact integer basis points with its documented bounds:
      // every word is at least one token, no word outgrows its chars
      assert(r.getLong(4) == 10000L * nt / nw && r.getLong(4) >= 10000L, s"lang $lang fertility")
      assert(r.getLong(5) == 100L * nc / nt, s"lang $lang compression")
    }
  }
}
