package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQ

/** The row-local MinHash kernel (`DedupQ.minhashSig`, through
  * `DedupQ.signatures`) against the formulation it replaced: a word
  * 3-gram shingle explode and 16 parallel MIN aggregates over
  * md5(j || ':' || shingle) — the shape the DuckDB oracles spell. Equal
  * (doc_id, m0..m15) rows on the real corpus and on edge-case texts. */
class MinhashSigSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The replaced batch signature: shingle explode + min aggregate. */
  private def reference(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        split(trim(lower(regexp_replace(col("text"), "\\s+", " "))), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), greatest(size(col("w")) - 3, lit(0)))).as("i"))
      .filter(col("i") <= size(col("w")) - 3)
      .select(col("doc_id"),
        concat_ws(" ", expr("w[i]"), expr("w[i+1]"), expr("w[i+2]")).as("s"))
      .select(col("doc_id") +: (0 until 16).map(j =>
        md5(concat(lit(j.toString), lit(":"), col("s")).cast("binary")).as(s"h$j")): _*)
      .groupBy(col("doc_id"))
      .agg(min(col("h0")).as("m0"), (1 until 16).map(j => min(col(s"h$j")).as(s"m$j")): _*)

  private def rows(df: DataFrame): Set[Row] =
    df.select(col("doc_id") +: (0 until 16).map(j => col(s"m$j")): _*).collect().toSet

  private val texts: Seq[(Long, String)] = Seq(
    1L -> null,
    2L -> "",
    3L -> "one",
    4L -> "two words",
    5L -> "  two \t words  ",
    6L -> "three words here",
    7L -> "tabs\tand\nnew\r\nlines\u000bvertical\fform feed",
    8L -> "runs    of     spaces   between    words",
    9L -> "  Leading AND trailing   WHITESPACE  ",
    10L -> "Straße groß STRASSE ß ẞ weiß",
    11L -> "İstanbul İZMİR istanbul ıı İ i",
    12L -> "東京 大阪 名古屋 札幌 東京 大阪",
    13L -> "emoji 🎉 party 🎉 time 👩‍👩‍👧 family 🎉",
    14L -> "a b c a b c a b c a b c",
    15L -> "same same same same same",
    16L -> "x y",
    17L -> (0 until 300).map(i => s"w${i % 37}").mkString(" "))

  test("minhashSig == shingle explode + min aggregate on the sf0.001 documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val want = rows(reference(docs))
    assert(want.size > 400)
    assert(rows(DedupQ.signatures(docs)) == want)
  }

  test("minhashSig == the reference on null, short, whitespace, non-ASCII and repeated texts") {
    import spark.implicits._
    val docs = texts.toDF("doc_id", "text")
    val want = rows(reference(docs))
    assert(rows(DedupQ.signatures(docs)) == want)
    // the reference emits no row for null, empty and 1-2 word texts;
    // the kernel returns null for them
    assert(want.map(_.getLong(0)) == texts.map(_._1).toSet -- Set(1L, 2L, 3L, 4L, 5L, 16L))
    val nulls = docs.select(col("doc_id"), DedupQ.minhashSig(col("text")).isNull)
      .collect().collect { case Row(id: Long, true) => id }.toSet
    assert(nulls == Set(1L, 2L, 3L, 4L, 5L, 16L))
    val sig = docs.filter(col("doc_id") === 6L).select(DedupQ.minhashSig(col("text")))
      .head().getSeq[String](0)
    assert(sig.size == 16 && sig.forall(_.matches("[0-9a-f]{32}")))
  }

  test("the signature plan evaluates the kernel once per row") {
    import spark.implicits._
    val plan = DedupQ.signatures(texts.toDF("doc_id", "text")).queryExecution.optimizedPlan
    val udfs = plan.collect { case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u }) }
      .flatten
    assert(udfs.size == 1, plan.toString)
  }
}
