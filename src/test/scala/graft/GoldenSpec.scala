package graft

import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Golden
import graft.pipeline.Extract

/** The north-rule correctness gate: span-sequence equality
  * (kind, text, media_ref, order) per doc against the FROZEN golden
  * fixture (src/test/resources/golden/extract.jsonl). */
class GoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def frozen: Seq[String] = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/golden/extract.jsonl"), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("library (sequential) output matches the frozen golden fixture") {
    val current = Golden.expectedJsonl.split("\n").toSeq
    assert(current == frozen,
      "extraction semantics drifted from the frozen golden fixture — if " +
      "intentional, regenerate via `runMain graft.fixtures.GoldenGen` and review the diff")
  }

  test("distributed pipeline output matches the frozen golden fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = spark.createDataset(Golden.corpus.toVector).toDF()
    val got = Extract.run(input)
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().map(r => r._1 -> r._2).toMap
    // pipeline output must equal the sequential library output, which
    // the previous test pinned to the frozen fixture — transitively the
    // pipeline is pinned to the fixture
    Golden.corpus.filter(_.spans.nonEmpty).foreach { d =>
      val expectedSpans = d.spans.zipWithIndex.map { case (s, i) =>
        (s.kind, graft.pipeline.SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, i)
      }
      assert(got(d.doc_id) == expectedSpans, s"doc ${d.doc_id}")
    }
    // the empty-TEXT html span extracts to "" but keeps its slot
    assert(got("edge_empty") == Seq(("html", "", "", 0)))
  }

  test("golden corpus carries non-BMP media text through the distributed path") {
    import spark.implicits._
    // the MediaOcr vocab contains a plane-1 word (surrogate pairs in
    // UTF-16), so codepoint-anchor slips (G-6) can't hide behind ASCII:
    // the frozen fixture must contain it, and the distributed extraction
    // must reproduce it byte-identically
    assert(frozen.exists(_.contains("𝔤𝔯𝔞𝔣𝔱")), "fixture lost the non-BMP vocab word")
    val withNonBmp = Golden.corpus.filter(_.spans.exists { sp =>
      graft.pipeline.SpanExtract.extractSpanText(sp.kind, sp.text, sp.media_ref).contains("𝔤𝔯𝔞𝔣𝔱")
    })
    assert(withNonBmp.nonEmpty)
    val input = spark.createDataset(withNonBmp.toVector).toDF()
    val got = graft.pipeline.Extract.run(input)
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().map(r => r._1 -> r._2).toMap
    withNonBmp.foreach { d =>
      val expected = d.spans.zipWithIndex.map { case (s, i) =>
        (s.kind, graft.pipeline.SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, i)
      }
      assert(got(d.doc_id) == expected, s"non-BMP doc ${d.doc_id} corrupted in flight")
    }
  }

  test("edge fixture pins the reference branch behaviors") {
    val out = Golden.corpus.find(_.doc_id == "edge_hocr").get.spans.head
    val text = graft.pipeline.SpanExtract.extractSpanText(out.kind, out.text, out.media_ref)
    // H-13 order: area paras (dup line once), area direct lines (empty-ID
    // collide -> first only), area direct words, page paras, page lines
    // the second line with the DUPLICATE id "l1" is skipped entirely
    // (dedup-by-ID, helpers.go:29-34) and the second empty-ID line
    // collides with the first (helpers.go:100-102)
    assert(text ==
      "emoji😀word zero \nemptyid1 \nareaword \nparaword \npageline \n\n\n")
  }
}
