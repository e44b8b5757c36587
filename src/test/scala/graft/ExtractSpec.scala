package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.model.{Doc, Span}
import graft.pipeline.{Extract, SpanExtract}

class ExtractSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions._
    df.select(col("doc_id"), to_json(col("span_seq")).as("j"))
      .collect().map(r => r.getString(0) + "" + r.getString(1)).sorted.toSeq
  }

  test("distributed == sequential: pipeline output matches per-doc library result") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      CorpusGen.genDoc(id, s"some words for doc $id repeated " * 8)
    }
    val input = spark.createDataset(docs).toDF()
    val got = Extract.run(input, spreadThreshold = 4) // force both paths
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().toMap
    docs.foreach { d =>
      val expected = d.spans.zipWithIndex.map { case (s, i) =>
        (s.kind, SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, i)
      }
      assert(got(d.doc_id) == expected, s"doc ${d.doc_id}")
    }
  }

  test("spread path == narrow path (threshold extremes give identical output)") {
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val allNarrow = canon(Extract.run(input, spreadThreshold = Int.MaxValue))
    val allSpread = canon(Extract.run(input, spreadThreshold = 0))
    assert(allNarrow == allSpread)
    assert(allNarrow.nonEmpty)
  }

  test("pre-split storage layout == single-row layout (incl. multi-part mega doc)") {
    import spark.implicits._
    // sf0.001 corpus (mixed small + >256-span mega docs) plus one doc
    // large enough to span multiple PartSize=1024 chunks
    val base = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val multiPart = spark.createDataset(Seq(
      Doc("mp", (0 until 2600).map(i => Span("media", "", f"img://mp/$i%d", i * 10)).toVector)
    )).toDF()
    val input = base.unionAll(multiPart)
    val pre = CorpusGen.preSplit(input)
    // sanity: the 2600-span doc really is chunked
    assert(pre.filter("doc_id = 'mp'").count() == 3)
    assert(Extract.run(pre).schema == Extract.run(input).schema)
    assert(canon(Extract.run(pre)) == canon(Extract.run(input)))
    // and through the mega path for everything
    assert(canon(Extract.run(pre, spreadThreshold = 0)) ==
      canon(Extract.run(input, spreadThreshold = 0)))
    // no spread at all: a multi-part doc is still one doc, so only a
    // single-part doc (n_spans <= min(threshold, PartSize)) may stitch
    // inside its row — mp must come back as ONE row of all its spans
    val unspread = canon(Extract.run(pre, spreadThreshold = Int.MaxValue))
    assert(unspread == canon(Extract.run(input, spreadThreshold = Int.MaxValue)))
    val mp = Extract.run(pre, spreadThreshold = Int.MaxValue).filter("doc_id = 'mp'")
      .selectExpr("size(span_seq)", "transform(span_seq, s -> s.order)")
      .as[(Int, Seq[Int])].collect()
    assert(mp.toSeq == Seq((2600, 0 until 2600)))
  }

  /** Shuffle exchanges of the final (post-AQE) plan of an executed job. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
  }

  test("small docs stitch in their row: only the skew path shuffles, both layouts") {
    // sf0.001 has docs on both sides of the default threshold: the skew
    // path's two exchanges per layout, and none for docs that arrive
    // whole in one row
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    assert(exchanges(Extract.run(input)) == 2)
    assert(exchanges(Extract.run(CorpusGen.preSplit(input))) == 2)
  }

  test("hostile spans: malformed html/hOCR, empty docs, weird kinds survive") {
    import spark.implicits._
    val hostile = Seq(
      Doc("h1", Seq(
        Span("html", "<div><<<<not html & &bogus; <a href=", "", 0),
        Span("pdf_layout", "this is not hOCR at all", "", 10),
        Span("pdf_layout", "<div class='ocr_page'", "", 20),
        Span("media", "", "img://", 30),
        Span("unknown_kind", "passthrough", "", 40),
        Span("html", "", "", 50))),
      Doc("h2", Seq.empty),
      Doc("h3", Seq(Span("html", "<p>" + ("x" * 100000) + "</p>", "", 0))))
    val out = Extract.run(spark.createDataset(hostile).toDF())
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().toMap
    assert(out("h1").length == 6)
    assert(out("h1").map(_._4) == (0 until 6))
    // unparseable hOCR (no ocr_page) -> "" (reference: errors swallowed)
    assert(out("h1")(1)._2 == "")
    assert(out("h1")(4)._2 == "passthrough") // unknown kinds pass through
    // empty-spans doc: no spans -> no row. The in-row stitch filters it
    // explicitly, matching the exploded stitch (nothing to group), and
    // the streaming path shares that filter
    assert(!out.contains("h2"))
    assert(out("h3").head._2.length == 100000)
  }

  test("media classification is deterministic and ref-dependent") {
    val a = SpanExtract.extractSpanText("media", "", "img://abc")
    val b = SpanExtract.extractSpanText("media", "", "img://abc")
    val c = SpanExtract.extractSpanText("media", "", "img://abd")
    assert(a == b)
    assert(a != c)
    assert(a.nonEmpty)
  }
}
