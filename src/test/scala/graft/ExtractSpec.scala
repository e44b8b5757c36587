package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction, ScalaUDF}
import org.apache.spark.sql.graft.ExtractSpanSeq
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

  /** `base` plus `mp`, a 2,600-span doc that spans three PartSize=1024
    * parts (every sf0.001 doc, >256-span ones included, fits one part). */
  private def withMultiPart(base: DataFrame): DataFrame = {
    import spark.implicits._
    base.unionAll(spark.createDataset(Seq(
      Doc("mp", (0 until 2600).map(i => Span("media", "", f"img://mp/$i%d", i * 10)).toVector)
    )).toDF())
  }

  private def mpRows(out: DataFrame): Seq[(Int, Seq[Int])] = {
    import spark.implicits._
    out.filter("doc_id = 'mp'")
      .selectExpr("size(span_seq)", "transform(span_seq, s -> s.order)")
      .as[(Int, Seq[Int])].collect().toSeq
  }

  /** Shuffle exchanges of the final (post-AQE) plan of an executed job. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
  }

  test("distributed == sequential: pipeline output matches per-doc library result") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      CorpusGen.genDoc(id, s"some words for doc $id repeated " * 8)
    }
    val input = spark.createDataset(docs).toDF()
    val got = Extract.run(input)
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().toMap
    docs.foreach { d =>
      val expected = d.spans.zipWithIndex.map { case (s, i) =>
        (s.kind, SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, i)
      }
      assert(got(d.doc_id) == expected, s"doc ${d.doc_id}")
    }
  }

  test("single-row layout: a 2,600-span doc is one row, no shuffle") {
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val out = Extract.run(withMultiPart(input))
    assert(exchanges(out) == 0)
    assert(mpRows(out) == Seq((2600, 0 until 2600)))
  }

  test("pre-split storage layout == single-row layout (incl. multi-part mega doc)") {
    val base = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val input = withMultiPart(base)
    val pre = CorpusGen.preSplit(input)
    // sanity: the 2600-span doc really is chunked
    assert(pre.filter("doc_id = 'mp'").count() == 3)
    assert(Extract.run(pre).schema == Extract.run(input).schema)
    assert(canon(Extract.run(pre)) == canon(Extract.run(input)))
    // a multi-part doc is still one doc: its parts merge into ONE row of
    // all its spans in global order
    assert(mpRows(Extract.run(pre)) == Seq((2600, 0 until 2600)))
    // one row per span, global order on both layouts
    def spans(df: DataFrame): Seq[String] =
      Extract.extractSpans(df).collect().map(_.toString).sorted.toSeq
    assert(spans(pre) == spans(input))
    assert(spans(input).size ==
      Extract.run(input).selectExpr("sum(size(span_seq))").head().getLong(0))
  }

  test("exchanges: single-row 0, pre-split 1 with a multi-part doc") {
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    assert(exchanges(Extract.run(input)) == 0)
    // every sf0.001 doc fits one part: the merge branch is empty
    assert(exchanges(Extract.run(CorpusGen.preSplit(input))) == 0)
    // mp's three parts meet in the one merge exchange
    assert(exchanges(Extract.run(CorpusGen.preSplit(withMultiPart(input)))) == 1)
    // per-span extraction never shuffles, on either layout
    assert(exchanges(Extract.extractSpans(withMultiPart(input))) == 0)
    assert(exchanges(Extract.extractSpans(CorpusGen.preSplit(withMultiPart(input)))) == 0)
  }

  test("executed plans: one extract_span_seq per branch, in whole-stage codegen, no lambda, no ScalaUDF") {
    val input = withMultiPart(CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001"))
    // stored parts, as the resumable sink reads them: the plan holds only
    // Extract's expressions, not preSplit's
    val pre = CorpusGen.preSplit(input).localCheckpoint()
    Seq("run single-row" -> Extract.run(input), "run pre-split" -> Extract.run(pre),
        "extractSpans single-row" -> Extract.extractSpans(input),
        "extractSpans pre-split" -> Extract.extractSpans(pre)).foreach { case (what, df) =>
      df.collect()
      val exprs = collect(df.queryExecution.executedPlan)(_.expressions).flatten.flatMap(_.collect {
        case e @ (_: ArrayTransform | _: LambdaFunction | _: ScalaUDF | _: ExtractSpanSeq) => e
      })
      assert(!exprs.exists(!_.isInstanceOf[ExtractSpanSeq]), s"$what: ${exprs.mkString(", ")}")
      // the pre-split run extracts in both of its union branches
      assert(exprs.size == (if (what == "run pre-split") 2 else 1), s"$what: ${exprs.mkString(", ")}")
      // an operator inside a whole-stage-codegen stage prints as *(n)
      val holders = stripAQEPlan(df.queryExecution.executedPlan).toString.split("\n")
        .filter(_.contains("extract_span_seq")).map(_.dropWhile(" :+-".contains(_)))
      assert(holders.nonEmpty && holders.forall(_.startsWith("*(")), s"$what: ${holders.mkString("; ")}")
    }
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
