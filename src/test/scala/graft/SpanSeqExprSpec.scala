package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, ExtractSpanSeq}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.model.{Doc, Span}
import graft.pipeline.{Extract, SpanExtract}

/** The fused span law (ExtractSpanSeq, the body of Extract.extractInRow)
  * against the formulation it replaced: `transform` over the span array
  * with a CASE that calls a ScalaUDF for the extracted kinds. Equal rows
  * and an equal schema on the generated corpus in both storage layouts
  * and on hostile frames, under whole-stage codegen and interpreted. */
class SpanSeqExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val refUdf = udf((kind: String, text: String, mediaRef: String) =>
    SpanExtract.extractSpanText(kind, text, mediaRef))

  /** The reference: the pre-fusion `transform` lambda, with its own
    * literal list of extracted kinds. */
  private def refSpanSeq(spans: Column, base: Column): Column =
    transform(spans, (s, i) => struct(
      s.getField("kind").as("kind"),
      when(s.getField("kind").isin("html", "pdf_layout", "media"),
          refUdf(s.getField("kind"), s.getField("text"), s.getField("media_ref")))
        .otherwise(s.getField("text")).as("text"),
      s.getField("media_ref").as("media_ref"),
      (base + i).as("order")))

  private def fusedSpanSeq(spans: Column, base: Column): Column =
    ColumnBridge.of(ExtractSpanSeq(ColumnBridge.expr(spans), ColumnBridge.expr(base)))

  private def refInRow(rows: DataFrame, base: Column): DataFrame =
    rows.filter(size(col("spans")) > 0)
      .select(col("doc_id"), refSpanSeq(col("spans"), base).as("span_seq"))

  private val partBase: Column = col("part_idx").cast("int") * Extract.PartSize

  private def assertSame(got: DataFrame, ref: DataFrame): Unit = {
    assert(got.schema.treeString == ref.schema.treeString)
    assert(got.schema == ref.schema)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))
    val (g, r) = (rows(got), rows(ref))
    assert(g.size == r.size)
    g.zip(r).foreach { case (a, b) => assert(a == b, s"doc ${b.getString(0)}") }
  }

  /** Extract.extractInRow, and the bare expression over every row (no
    * size filter, so NULL and empty span arrays reach it), each equal to
    * its reference. */
  private def assertLaw(rows: DataFrame, base: Column): Unit = {
    assertSame(Extract.extractInRow(rows, base), refInRow(rows, base))
    assertSame(
      rows.select(col("doc_id"), fusedSpanSeq(col("spans"), base).as("span_seq")),
      rows.select(col("doc_id"), refSpanSeq(col("spans"), base).as("span_seq")))
  }

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def corpus: DataFrame = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")

  /** The corpus plus ExtractSpec's `mp`: 2,600 media spans, three parts. */
  private def withMultiPart(base: DataFrame): DataFrame = {
    import spark.implicits._
    base.unionAll(spark.createDataset(Seq(
      Doc("mp", (0 until 2600).map(i => Span("media", "", f"img://mp/$i%d", i * 10)).toVector)
    )).toDF())
  }

  private val nonBmp = "𝔘𝔫𝔦 😀"

  /** Null spans, an empty array, a null element, null fields under every
    * extracted kind and under `text`, a null and an unknown kind,
    * non-BMP text, and a nullable part_idx (a null base). */
  private def hostile: DataFrame = {
    val span = StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("part_idx", IntegerType),
      StructField("spans", ArrayType(span, containsNull = true))))
    val html = "<div><p>" + Seq.fill(6)("words of " + nonBmp).mkString(" ") + "</p><a href='x'>nav</a></div>"
    val hocr = "<div class='ocr_page'><div class='ocr_carea'><span class='ocr_line' id='l1'>" +
      s"<span class='ocrx_word'> $nonBmp </span><span class='ocrx_word'>two</span></span></div></div>"
    val fields = for {
      kind <- Seq("html", "pdf_layout", "media", "text")
      (text, ref) <- Seq((html, "img://a1"), (null, "img://a2"), (hocr, null), (null, null),
        (if (kind == "pdf_layout") hocr else nonBmp, "img://" + nonBmp))
    } yield Row(kind, text, ref, 1)
    val rows = Seq(
      Row("a_null_spans", 0, null),
      Row("b_empty", 0, Seq.empty),
      Row("c_null_element", 0, Seq(null, Row("text", "after a null", null, 5), null)),
      Row("d_fields", 0, fields),
      Row("e_null_kind", 1, Seq(Row(null, html, "img://k", 0), Row(null, null, null, 0))),
      Row("f_unknown_kind", 2, Seq(Row("video", html, "img://v", 0), Row("HTML", html, null, 0))),
      Row("g_null_base", null, Seq(Row("html", html, null, 0), Row("media", "", "img://n", 0))),
      Row("h_null_base_null_spans", null, null))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** html and pdf_layout spans whose bytes are not valid UTF-8 (a string
    * cast from binary keeps them as they are), with non-BMP text: the
    * kernels' bytes must read as `UTF8String.toString` does (U+FFFD). */
  private def invalidUtf8: DataFrame = {
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bad = Array(0xFF, 0xC0, 0x80, 0xED, 0xA0, 0x80, 0xF0, 0x9F).map(_.toByte)
    val html = b("<div><p>") ++ bad ++ b(Seq.fill(6)("words of " + nonBmp).mkString(" ")) ++ bad ++
      b("</p><a href='x'>nav</a></div>")
    val hocr = b("<div class='ocr_page'><span class='ocr_line' id='l1'><span class='ocrx_word'>") ++ bad ++
      b(s" $nonBmp </span><span class='ocrx_word'>two") ++ bad ++ b("</span></span></div>") ++ bad
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = false), StructField("part_idx", IntegerType),
      StructField("html", BinaryType), StructField("hocr", BinaryType)))
    val rows = Seq(Row("i1", 0, html, hocr), Row("i2", 1, bad, bad ++ hocr))
    def span(kind: String, text: Column) =
      struct(lit(kind).as("kind"), text.cast("string").as("text"), lit(null).cast("string").as("media_ref"))
    spark.createDataFrame(rows.asJava, schema).select(col("doc_id"), col("part_idx"),
      array(span("html", col("html")), span("pdf_layout", col("hocr")), span("text", col("html"))).as("spans"))
  }

  /** 300 rows, largest first, whose html and pdf_layout spans each hold a
    * tag name of their own and stray end tags, and whose media refs are
    * invalid UTF-8: what one row leaves in a shared arena must not reach
    * the next. */
  private def multiRow: DataFrame = {
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bad = Array(0xFF, 0xC0, 0x80).map(_.toByte)
    val rows = (0 until 300).map { i =>
      val words = Seq.fill(300 - i)("prose").mkString(" ")
      val html = s"<div><x-$i><p>$words $nonBmp</p></b></x-$i></z$i></div>"
      val hocr = s"<div class='ocr_page'><x-$i><span class='ocr_line' id='l$i'>" +
        s"<span class='ocrx_word'>$words</span></span></x-$i></i></div>"
      Row(s"m$i", i % 3, b(html), b(hocr), b(s"img://$i") ++ bad)
    }
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = false), StructField("part_idx", IntegerType),
      StructField("html", BinaryType), StructField("hocr", BinaryType), StructField("ref", BinaryType)))
    def span(kind: String, text: Column, ref: Column) =
      struct(lit(kind).as("kind"), text.cast("string").as("text"), ref.cast("string").as("media_ref"))
    val none = lit(null).cast("string")
    spark.createDataFrame(rows.asJava, schema).select(col("doc_id"), col("part_idx"),
      array(span("html", col("html"), none), span("pdf_layout", col("hocr"), none),
        span("media", none, col("ref")), span("text", col("html"), col("ref"))).as("spans"))
  }

  /** The element struct with its fields in another order, an extra
    * field, and non-nullable kind and elements. */
  private def reordered: DataFrame = {
    val span = StructType(Seq(
      StructField("media_ref", StringType), StructField("extra", LongType),
      StructField("text", StringType), StructField("kind", StringType, nullable = false)))
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("part_idx", IntegerType, nullable = false),
      StructField("spans", ArrayType(span, containsNull = false))))
    val rows = Seq(
      Row("r1", 0, Seq(Row("img://r1", 7L, "<p>" + "prose " * 10 + "</p>", "html"),
        Row("img://r2", 8L, null, "media"), Row(null, 9L, nonBmp, "text"))),
      Row("r2", 3, Seq(Row(null, 0L, "<div class='ocr_page'>", "pdf_layout"))))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The frame as a parquet table reads it back: column vectors under
    * the projection, every field nullable. */
  private def stored(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_spanseq").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  // the frames are local relations: without this the optimizer folds the
  // projection into the relation, and neither evaluation mode runs
  private val noLocalFold =
    "spark.sql.optimizer.excludedRules" -> "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  private val modes = Seq(
    // a broken doGenCode must fail here, not fall back to eval()
    "whole-stage codegen" -> Seq("spark.sql.codegen.fallback" -> "false", noLocalFold),
    "interpreted" -> Seq(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false", noLocalFold))

  modes.foreach { case (mode, confs) =>
    test(s"sf0.001 single-row layout == transform+udf reference ($mode)") {
      withConfs(confs: _*) { assertLaw(corpus, lit(0)) }
    }

    test(s"sf0.001 pre-split layout with a multi-part doc == transform+udf reference ($mode)") {
      withConfs(confs: _*) {
        val pre = CorpusGen.preSplit(withMultiPart(corpus))
        assert(pre.filter("doc_id = 'mp'").count() == 3)
        assertLaw(pre, partBase)
      }
    }

    test(s"hostile frame: nulls, unknown kinds, non-BMP, null base == reference ($mode)") {
      withConfs(confs: _*) {
        assertLaw(hostile, partBase)
        assertLaw(stored(hostile), partBase)
        // the frame exercises what it claims: a null element keeps its
        // order, a null base nulls every order
        val got = Extract.extractInRow(hostile, partBase).collect()
          .map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
        assert(got("c_null_element").map(_.toSeq) ==
          Seq(Seq(null, null, null, 0), Seq("text", "after a null", null, 1), Seq(null, null, null, 2)))
        assert(got("g_null_base").forall(_.isNullAt(3)))
        assert(got("e_null_kind").map(_.getString(1)).head.contains("<p>"))
        assert(!got.contains("a_null_spans") && !got.contains("b_empty"))
      }
    }

    test(s"invalid UTF-8 and non-BMP html and pdf_layout spans == reference ($mode)") {
      withConfs(confs: _*) {
        assertLaw(invalidUtf8, partBase)
        assertLaw(stored(invalidUtf8), partBase)
        val got = Extract.extractInRow(invalidUtf8, partBase).collect()
          .map(r => r.getString(0) -> r.getSeq[Row](1).map(_.getString(1))).toMap
        assert(got("i1")(0).contains("\uFFFD") && got("i1")(0).contains(nonBmp), got("i1")(0))
        assert(got("i1")(1).contains("\uFFFD") && got("i1")(1).contains(nonBmp), got("i1")(1))
      }
    }

    test(s"multi-row partitions, largest row first, one arena per partition == reference ($mode)") {
      withConfs(confs: _*) {
        val corpusRows = corpus.orderBy(size(col("spans")).desc).coalesce(1)
        val hostileRows = multiRow.coalesce(1)
        Seq(corpusRows, hostileRows, stored(multiRow).coalesce(1)).foreach(df => assert(df.rdd.getNumPartitions == 1))
        assertLaw(corpusRows, lit(0))
        assertLaw(hostileRows, partBase)
        assertLaw(stored(multiRow).coalesce(1), partBase)
        // the generated class holds the arena, made once per partition
        val code = Extract.extractInRow(hostileRows, partBase).queryExecution.debug.codegenToSeq().map(_._2)
        if (mode == "interpreted") assert(code.isEmpty)
        else assert(code.exists(_.contains("new graft.html.Arena()")), code.mkString("\n"))
      }
    }

    test(s"element fields in another order, with an extra field == reference ($mode)") {
      withConfs(confs: _*) {
        assertLaw(reordered, partBase)
        assertLaw(stored(reordered), partBase)
      }
    }
  }
}
