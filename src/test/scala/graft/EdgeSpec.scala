package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.html.HtmlDom
import graft.layout._
import graft.text.GoStrings

class EdgeSpec extends AnyFunSuite {

  test("goF0/goFloat negatives (half-even is sign-symmetric)") {
    assert(GoStrings.goF0(-98.5) == "-98")
    assert(GoStrings.goF0(-99.5) == "-100")
    assert(GoStrings.goFloat(-0.5) == "-0.5")
    assert(GoStrings.goFloat(-1e21) == "-1e+21")
  }

  test("HtmlDom: valueless attributes, duplicate attrs (first wins), deep nesting") {
    val dom = HtmlDom.parse("<input disabled class='a' class='b'>")
    val input = dom.children.head
    assert(input.attr("disabled") == "")
    assert(input.attrs.exists(_._1 == "disabled"))
    assert(input.attr("class") == "a") // getAttrVal returns the first match
    // mismatched close pops to the right ancestor
    val dom2 = HtmlDom.parse("<div><span><b>x</div>y")
    assert(dom2.children.head.isElem("div"))
    assert(dom2.children.exists(_.nodeType == HtmlDom.TextNode))
  }

  test("multi-segment text anchors concatenate slices (text.go:26-39)") {
    val idx = new RuneIndex("hello wide world")
    val layout = Some(LLayout(Vector(TextSegment(0, 5), TextSegment(11, 16)), 1f, Vector.empty))
    assert(Anchors.textFromLayout(layout, idx) == "helloworld")
    // out-of-range segments clamp per segment
    val wild = Some(LLayout(Vector(TextSegment(-5, 2), TextSegment(90, 99)), 1f, Vector.empty))
    assert(Anchors.textFromLayout(wild, idx) == "he")
  }

  test("containment with zero-length and inverted parent ranges") {
    val kids = Vector(LLine(Some(LLayout(Vector(TextSegment(5, 5)), 1f, Vector.empty))))
    val idx = new ContainmentIndex[LLine](kids, _.layout)
    // zero-length child inside [5,5] parent: 5>=5 && 5<=5 -> contained
    assert(idx.containedIn(Some(LLayout(Vector(TextSegment(5, 5)), 1f, Vector.empty))).nonEmpty)
    assert(idx.containedIn(Some(LLayout(Vector(TextSegment(6, 4)), 1f, Vector.empty))).isEmpty)
  }

  test("CorpusGen is deterministic and mega-rule fires on 251 multiples") {
    val a = graft.fixtures.CorpusGen.genDoc(7L, "alpha beta gamma delta " * 20)
    val b = graft.fixtures.CorpusGen.genDoc(7L, "alpha beta gamma delta " * 20)
    assert(a == b)
    val mega = graft.fixtures.CorpusGen.genDoc(251L, "x " * 50)
    assert(mega.spans.length >= 256)
    // offsets strictly increasing (input_hint invariant)
    assert(a.spans.map(_.offset) == a.spans.map(_.offset).sorted)
    assert(a.spans.map(_.offset).distinct.length == a.spans.length)
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("multimodal binary columns survive a parquet round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    val t = graft.multimodal.Multimodal.genTable(spark, 30)
    t.write.mode("overwrite").parquet(dir)
    import spark.implicits._
    val back = spark.read.parquet(dir).as[graft.multimodal.Multimodal.MediaRow]
    val a = graft.multimodal.Multimodal.featurize(t).collect().sortBy(_.media_id)
    val b = graft.multimodal.Multimodal.featurize(back).collect().sortBy(_.media_id)
    assert(a.map(_.features.toSeq).toSeq == b.map(_.features.toSeq).toSeq)
    assert(a.map(_.n_bytes).toSeq == b.map(_.n_bytes).toSeq)
  }

  test("ResumableExtract lineage is append-only and idempotent on full rerun") {
    val stage = java.nio.file.Files.createTempDirectory("graft_stage2").toString
    val out = java.nio.file.Files.createTempDirectory("graft_resume2").toString
    val input = graft.fixtures.CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    graft.resume.ResumableExtract.stageByBucket(spark, input, stage, buckets = 4)
    graft.resume.ResumableExtract.runStaged(spark, stage, out, buckets = 4, waveSize = 2, attempt = "x1")
    val n1 = spark.read.parquet(graft.resume.ResumableExtract.lineageDir(out)).count()
    // second full run: everything already committed -> no new lineage rows
    graft.resume.ResumableExtract.runStaged(spark, stage, out, buckets = 4, waveSize = 2, attempt = "x2")
    val n2 = spark.read.parquet(graft.resume.ResumableExtract.lineageDir(out)).count()
    assert(n1 == 4 && n2 == 4)
  }
}
