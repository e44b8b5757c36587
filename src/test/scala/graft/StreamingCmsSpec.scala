package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CorpusQ, MiningQ}
import graft.streaming.StreamingOps

/** Streaming Count-Min sketch == batch sketch over the same data,
  * cross-micro-batch: the cell table a long-running feed maintains must
  * be bit-identical to the batch q_cms_heavy cell build (shared kernel),
  * its state bounded by the sketch dimensions, and its estimates
  * one-sided (never below the exact count). */
class StreamingCmsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs: Seq[(Long, String)] = {
    // planted heavy bigram "hot pair" + a long tail of singletons
    val heavy = (0 until 30).map(i => (100L + i, "hot pair filler" + i))
    val tail = (0 until 40).map(i => (200L + i, s"tok$i tok${i + 1} tok${i + 2}"))
    heavy ++ tail
  }

  test("streaming CMS cells == batch cells across micro-batches; state bounded; error one-sided") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val source = MemoryStream[(Long, String)]
    val stream = source.toDF().toDF("doc_id", "text")
    val q = StreamingOps.cmsStream(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_cells").start()
    source.addData(docs.take(25): _*)
    q.processAllAvailable()
    source.addData(docs.drop(25): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("cms_cells")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = StreamingOps.cmsStream(docs.toDF("doc_id", "text")) // same code path, batch df
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

    assert(streamed == batch, "streaming cells must equal the batch sketch")
    assert(streamed.nonEmpty)
    // bounded state: never more keys than the sketch has cells
    assert(streamed.size <= MiningQ.CmsDepth * MiningQ.CmsWidth)

    // one-sided error on the planted heavy hitter: estimate >= exact
    val exact = MiningQ.cmsBigrams(docs.toDF("doc_id", "text"))
      .filter(col("b") === "hot pair").count()
    assert(exact == 30L)
    val est = Seq(Tuple1("hot pair")).toDF("b")
      .select(posexplode(MiningQ.cmsCellArray).as(Seq("j", "cell")))
      .collect().map(r => streamed((r.getInt(0), r.getLong(1)))).min
    assert(est >= exact, s"CMS estimate $est must never undercount exact $exact")
  }

  test("streaming HLL registers == batch across micro-batches; state bounded by sources x 32") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = (0 until 80).map(i => (s"src${i % 3}", s"text body number $i"))
    val source = MemoryStream[(String, String)]
    val stream = source.toDF().toDF("source", "text")
    val q = StreamingOps.hllStream(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_regs").start()
    source.addData(docs.take(30): _*)
    q.processAllAvailable()
    source.addData(docs.drop(30): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hll_regs")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val batch = StreamingOps.hllStream(docs.toDF("source", "text"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamed == batch, "streaming registers must equal the batch sketch")
    // and the registers of q_approx_distinct's own kernel on the same docs
    val kernel = CorpusQ.hllRegistersExact(docs.toDF("source", "text"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamed == kernel, "streaming registers must equal q_approx_distinct's registers")
    assert(streamed.nonEmpty)
    assert(streamed.size <= 3 * 32)
  }
}
