package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQ, QCache}

/** The MinHash signature memo is keyed on the documents table's files:
  * when another job rewrites the table under the same directory, the
  * next LSH query must sign the new table, not serve the cached
  * signatures of the first read, and the superseded memo must leave the
  * session. */
class StaleMemoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def memoViews(): Long = spark.catalog.listTables()
    .filter(t => t.isTemporary && t.name.startsWith("graft_minhash_sig_")).count()

  test("a rewritten documents table is re-signed; the superseded memo is dropped") {
    val dir = Files.createTempDirectory("stale_memo").toString
    val table = s"$dir/documents.parquet"
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.write.parquet(table)
    def pairs(): Set[(Long, Long)] = {
      val out = DedupQ.qMinhashLsh(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      QCache.releaseScoped(blocking = true)
      out
    }
    val before = pairs()
    val views = memoViews()

    // two consecutive ids, re-numbered, whose texts differ only in
    // whitespace: equal signatures, so a certain candidate pair
    val words = (0 until 40).map(i => s"planted$i").mkString(" ")
    val planted = src.orderBy("doc_id").limit(2)
      .withColumn("text", concat(lit(words), when(col("doc_id") % 2 === 0, lit("  ")).otherwise(lit(""))))
      .withColumn("doc_id", col("doc_id") + 9000000L)
    val ids = planted.select("doc_id").collect().map(_.getLong(0)).sorted
    // rewrite the table as another job would: a Spark write from this
    // session would refresh the session's caches of the path itself
    val staged = Files.createTempDirectory("stale_memo_new").resolve("documents.parquet")
    src.unionByName(planted).write.parquet(staged.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
    Files.move(staged, java.nio.file.Paths.get(table))

    val after = pairs()
    val pair = (ids(0), ids(1))
    assert(!before.contains(pair))
    assert(after.contains(pair), "the LSH query read the signatures of the replaced table")
    assert(after - pair == before)
    assert(memoViews() == views, "the superseded memo view must be dropped")
  }
}
