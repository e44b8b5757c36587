package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen

/** The materialized pre-split layout is keyed on its documents table's
  * files: when another job rewrites the table under the same directory,
  * the next call must build a fresh layout from the new table, not serve
  * the one built from the first read, and the superseded layout leaves
  * /tmp. */
class StalePreSplitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a rewritten documents table gets a fresh pre-split layout; the stale one is deleted") {
    val dir = Files.createTempDirectory("stale_presplit").toString
    val table = s"$dir/documents.parquet"
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.write.parquet(table)
    def docIds(path: String): Set[String] =
      spark.read.parquet(path).select("doc_id").distinct().collect().map(_.getString(0)).toSet

    val first = CorpusGen.materializedPreSplit(spark, dir)
    assert(CorpusGen.materializedPreSplit(spark, dir) == first, "an unchanged table reuses its layout")
    val before = docIds(first)

    // rewrite the table as another job would: written elsewhere, the old
    // directory deleted, the new one moved in
    val planted = src.orderBy("doc_id").limit(3).withColumn("doc_id", col("doc_id") + 9000000L)
    val staged = Files.createTempDirectory("stale_presplit_new").resolve("documents.parquet")
    src.unionByName(planted).write.parquet(staged.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
    Files.move(staged, Paths.get(table))

    val second = CorpusGen.materializedPreSplit(spark, dir)
    val after = docIds(second)
    val ids = planted.select("doc_id").collect().map(r => s"doc_${r.getLong(0)}").toSet
    assert(ids.size == 3 && ids.forall(id => !before.contains(id)))
    assert(ids.subsetOf(after), "the layout was built from the replaced table")
    assert(after -- ids == before)
    assert(second != first && !Files.exists(Paths.get(first)), "the superseded layout must be deleted")
  }
}
