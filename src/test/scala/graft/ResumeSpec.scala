package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.pipeline.Extract
import graft.resume.ResumableExtract

class ResumeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("kill after k waves, resume -> identical output, zero re-extraction") {
    import org.apache.spark.sql.functions._
    val stage = Files.createTempDirectory("graft_resume_stage").toString
    val out = Files.createTempDirectory("graft_resume").toString
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    ResumableExtract.stageByBucket(spark, input, stage, buckets = 16)

    // attempt 1: dies after 2 of 4 waves
    intercept[RuntimeException] {
      ResumableExtract.runStaged(spark, stage, out, buckets = 16, waveSize = 4,
        attempt = "a1", failAfterWaves = 2)
    }
    val lineage1 = spark.read.parquet(ResumableExtract.lineageDir(out))
    val done1 = ResumableExtract.completedBuckets(spark, out)
    assert(done1.size == 8) // 2 waves x 4 buckets

    // attempt 2: resumes, completes
    ResumableExtract.runStaged(spark, stage, out, buckets = 16, waveSize = 4, attempt = "a2")
    val lineage2 = spark.read.parquet(ResumableExtract.lineageDir(out))
    assert(ResumableExtract.completedBuckets(spark, out).size == 16)
    // buckets committed in attempt 1 were NOT re-extracted: still exactly
    // one lineage row each, attributed to a1
    val byBucket = lineage2.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBucket.values.forall(_ == 1L))
    val a1Buckets = lineage2.filter(col("attempt") === "a1")
      .select("bucket").collect().map(_.getInt(0)).toSet
    assert(a1Buckets == done1)

    // final output == direct single-shot run
    val resumed = spark.read.parquet(ResumableExtract.dataDir(out))
      .select(col("doc_id"), to_json(col("span_seq")).as("j"))
      .collect().map(r => r.getString(0) + "|" + r.getString(1)).sorted.toSeq
    val direct = Extract.run(input)
      .select(col("doc_id"), to_json(col("span_seq")).as("j"))
      .collect().map(r => r.getString(0) + "|" + r.getString(1)).sorted.toSeq
    assert(resumed == direct)
    assert(resumed.size == 500)
  }

  test("staged path: waves partition-prune the bucketed input; kill+resume identical") {
    import org.apache.spark.sql.functions._
    val stage = Files.createTempDirectory("graft_stage").toString
    val out = Files.createTempDirectory("graft_resume_staged").toString
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")

    ResumableExtract.stageByBucket(spark, input, stage, buckets = 16)

    // pruning evidence: a one-wave read opens ONLY the wave's bucket dirs
    val waveRead = spark.read.parquet(stage)
      .filter(col("bucket").isin(0, 1, 2, 3))
    val plan = waveRead.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    val scannedDirs = waveRead.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
      .map(f => f.substring(f.indexOf("bucket="))).map(_.takeWhile(_ != '/')).toSet
    assert(scannedDirs == Set("bucket=0", "bucket=1", "bucket=2", "bucket=3"),
      s"wave read touched $scannedDirs")

    // kill after 1 wave, resume; output == direct
    intercept[RuntimeException] {
      ResumableExtract.runStaged(spark, stage, out, buckets = 16, waveSize = 4,
        attempt = "s1", failAfterWaves = 1)
    }
    assert(ResumableExtract.completedBuckets(spark, out).size == 4)
    ResumableExtract.runStaged(spark, stage, out, buckets = 16, waveSize = 4, attempt = "s2")
    assert(ResumableExtract.completedBuckets(spark, out).size == 16)
    val resumed = spark.read.parquet(ResumableExtract.dataDir(out))
      .select(col("doc_id"), to_json(col("span_seq")).as("j"))
      .collect().map(r => r.getString(0) + "|" + r.getString(1)).sorted.toSeq
    val direct = Extract.run(input)
      .select(col("doc_id"), to_json(col("span_seq")).as("j"))
      .collect().map(r => r.getString(0) + "|" + r.getString(1)).sorted.toSeq
    assert(resumed == direct)
  }
}
