package graft.resume

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Extract

/** Checkpointed, resumable extraction (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics").
  *
  * The doc space is split into `buckets` by xxhash64(doc_id); buckets are
  * processed in waves. Each wave commits its output via DYNAMIC partition
  * overwrite (idempotent: a re-run of a half-written bucket replaces the
  * partial files; the mode is set per WRITE, never on the shared
  * session), then appends one lineage row per bucket:
  *   (bucket, n_docs, n_spans, wave, wave_wall_ms, attempt, committed_at).
  * wave_wall_ms is the WAVE's wall time (buckets in a wave run as one
  * job and are not separable); aggregate cost per wave via
  * max(wave_wall_ms) GROUP BY wave, attempt — never SUM over buckets.
  * The lineage append happens strictly AFTER the data commit, so a kill
  * at any point leaves either (data+lineage) or (overwritable partial
  * data, no lineage) — never a lineage row without data.
  *
  * On restart, completed buckets are read from the lineage table and
  * skipped (anti-join on bucket id): zero re-extraction of committed
  * partitions.
  *
  * Scale note: [[stageByBucket]] + [[runStaged]] is the one wave path:
  * ONE pass writes the input hive-partitioned by bucket, after which
  * every wave's read partition-prunes to exactly its own files (the
  * filter lands in PartitionFilters, not a data scan) — total input I/O
  * is 2 passes regardless of wave count, instead of one full pass per
  * wave.
  */
object ResumableExtract {

  final case class LineageRow(
      bucket: Int, n_docs: Long, n_spans: Long, wave: Int, wave_wall_ms: Long,
      attempt: String, committed_at: Long)

  def dataDir(outDir: String): String = s"$outDir/data"
  def lineageDir(outDir: String): String = s"$outDir/_lineage"

  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    if (!Files.exists(Paths.get(lineageDir(outDir)))) Set.empty
    else spark.read.parquet(lineageDir(outDir))
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
  }

  private def bucketExpr(buckets: Int) =
    pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")

  /** One-pass staging: the input written hive-partitioned by bucket
    * (`bucket=K/` dirs) — the sandbox stand-in for an Iceberg/Hive table
    * bucketed on hash(doc_id). After this, a wave's
    * `filter(bucket IN wave)` is a pure PartitionFilter: only the wave's
    * files are opened. */
  def stageByBucket(spark: SparkSession, input: DataFrame, stageDir: String,
      buckets: Int = 16): Unit =
    input.withColumn("bucket", bucketExpr(buckets))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stageDir)

  /** Resumable extraction over a [[stageByBucket]]-staged input: each
    * wave reads ONLY its bucket partitions (partition pruning), so the
    * source is scanned exactly once across all waves + resumes.
    * `failAfterWaves` is the injectable failure for the kill/resume
    * checks: throw after this many waves committed (negative = never). */
  def runStaged(
      spark: SparkSession,
      stageDir: String,
      outDir: String,
      buckets: Int = 16,
      waveSize: Int = 4,
      attempt: String = "a1",
      failAfterWaves: Int = -1): Unit = {
    import spark.implicits._
    val done = completedBuckets(spark, outDir)
    val bucketOf = bucketExpr(buckets)
    val remaining = (0 until buckets).filterNot(done)

    remaining.grouped(waveSize).zipWithIndex.foreach { case (wave, wi) =>
      if (failAfterWaves >= 0 && wi >= failAfterWaves)
        throw new RuntimeException(s"injected failure before wave $wi")
      val t0 = System.nanoTime()
      val part = spark.read.parquet(stageDir)
        .filter(col("bucket").isin(wave.map(Integer.valueOf): _*)).drop("bucket")
      val out = Extract.run(part).withColumn("bucket", bucketOf)
      out.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(dataDir(outDir))
      val wallMs = (System.nanoTime() - t0) / 1000000
      // per-bucket metrics from the committed data (cheap: one scan of
      // the wave's partitions only)
      val stats = spark.read.parquet(dataDir(outDir))
        .filter(col("bucket").isin(wave.map(Integer.valueOf): _*))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(size(col("span_seq"))).as("n_spans"))
        .collect()
        .map(r => LineageRow(r.getInt(0), r.getLong(1), r.getLong(2),
          wi, wallMs, attempt, System.currentTimeMillis()))
      val present = stats.map(_.bucket).toSet
      val all = stats ++ wave.filterNot(present)
        .map(b => LineageRow(b, 0L, 0L, wi, wallMs, attempt, System.currentTimeMillis()))
      spark.createDataset(all.toSeq).write.mode(SaveMode.Append).parquet(lineageDir(outDir))
    }
  }
}
