package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQ, SimilarityQ}

/** The LSH bucket-size skew guards (DedupQ.MaxLshBucket on the MinHash
  * bands and the SimHash blocks, SimilarityQ.MaxEmbedBucket): a
  * degenerate corpus — 1k identical docs /
  * 1k identical embeddings — lands in one bucket that would make the
  * candidate self-join quadratic (~500k pairs per band). The guard must
  * (a) exclude the oversized bucket from candidate generation and
  * (b) report the exclusion (no silent caps: qLshBucketProfile).
  */
class SkewGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("skewguard").toString
    // 1000 byte-identical docs + 4 distinct docs, two of which are real
    // near-dups of each other (shared 3-gram tail)
    val docs =
      (0L until 1000L).map(i => (i, "the same boilerplate text repeated verbatim " * 6)) ++
      Seq(
        (2000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (2002L, "completely different words nowhere near anything else here"),
        (2003L, "unrelated content that shares no shingles with the others at all"))
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    // 1000 identical embeddings + 3 distinct
    val base = Array.tabulate(64)(k => (k % 7 - 3) / 10.0f)
    val vecs =
      (0L until 1000L).map(i => (i, base)) ++
      Seq(
        (2000L, Array.tabulate(64)(k => (k % 5 - 2) / 10.0f)),
        (2001L, Array.tabulate(64)(k => (k % 5 - 2) / 10.0f)),
        (2002L, Array.tabulate(64)(k => ((k * 13) % 9 - 4) / 10.0f)))
    vecs.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("minhash guard: degenerate bucket excluded, real near-dups survive") {
    val pairs = DedupQ.qMinhashLsh(spark, dir).collect()
    // none of the 499,500 identical-doc pairs may appear ...
    assert(!pairs.exists(r => r.getLong(0) < 1000L || r.getLong(1) < 1000L),
      "identical-doc flood leaked through the bucket cap")
    // ... while genuine near-dups in small buckets still pair up
    assert(pairs.exists(r => r.getLong(0) == 2000L && r.getLong(1) == 2001L),
      "cap must not drop small buckets")
  }

  test("minhash guard is not silent: profile reports the dropped bucket") {
    val prof = DedupQ.qLshBucketProfile(spark, dir)
      .filter("dropped = 1").collect()
    assert(prof.nonEmpty, "oversized bucket missing from the drop report")
    assert(prof.forall(_.getAs[Long]("n_docs") == 1000L))
    // all 4 bands of the identical group are oversized
    assert(prof.length == 4)
  }

  test("simhash guard: degenerate block buckets excluded") {
    // the identical docs share one 60-bit simhash, so all four of its
    // 15-bit block buckets hold 1000 docs and every one is capped
    val pairs = DedupQ.qSimhashNeardup(spark, dir).collect()
    assert(!pairs.exists(r => r.getLong(0) < 1000L || r.getLong(1) < 1000L),
      "identical-doc flood leaked through the simhash block cap")
  }

  test("embedding guard: degenerate bucket excluded, real near-dups survive") {
    val pairs = SimilarityQ.qEmbedNeardup(spark, dir).collect()
    assert(!pairs.exists(r => r.getLong(0) < 1000L || r.getLong(1) < 1000L),
      "identical-embedding flood leaked through the bucket cap")
    assert(pairs.exists(r => r.getLong(0) == 2000L && r.getLong(1) == 2001L),
      "cap must not drop small buckets")
  }

  test("real-shaped buckets stay under the caps (testdata sf0.001)") {
    // guard must be a no-op on genuine data: no dropped buckets
    val dropped = DedupQ.qLshBucketProfile(spark, "/root/testdata/sf0.001")
      .filter("dropped = 1").count()
    assert(dropped == 0L)
  }
}
