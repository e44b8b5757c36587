package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQ, QCache}

/** The battery cache-lifecycle law (round-3 verdict #6): intra-query
  * temporaries register with QCache and die at the per-query release;
  * the ONLY cached state that survives across queries is the documented
  * MinHash signature memo, which lives in the Spark session's cache. Asserted on `sc.getPersistentRDDs` — the public view of what
  * actually occupies storage. */
class CacheLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("cachelife").toString
    val docs = (0L until 40L).map { i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta doc$i tail${i % 7} filler words enough for shingles")
    }
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("scoped caches release per query; only the signature memo survives") {
    val sc = spark.sparkContext
    QCache.releaseScoped(blocking = true)
    val before = sc.getPersistentRDDs.keySet
    // qMinhashLsh materializes the signature MEMO (cross-query,
    // deliberate) plus the capped-buckets temporary (scoped)
    DedupQ.qMinhashLsh(spark, dir).count()
    assert(QCache.liveCount >= 1, "capped-bucket temporary must be scoped")
    val during = sc.getPersistentRDDs.keySet
    assert((during -- before).size >= 2, s"expected memo + scoped caches, got ${during -- before}")
    QCache.releaseScoped(blocking = true)
    assert(QCache.liveCount == 0)
    val afterFirst = sc.getPersistentRDDs.keySet
    assert(afterFirst.size < during.size, "scoped caches must unpersist at release")
    assert((afterFirst -- before).nonEmpty, "the signature memo must SURVIVE the release")

    // a second query family: its temporaries appear, then release back to
    // EXACTLY the memo-only footprint — no accumulation across queries
    DedupQ.qNgramJaccard(spark, dir).count()
    assert(QCache.liveCount >= 1)
    QCache.releaseScoped(blocking = true)
    assert(sc.getPersistentRDDs.keySet == afterFirst,
      "after release the persistent set must return to the memo-only footprint")

    // the memo is warm: re-running the consumer registers new scoped
    // temporaries but adds no second memo entry
    DedupQ.qMinhashLsh(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    assert(sc.getPersistentRDDs.keySet == afterFirst)
  }

  test("the MinHash memo is session cache state: clearCache drops it, the next consumer rebuilds it once") {
    val sc = spark.sparkContext
    DedupQ.qMinhashLsh(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    spark.catalog.clearCache()
    val cleared = sc.getPersistentRDDs.keySet
    // qLshTuning reads the signature alone: exactly one memo entry comes
    // back, and a second run is served from it
    DedupQ.qLshTuning(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    val sigOnly = sc.getPersistentRDDs.keySet
    assert((sigOnly -- cleared).size == 1, s"expected the signature alone, got ${sigOnly -- cleared}")
    DedupQ.qLshTuning(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    assert(sc.getPersistentRDDs.keySet == sigOnly, "the rebuilt signature memo must serve the next run")
    // a band consumer bands the SAME signature in-query: no new entry,
    // not a second signature pass
    DedupQ.qMinhashLsh(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    assert((sc.getPersistentRDDs.keySet -- sigOnly).isEmpty)
  }

  test("after clearCache a band consumer caches the signature under the bands: one signature pass") {
    val sc = spark.sparkContext
    DedupQ.qMinhashLsh(spark, dir).count() // the memo view exists
    QCache.releaseScoped(blocking = true)
    spark.catalog.clearCache()
    val cleared = sc.getPersistentRDDs.keySet
    DedupQ.qMinhashLsh(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    val sig = sc.getPersistentRDDs.keySet
    assert((sig -- cleared).size == 1, s"expected the signature alone, got ${sig -- cleared}")
    // a signature consumer is served from the entry the bands were built on
    DedupQ.qLshTuning(spark, dir).count()
    QCache.releaseScoped(blocking = true)
    assert(sc.getPersistentRDDs.keySet == sig, "the signature must not be cached a second time")
  }
}
