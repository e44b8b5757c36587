package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQ

/** q_dup_profile pins: the cluster-size histogram on a planted corpus
  * (known duplicate groups, including whitespace/case variants that the
  * shared exactFp normalization must merge) and the injected-tier law
  * on the real corpus — the synthetic corpus is exact-dup-free, so the
  * query plants deterministic duplicate tiers (doc_id % 7 upper-cased
  * copy, doc_id % 21 doubled-whitespace copy) and the histogram must
  * equal exactly what those rules predict. */
class DupProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("planted corpus: histogram rows are exact, norm merges variants") {
    import spark.implicits._
    val d = Files.createTempDirectory("dup_profile").toString
    // doc_ids deliberately avoid the % 7 injection tiers so the planted
    // clusters alone determine the histogram
    Seq(
      (1L, "Hello  World", "en", "src0"),   // cluster of 3 after norm
      (2L, "hello world", "en", "src1"),
      (3L, "HELLO   world", "en", "src2"),
      (4L, "other text", "en", "src0"),     // cluster of 2
      (5L, "other  TEXT", "en", "src1"),
      (6L, "unique doc", "en", "src0")      // singleton
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = DedupQ.qDupProfile(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 1L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
  }

  test("real corpus: histogram equals the injected-tier prediction") {
    val dir = "/root/testdata/sf0.001"
    // precondition the prediction relies on: the raw corpus has no
    // exact duplicates of its own
    val exact = DedupQ.qDedupExact(spark, dir).collect().map(_.getLong(2))
    assert(exact.forall(_ == 1L), "corpus gained natural exact dups")
    // second and third preconditions (round-5 ADVICE), pinned at every
    // scale beside `dir` (every sf* corpus), not only the one this
    // histogram uses:
    //  - the injected upper-case tier relies on Spark upper() (Java full
    //    case mapping) and DuckDB upper() (utf8proc simple mapping)
    //    agreeing — they diverge on full-casing characters (ß -> SS,
    //    fi-ligatures, final sigma, İ/ı, ŉ, ǰ). Pin that no
    //    doc_id % 7 == 0 document contains one.
    //  - NULL text diverges between the engines — the Spark side drops
    //    NULL fingerprints via fp.isNotNull while the frozen oracle's
    //    GROUP BY fp would keep a NULL-fingerprint cluster. Pin that the
    //    corpus has no NULL text so the divergence stays vacuous (the
    //    oracle SQL is a frozen surface; this assert is the guard the
    //    ADVICE asked for).
    val scales = Option(new java.io.File(dir).getParentFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("sf") && new java.io.File(f, "documents.parquet").exists)
      .map(_.getPath).sorted
    assert(scales.contains(dir), s"no documents.parquet under $dir")
    scales.foreach { sf =>
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val risky = docs.filter(col("doc_id") % 7 === 0 && col("text").rlike("[ßﬁﬂﬀﬃﬄﬆςŉǰİı]")).count()
      assert(risky == 0, s"$sf: $risky doc_id%7 docs contain full-casing chars — " +
        "Spark/DuckDB upper() would diverge on the injected tier")
      val nullText = docs.filter(col("text").isNull).count()
      assert(nullText == 0, s"$sf: $nullText NULL-text docs — q_dup_profile's " +
        "Spark/DuckDB NULL-fingerprint handling would diverge")
    }
    info(s"preconditions hold at ${scales.length} scales: ${scales.map(new java.io.File(_).getName).mkString(", ")}")
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val n3 = ids.count(_ % 21 == 0).toLong            // base + upper + spaced
    val n2 = ids.count(_ % 7 == 0).toLong - n3        // base + upper
    val n1 = ids.length.toLong - n2 - n3
    val expect = Seq(
      (1L, n1, n1, 0L), (2L, n2, 2 * n2, n2), (3L, n3, 3 * n3, 2 * n3))
      .filter(_._2 > 0)
    val got = DedupQ.qDupProfile(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == expect)
    // coverage law: histogram docs sum to corpus + injected copies
    // (one upper copy per % 7 doc, one spaced copy per % 21 doc)
    assert(got.map(_._3).sum == ids.length + (n2 + n3) + n3)
  }

  test("plan: one corpus scan only (injected tiers must not re-read text)") {
    // regression pin for the single-scan rewrite: per-tier filtered
    // scans would triple-read the text column (doc_id % k predicates
    // don't push to parquet)
    val plan = DedupQ.qDupProfile(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one parquet scan, got $scans:\n$plan")
  }
}
