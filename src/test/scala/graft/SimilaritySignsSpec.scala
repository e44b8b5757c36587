package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQ

/** The embedding LSH plans inline a precomputed 8x64 hyperplane sign
  * table instead of evaluating md5 per (row x dim x plane). These tests
  * pin (a) the literal table to the md5 SQL rule the DuckDB oracles
  * spell out (evaluated here by Catalyst's independent md5), and (b) the
  * narrow DataFrame plans to the original SQL formulations, value for
  * value, on real testdata. */
class SimilaritySignsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("literal sign table == the oracle's md5/instr rule (all 512 cells)") {
    val rows = spark.sql(
      """SELECT h, d,
        | CASE WHEN instr('0123456789abcdef', substr(md5(CAST(h AS STRING) || ':' || CAST(d AS STRING)), 1, 1)) - 1 >= 8
        |      THEN 1L ELSE -1L END AS sgn
        |FROM (SELECT explode(sequence(0, 7)) AS h) CROSS JOIN (SELECT explode(sequence(0, 63)) AS d)""".stripMargin)
      .collect()
    assert(rows.length == 512)
    rows.foreach { r =>
      val (h, d, sgn) = (r.getInt(0), r.getInt(1), r.getLong(2))
      assert(SimilarityQ.hyperplaneSigns(h)(d) == sgn, s"sign mismatch at h=$h d=$d")
    }
  }

  test("narrow qAnnLshBuckets == original explode/group SQL on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SimilarityQ.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    val sigBits = (0 until 8).map { h =>
      s"""(CASE WHEN SUM((CASE WHEN instr('0123456789abcdef', substr(md5('$h' || ':' || CAST(u.d AS STRING)), 1, 1)) - 1 >= 8 THEN 1 ELSE -1 END) * CAST(ROUND(CAST(u.x AS DOUBLE) * 1000) AS BIGINT)) > 0 THEN ${1 << h} ELSE 0 END)"""
    }.mkString(" + ")
    val old = spark.sql(
      s"""WITH u AS (SELECT vec_id, posexplode(embedding) AS (d, x) FROM embeddings),
         |sigs AS (SELECT vec_id, $sigBits AS bucket FROM u GROUP BY vec_id)
         |SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
         |FROM sigs GROUP BY bucket ORDER BY bucket""".stripMargin).collect().toSeq
    val neu = SimilarityQ.qAnnLshBuckets(spark, dir).orderBy("bucket").collect().toSeq
    assert(neu.nonEmpty && neu == old)
  }

  test("narrow qEmbedNeardup == original CTE SQL on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SimilarityQ.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    // the Spark-dialect spelling of the oracle CTE (posexplode + STRING)
    val sigBits = (0 until 8).map { h =>
      s"""(CASE WHEN SUM((CASE WHEN instr('0123456789abcdef', substr(md5('$h' || ':' || CAST(u.d AS STRING)), 1, 1)) - 1 >= 8 THEN 1 ELSE -1 END) * CAST(ROUND(CAST(u.x AS DOUBLE) * 1000) AS BIGINT)) > 0 THEN ${1 << h} ELSE 0 END)"""
    }.mkString(" + ")
    val old = spark.sql(
      s"""WITH u AS (SELECT vec_id, posexplode(embedding) AS (d, x) FROM embeddings),
         |uq AS (SELECT vec_id, d, CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS x FROM u),
         |sigs AS (SELECT vec_id, $sigBits AS bucket FROM u GROUP BY vec_id),
         |bsz AS (SELECT bucket, COUNT(*) AS bn FROM sigs GROUP BY bucket),
         |cand AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |         FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |         JOIN bsz ON bsz.bucket = a.bucket
         |         WHERE bsz.bn <= ${SimilarityQ.MaxEmbedBucket}),
         |el AS (SELECT c.va, c.vb, ua.x AS xa, ub.x AS xb
         |       FROM cand c JOIN uq ua ON ua.vec_id = c.va JOIN uq ub ON ub.vec_id = c.vb AND ub.d = ua.d),
         |dots AS (SELECT va, vb,
         |    CAST(SUM(xa * xb) AS DOUBLE) AS dp,
         |    CAST(SUM(xa * xa) AS DOUBLE) AS qq,
         |    CAST(SUM(xb * xb) AS DOUBLE) AS cc
         |  FROM el GROUP BY va, vb)
         |SELECT va AS vec_a, vb AS vec_b, dp / (sqrt(qq) * sqrt(cc)) AS sim
         |FROM dots WHERE dp / (sqrt(qq) * sqrt(cc)) >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin).collect().toSeq
    val neu = SimilarityQ.qEmbedNeardup(spark, dir).orderBy("vec_a", "vec_b").collect().toSeq
    assert(neu.nonEmpty && neu == old)
  }
}
