package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import DedupQ.capBuckets
import QCache.ScopedCacheOps

import graft.functions.VectorExprs.{hyperplaneBucket, qdot}

/** Similarity search over the embeddings table (Array[Float], 64-dim).
  *
  * Exactness strategy (int-quantized cosine, the int8-quantization idiom
  * at production scale): elements are quantized to integers,
  * round(x * 1000) — x*1000 is EXACT in double (24-bit float mantissa +
  * 10 bits << 53) and can never tie at .5 (would need a 5^3 denominator,
  * impossible for a binary float), so both engines produce the same
  * ints. Dot products are then exact integer sums; the final cosine is
  * a double computed from identical ints — bit-identical across Spark
  * and DuckDB regardless of summation order.
  */
object SimilarityQ {

  def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  /** All dot products and signatures below run through the native codegen
    * expressions (graft.functions.VectorExprs) — value-pinned to the
    * original transform/zip_with/aggregate formulation by VectorExprSpec.
    * Plans carry the raw 4-byte-float arrays plus a precomputed per-ROW
    * self-norm, so each candidate PAIR costs one fused codegen dot
    * instead of three interpreted higher-order-function chains. */

  /** Brute-force cosine top-10 per query vector (vec_id < 5). This is the
    * correctness baseline; the LSH-bucketed variant below is the scale
    * path. Query side is tiny -> broadcast; candidates stream. */
  def qAnnCosine(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").as("v"),
      qdot(col("embedding"), col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // plain broadcast cross join: queries and candidates are DISJOINT by
    // the vec_id cutoffs (a self-pair predicate here would be dead code)
    val joined = e.filter(col("vec_id") >= 5).as("c")
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cid"),
        qdot(col("qv"), col("v")).cast("double").as("dp"),
        col("qnrm").cast("double").as("qq"),
        col("nrm").cast("double").as("cc"))
      .select(col("qid"), col("cid"), (col("dp") / (sqrt(col("qq")) * sqrt(col("cc")))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("cid"), col("sim"))
  }

  val qAnnCosineSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |          WHERE vec_id < 5 AND embedding IS NOT NULL AND len(embedding) > 0),
      |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      |      WHERE vec_id >= 5 AND embedding IS NOT NULL AND len(embedding) > 0),
      |el AS (SELECT qid, cid,
      |   CAST(ROUND(CAST(UNNEST(qv) AS DOUBLE) * 1000) AS BIGINT) AS qx,
      |   CAST(ROUND(CAST(UNNEST(cv) AS DOUBLE) * 1000) AS BIGINT) AS cx FROM q, c),
      |dots AS (SELECT qid, cid,
      |   CAST(SUM(qx * cx) AS DOUBLE) AS dp,
      |   CAST(SUM(qx * qx) AS DOUBLE) AS qq,
      |   CAST(SUM(cx * cx) AS DOUBLE) AS cc
      | FROM el GROUP BY qid, cid),
      |sims AS (SELECT qid, cid, dp / (sqrt(qq) * sqrt(cc)) AS sim,
      |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dp / (sqrt(qq) * sqrt(cc)) DESC, cid) AS rank
      | FROM dots)
      |SELECT qid, rank, cid, sim
      |FROM sims WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The 8x64 random-hyperplane sign table, s_hd = +1 iff the first md5
    * nibble of "h:d" >= 8 else -1 — the SAME rule the DuckDB oracles
    * spell out with md5()/instr(). It is a CONSTANT: the Spark plans
    * precompute it once on the driver and inline it as array literals,
    * so the hot path does one multiply-add per dimension instead of an
    * md5 per (row x dim x hyperplane). Cross-engine equality of this
    * table vs the SQL formula is unit-pinned (SimilaritySignsSpec). */
  val hyperplaneSigns: Array[Array[Long]] = {
    val mdHex = (t: String) => {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f"${d(0) & 0xFF}%02x"
    }
    Array.tabulate(8, 64) { (h, d) =>
      if (Integer.parseInt(mdHex(s"$h:$d").substring(0, 1), 16) >= 8) 1L else -1L
    }
  }

  /** Signature bucket as a NARROW per-row codegen expression: no
    * posexplode to 64 rows, no re-grouping shuffle, no md5 at execution —
    * one generated loop over the raw float vector against the literal
    * sign table ([[org.apache.spark.sql.graft.HyperplaneBucket]]). */
  private def bucketCol(v: Column): Column = hyperplaneBucket(v, hyperplaneSigns)

  /** Scale path: random-hyperplane LSH bucketing. Vectors meet only
    * within a bucket (equi-join on the signature), never all-pairs.
    * Output: bucket sizes (the bucketing itself is the oracle-checked
    * semantics; neighbor search within buckets composes qAnnCosine). */
  def qAnnLshBuckets(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      // the oracle's UNNEST emits no rows for null/empty arrays, so
      // those vecs never reach sigs — match that, or they'd land in
      // bucket 0 here (empty aggregate => dot 0 on every plane)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(bucketCol(col("embedding")).as("bucket"), col("vec_id"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))

  val qAnnLshBucketsSql: String = {
    val sigBits = sigBitsSql
    s"""WITH u AS (
       |  SELECT vec_id, UNNEST(embedding) AS x, UNNEST(generate_series(0, len(embedding) - 1)) AS d
       |  FROM embeddings
       |),
       |sigs AS (SELECT vec_id, $sigBits AS bucket FROM u GROUP BY vec_id)
       |SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
       |FROM sigs GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Vectors per LSH bucket above which the bucket is excluded from
    * candidate generation — the skew guard: a degenerate bucket (e.g. a
    * corpus of near-identical embeddings all hashing to one signature)
    * would otherwise make the candidate join quadratic. 10x the largest
    * bucket observed on the testdata (25 at sf0.1, 255 buckets, avg 8);
    * a production corpus tunes it. Applied identically in the DuckDB
    * oracle — never a silent semantic divergence between engines. */
  val MaxEmbedBucket = 256

  /** The 8-hyperplane sign-bit SQL formula — ONE spelling for every
    * oracle that buckets embeddings (q_ann_lsh_buckets and the
    * embed-neardup family), so the signature arithmetic cannot drift
    * between copies. Expects the exploded relation aliased `u` with
    * columns (vec_id, x, d). */
  // def, not val: consumed by vals declared EARLIER in this object
  // (object vals initialize in declaration order — a val here would
  // still be null when qAnnLshBucketsSql is built)
  private def sigBitsSql: String = (0 until 8).map { h =>
    s"""(CASE WHEN SUM((CASE WHEN instr('0123456789abcdef', substr(md5('$h' || ':' || CAST(u.d AS VARCHAR)), 1, 1)) - 1 >= 8 THEN 1 ELSE -1 END) * CAST(ROUND(CAST(u.x AS DOUBLE) * 1000) AS BIGINT)) > 0 THEN ${1 << h} ELSE 0 END)"""
  }.mkString(" + ")

  /** One SQL body for BOTH engines, so the skew guard and the
    * quantized-cosine arithmetic can never drift between Spark and the
    * oracle. */
  private def embedNeardupCore(uClause: String): String = {
    val sigBits = sigBitsSql
    s"""WITH u AS (
       |  $uClause
       |),
       |uq AS (SELECT vec_id, d, CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS x FROM u),
       |sigs AS (SELECT vec_id, $sigBits AS bucket FROM u GROUP BY vec_id),
       |bsz AS (SELECT bucket, COUNT(*) AS bn FROM sigs GROUP BY bucket),
       |cand AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |         FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |         JOIN bsz ON bsz.bucket = a.bucket
       |         WHERE bsz.bn <= $MaxEmbedBucket),
       |el AS (SELECT c.va, c.vb, ua.x AS xa, ub.x AS xb
       |       FROM cand c JOIN uq ua ON ua.vec_id = c.va JOIN uq ub ON ub.vec_id = c.vb AND ub.d = ua.d),
       |dots AS (SELECT va, vb,
       |    CAST(SUM(xa * xb) AS DOUBLE) AS dp,
       |    CAST(SUM(xa * xa) AS DOUBLE) AS qq,
       |    CAST(SUM(xb * xb) AS DOUBLE) AS cc
       |  FROM el GROUP BY va, vb)
       |SELECT va AS vec_a, vb AS vec_b, dp / (sqrt(qq) * sqrt(cc)) AS sim
       |FROM dots WHERE dp / (sqrt(qq) * sqrt(cc)) >= 0.25
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Embedding-cosine near-dup: LSH buckets generate candidates (never
    * an all-pairs product, oversized buckets excluded — MaxEmbedBucket),
    * exact int-quantized cosine verifies. The full near-dup pattern at
    * scale: O(pairs-within-surviving-buckets), shuffle on the bucket key.
    *
    * Spark plan (vs the oracle's CTE spelling, which this matches value-
    * for-value): signatures are the narrow codegen [[bucketCol]]
    * expression — no 64-row posexplode, no md5 per row — and the
    * signature relation is CACHED so the self-join reads it twice instead
    * of recomputing the lineage twice; the exact cosine runs on the
    * carried raw float arrays (one fused codegen dot per pair, self-norms
    * precomputed per row), not a by-dimension join. */
  def qEmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    val sigs = capBuckets(embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0) // match UNNEST semantics
      .select(col("vec_id"), col("embedding").as("v"),
        qdot(col("embedding"), col("embedding")).as("nrm"),
        bucketCol(col("embedding")).as("bucket")), MaxEmbedBucket, "bucket")
      .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
      .scopedCache()
    val a = sigs.as("a")
    val b = sigs.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        qdot(col("a.v"), col("b.v")).cast("double").as("dp"),
        col("a.nrm").cast("double").as("qq"),
        col("b.nrm").cast("double").as("cc"))
      .select(col("vec_a"), col("vec_b"),
        (col("dp") / (sqrt(col("qq")) * sqrt(col("cc")))).as("sim"))
      .filter(col("sim") >= 0.25)
  }

  val qEmbedNeardupSql: String = embedNeardupCore(
    "SELECT vec_id, UNNEST(embedding) AS x, UNNEST(generate_series(0, len(embedding) - 1)) AS d FROM embeddings")

  /** IVF coarse quantizer — the other classic ANN scale path (alongside
    * LSH): every vector is assigned to its nearest of K=16 deterministic
    * centroids (the vectors with vec_id < 16 — a deterministic seeding;
    * production would k-means these, but assignment mechanics and the
    * probe path are identical). Plan: centroids broadcast (tiny), one
    * narrow pass computes all K quantized cosines per row, argmax picked
    * with a deterministic tie-break — no shuffle at all until the
    * aggregation a caller adds. */
  def qIvfAssign(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").as("v"),
        qdot(col("embedding"), col("embedding")).as("nrm"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val joined = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (qdot(col("v"), col("cv")).cast("double") /
          (sqrt(col("nrm").cast("double")) *
           sqrt(col("cnrm").cast("double")))).as("sim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("centroid"), col("sim"))
  }

  val qIvfAssignSql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings
      |          WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      |      WHERE vec_id < 16 AND embedding IS NOT NULL AND len(embedding) > 0),
      |el AS (SELECT q.vec_id, c.cid,
      |   CAST(ROUND(CAST(UNNEST(q.embedding) AS DOUBLE) * 1000) AS BIGINT) AS qx,
      |   CAST(ROUND(CAST(UNNEST(c.cv) AS DOUBLE) * 1000) AS BIGINT) AS cx FROM q, c),
      |dots AS (SELECT vec_id, cid,
      |   CAST(SUM(qx * cx) AS DOUBLE) AS dp,
      |   CAST(SUM(qx * qx) AS DOUBLE) AS qq,
      |   CAST(SUM(cx * cx) AS DOUBLE) AS cc
      | FROM el GROUP BY vec_id, cid),
      |ranked AS (SELECT vec_id, cid, dp / (sqrt(qq) * sqrt(cc)) AS sim,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp / (sqrt(qq) * sqrt(cc)) DESC, cid) AS rn
      | FROM dots)
      |SELECT vec_id, cid AS centroid, sim FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** IVF probe search: queries (vec_id < 5) search ONLY the candidate
    * list of their own nearest centroid — the index lookup that makes
    * IVF sublinear (cost = list size, not corpus size). Equi-join on the
    * centroid id; exact quantized cosine ranks within the probed list. */
  def qIvfProbe(s: SparkSession, dir: String): DataFrame = {
    val assign = qIvfAssign(s, dir).select(col("vec_id"), col("centroid")).scopedCache()
    val e = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").as("v"),
        qdot(col("embedding"), col("embedding")).as("nrm"))
    val queries = e.filter(col("vec_id") < 5)
      .join(assign, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"), col("centroid"))
    val cands = e.filter(col("vec_id") >= 5).join(assign, Seq("vec_id"))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cnrm"), col("centroid"))
    val scored = cands.join(broadcast(queries), Seq("centroid"))
      .select(col("qid"), col("cand_id"),
        (qdot(col("qv"), col("cv")).cast("double") /
          (sqrt(col("qnrm").cast("double")) *
           sqrt(col("cnrm").cast("double")))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("cand_id"), col("sim"))
  }

  val qIvfProbeSql: String =
    """WITH e0 AS (SELECT vec_id, embedding FROM embeddings
      |           WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |c AS (SELECT vec_id AS cid, embedding AS cv FROM e0 WHERE vec_id < 16),
      |ael AS (SELECT q.vec_id, c.cid,
      |   CAST(ROUND(CAST(UNNEST(q.embedding) AS DOUBLE) * 1000) AS BIGINT) AS qx,
      |   CAST(ROUND(CAST(UNNEST(c.cv) AS DOUBLE) * 1000) AS BIGINT) AS cx FROM e0 q, c),
      |adots AS (SELECT vec_id, cid,
      |   CAST(SUM(qx * cx) AS DOUBLE) AS dp, CAST(SUM(qx * qx) AS DOUBLE) AS qq, CAST(SUM(cx * cx) AS DOUBLE) AS cc
      | FROM ael GROUP BY vec_id, cid),
      |assign AS (SELECT vec_id, cid AS centroid FROM (
      |   SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp / (sqrt(qq) * sqrt(cc)) DESC, cid) AS rn
      |   FROM adots) t WHERE rn = 1),
      |qs AS (SELECT e.vec_id AS qid, e.embedding AS qv, a.centroid
      |       FROM e0 e JOIN assign a ON a.vec_id = e.vec_id WHERE e.vec_id < 5),
      |cands AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, a.centroid
      |          FROM e0 e JOIN assign a ON a.vec_id = e.vec_id WHERE e.vec_id >= 5),
      |el AS (SELECT qs.qid, cands.cand_id,
      |   CAST(ROUND(CAST(UNNEST(qs.qv) AS DOUBLE) * 1000) AS BIGINT) AS qx,
      |   CAST(ROUND(CAST(UNNEST(cands.cv) AS DOUBLE) * 1000) AS BIGINT) AS cx
      | FROM qs JOIN cands ON qs.centroid = cands.centroid),
      |dots AS (SELECT qid, cand_id,
      |   CAST(SUM(qx * cx) AS DOUBLE) AS dp, CAST(SUM(qx * qx) AS DOUBLE) AS qq, CAST(SUM(cx * cx) AS DOUBLE) AS cc
      | FROM el GROUP BY qid, cand_id),
      |ranked AS (SELECT qid, cand_id, dp / (sqrt(qq) * sqrt(cc)) AS sim,
      |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dp / (sqrt(qq) * sqrt(cc)) DESC, cand_id) AS rank
      | FROM dots)
      |SELECT qid, rank, cand_id, sim FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** One Lloyd k-means REFINEMENT step over the IVF seed centroids —
    * the training half of the IVF story (qIvfAssign/qIvfProbe cover
    * assignment and search; this covers centroid improvement):
    * assignment under the seed centroids, per-dimension integer SUM of
    * each cluster's quantized vectors, then REASSIGNMENT under the
    * refined centroids, reporting per vector (centroid0, centroid1,
    * moved). Exact cross-engine by construction: cosine is
    * scale-invariant, so the refined centroid's MEAN is replaced by its
    * integer SUM vector (the count divides out) — every dot/norm stays
    * a 64-bit integer and only the final ranked division is floating
    * point (the proven IVF-oracle pattern). Plan shape: the 16x64 sum
    * relation is broadcast, so the reassignment pass is one narrow
    * map-side join + partial agg over the exploded vectors — no
    * shuffled expansion. */
  def qKmeansRefine(s: SparkSession, dir: String): DataFrame = {
    // both relations are multi-referenced (a0 feeds sums AND the final
    // join; ql feeds sums, qnrm AND dots) — without the cache the full
    // IVF assignment ran ~3x and the 64x explode ~4x per query run
    val a0 = qIvfAssign(s, dir).select(col("vec_id"), col("centroid").as("c0")).scopedCache()
    val ql = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("qx"))
      .scopedCache()
    val sums = ql.join(a0, Seq("vec_id"))
      .groupBy(col("c0").as("cid"), col("d")).agg(sum(col("qx")).as("sx"))
    val snrm = sums.groupBy(col("cid"))
      .agg(sum(col("sx") * col("sx")).cast("double").as("snrm"))
    val qnrm = ql.groupBy(col("vec_id"))
      .agg(sum(col("qx") * col("qx")).cast("double").as("qq"))
    val dots = ql.join(broadcast(sums), Seq("d"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum(col("qx") * col("sx")).cast("double").as("dp"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy((col("dp") / (sqrt(col("qq")) * sqrt(col("snrm")))).desc, col("cid"))
    val a1 = dots
      .join(broadcast(snrm), Seq("cid"))
      .join(qnrm, Seq("vec_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("c1"))
    a0.join(a1, Seq("vec_id"))
      .select(col("vec_id"), col("c0").as("centroid0"), col("c1").as("centroid1"),
        when(col("c0") =!= col("c1"), 1).otherwise(0).as("moved"))
  }

  val qKmeansRefineSql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings
      |          WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      |      WHERE vec_id < 16 AND embedding IS NOT NULL AND len(embedding) > 0),
      |el0 AS (SELECT q.vec_id, c.cid,
      |   CAST(ROUND(CAST(UNNEST(q.embedding) AS DOUBLE) * 1000) AS BIGINT) AS qx,
      |   CAST(ROUND(CAST(UNNEST(c.cv) AS DOUBLE) * 1000) AS BIGINT) AS cx FROM q, c),
      |dots0 AS (SELECT vec_id, cid, CAST(SUM(qx * cx) AS DOUBLE) AS dp,
      |   CAST(SUM(qx * qx) AS DOUBLE) AS qq, CAST(SUM(cx * cx) AS DOUBLE) AS cc
      | FROM el0 GROUP BY vec_id, cid),
      |a0 AS (SELECT vec_id, cid AS c0 FROM (
      |   SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
      |     ORDER BY dp / (sqrt(qq) * sqrt(cc)) DESC, cid) AS rn FROM dots0) r WHERE rn = 1),
      |ql AS (SELECT vec_id, d, CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
      |       FROM (SELECT vec_id, UNNEST(embedding) AS x,
      |             UNNEST(generate_series(0, len(embedding) - 1)) AS d FROM embeddings) u),
      |sums AS (SELECT a0.c0 AS cid, ql.d, SUM(ql.qx) AS sx
      |         FROM ql JOIN a0 USING (vec_id) GROUP BY a0.c0, ql.d),
      |snrm AS (SELECT cid, CAST(SUM(sx * sx) AS DOUBLE) AS snrm FROM sums GROUP BY cid),
      |qnrm AS (SELECT vec_id, CAST(SUM(qx * qx) AS DOUBLE) AS qq FROM ql GROUP BY vec_id),
      |dots1 AS (SELECT ql.vec_id, sums.cid, CAST(SUM(ql.qx * sums.sx) AS DOUBLE) AS dp
      |          FROM ql JOIN sums ON sums.d = ql.d GROUP BY ql.vec_id, sums.cid),
      |a1 AS (SELECT vec_id, cid AS c1 FROM (
      |   SELECT d1.vec_id, d1.cid, ROW_NUMBER() OVER (PARTITION BY d1.vec_id
      |     ORDER BY d1.dp / (sqrt(qnrm.qq) * sqrt(snrm.snrm)) DESC, d1.cid) AS rn
      |   FROM dots1 d1 JOIN snrm ON snrm.cid = d1.cid
      |   JOIN qnrm ON qnrm.vec_id = d1.vec_id) r WHERE rn = 1)
      |SELECT a0.vec_id, a0.c0 AS centroid0, a1.c1 AS centroid1,
      |  CAST(CASE WHEN a0.c0 <> a1.c1 THEN 1 ELSE 0 END AS INT) AS moved
      |FROM a0 JOIN a1 USING (vec_id) ORDER BY a0.vec_id""".stripMargin

  /** SEMANTIC dedup clusters: connected components over the embedding
    * near-dup pair graph — the curation step that keeps one canonical
    * document per near-duplicate GROUP (pairwise candidates alone
    * over-delete via chains). Reuses the pointer-jumping
    * [[graft.queries.DedupQ.connectedComponents]] operator (O(log d)
    * rounds); the oracle recomputes the same components by recursive
    * transitive closure over the identically-derived pairs — two
    * independent algorithms on two engines must agree. */
  def qEmbedCluster(s: SparkSession, dir: String): DataFrame =
    graft.queries.DedupQ.connectedComponents(
        qEmbedNeardup(s, dir)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"), col("cluster_size"))

  val qEmbedClusterSql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT vec_a AS doc_a, vec_b AS doc_b FROM ($qEmbedNeardupSql) t
      |),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges) s0
      |          UNION
      |          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS vec_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src)
      |SELECT vec_id, cluster_rep,
      |       CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
      |FROM labels ORDER BY vec_id""".stripMargin

  /** SemDeDup pairwise-cosine threshold. Same-cluster members are all
    * correlated with their centroid, so the near-dup join's 0.25 would
    * wholesale-drop clusters (81% of the corpus) instead of
    * discriminating; 0.4 sits above that correlation band (random
    * 64-dim pairs have sigma ~ 1/8, so 0.4 ~ 3 sigma past the
    * within-cluster bulk) and keeps only genuinely-similar pairs —
    * 164/2000 dropped at sf0.1. */
  val SemDedupTau = 0.4

  /** Within-cluster comparison cap (round-4 verdict #3; the
    * MaxLshBucket / MaxFuzzyBlock convention): each member is compared
    * against at most the first [[MaxSemEarlier]] EARLIER-ordered members
    * of its cluster, so pair generation is O(MaxSemEarlier x n) — linear
    * in corpus size — instead of the uncapped O(n^2/K), which with fixed
    * K and one hot mega-cluster is an unguarded quadratic at 100x scale.
    * The cap is principled for SemDeDup's keep rule: the earliest-ordered
    * members (lowest centroid-similarity, the ones the paper's sorted
    * scan KEEPS) are the dominant droppers, so truncating the comparison
    * set to them preserves the rule's intent. It FIRES at driver scale
    * (sf0.1 clusters run ~125 members > 64), so the capped semantics
    * themselves sit under the cross-engine oracle; and it is never
    * silent — [[qSemdedupBlocks]] is the oracle-checked per-cluster
    * report of sizes and skipped-pair counts. */
  val MaxSemEarlier = 64

  /** The capped SemDeDup verdict kernel over any assignment relation
    * `(vec_id, centroid, csim, v, nrm)`: members are ranked within their
    * cluster by (csim asc, vec_id asc) — the paper's keep order — and a
    * member is dropped iff one of the first [[MaxSemEarlier]]-ranked
    * EARLIER members of its cluster is within cosine >= tau. Zero-norm
    * vectors (cosine undefined: 0/0 = NaN, which Spark's `NaN >= tau`
    * drops but DuckDB's NaN-sorts-greatest accepts — the round-4 advice
    * divergence) are excluded from BOTH pair sides identically and always
    * kept. The rank window shuffles on the centroid key and is
    * bounded-by-|cluster| per partition (production scales K with the
    * corpus — SemDeDup uses 50k clusters for LAION — so |cluster| ~ n/K
    * stays bounded); the a-side rank filter then makes the pair join
    * candidate-bounded. Exposed for SemDedupSpec's degenerate
    * one-mega-cluster cap-law test. */
  def semDedupKept(assigned: DataFrame): DataFrame = {
    val ranked = assigned
      .filter(col("nrm") > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("centroid")).orderBy(col("csim"), col("vec_id"))))
      .scopedCache()
    val dropped = ranked.filter(col("rk") <= MaxSemEarlier).as("a")
      .join(ranked.as("b"),
        col("a.centroid") === col("b.centroid") && col("a.rk") < col("b.rk"))
      .select(col("b.vec_id").as("vec_id"),
        (qdot(col("a.v"), col("b.v")).cast("double") /
          (sqrt(col("a.nrm").cast("double")) *
           sqrt(col("b.nrm").cast("double")))).as("psim"))
      .filter(col("psim") >= SemDedupTau)
      .select(col("vec_id")).distinct()
      .withColumn("is_dropped", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid").as("cluster"), col("csim"),
        when(col("is_dropped").isNotNull, lit(0)).otherwise(lit(1)).as("kept"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    * SEMANTIC deduplication by k-means clustering + within-cluster
    * pairwise cosine, the curation step that removes "different words,
    * same content" duplicates embedding-level dedup catches and
    * text-level dedup cannot. Cluster members are ordered by similarity
    * to their centroid (ascending, vec_id tie-break — the paper keeps
    * the LOWEST-centroid-similarity example per duplicate group) and a
    * member is dropped iff one of the first [[MaxSemEarlier]]
    * earlier-ordered members of the SAME cluster is within cosine >=
    * [[SemDedupTau]] — the paper's sorted-scan semantics as an
    * order-free, embarrassingly-parallel predicate (no sequential pass;
    * Spark and the oracle must agree pair by pair).
    *
    * Scale shape: assignment is the broadcast-centroid narrow pass of
    * q_ivf_assign (K = 16 deterministic seeds here; production scales K
    * with the corpus), and the capped kernel ([[semDedupKept]]) makes
    * within-cluster work O(MaxSemEarlier x |cluster|) — linear — with an
    * oracle-checked drop report ([[qSemdedupBlocks]]). Pair verification
    * is one fused codegen dot per candidate pair on carried float arrays
    * + precomputed self-norms. */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").as("v"),
        qdot(col("embedding"), col("embedding")).as("nrm"))
    val assigned = qIvfAssign(s, dir)
      .select(col("vec_id"), col("centroid"), col("sim").as("csim"))
      .join(e, Seq("vec_id"))
      .scopedCache()
    semDedupKept(assigned)
  }

  /** The shared oracle tail: rank within cluster (zero-norm excluded),
    * cap the earlier side, exact-int dots on the capped pairs. */
  private def semDedupSqlTail: String =
    s"""u AS (SELECT vec_id, UNNEST(embedding) AS x,
      |             UNNEST(generate_series(0, len(embedding) - 1)) AS d FROM embeddings
      |      WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |uq AS (SELECT vec_id, d, CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS x FROM u),
      |nrm AS (SELECT vec_id, SUM(x * x) AS nq FROM uq GROUP BY vec_id),
      |rk AS (SELECT a.vec_id, a.centroid, a.csim,
      |         ROW_NUMBER() OVER (PARTITION BY a.centroid
      |                            ORDER BY a.csim, a.vec_id) AS rk
      |       FROM asg a JOIN nrm n ON n.vec_id = a.vec_id WHERE n.nq > 0),
      |cand AS (SELECT a.vec_id AS va, b.vec_id AS vb
      |         FROM rk a JOIN rk b ON a.centroid = b.centroid AND a.rk < b.rk
      |         WHERE a.rk <= $MaxSemEarlier),
      |el AS (SELECT c.va, c.vb, ua.x AS xa, ub.x AS xb
      |       FROM cand c JOIN uq ua ON ua.vec_id = c.va
      |       JOIN uq ub ON ub.vec_id = c.vb AND ub.d = ua.d),
      |dots AS (SELECT va, vb, CAST(SUM(xa * xb) AS DOUBLE) AS dp,
      |    CAST(SUM(xa * xa) AS DOUBLE) AS qq, CAST(SUM(xb * xb) AS DOUBLE) AS cc
      |  FROM el GROUP BY va, vb),
      |dropped AS (SELECT DISTINCT vb AS vec_id FROM dots
      |            WHERE dp / (sqrt(qq) * sqrt(cc)) >= $SemDedupTau)""".stripMargin

  val qSemDedupSql: String =
    s"""WITH asg AS (SELECT vec_id, centroid, sim AS csim FROM ($qIvfAssignSql) t),
      |$semDedupSqlTail
      |SELECT asg.vec_id, asg.centroid AS cluster, asg.csim,
      |  CAST(CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
      |FROM asg LEFT JOIN dropped ON dropped.vec_id = asg.vec_id
      |ORDER BY asg.vec_id""".stripMargin

  /** The SemDeDup cap drop report (no silent caps — the qLshBucketProfile
    * / qFuzzyBlocks convention): per cluster, how many members are
    * pair-eligible, how many zero-norm vectors were excluded from pairing,
    * the uncapped vs capped candidate-pair counts and the skipped
    * difference. pairs_capped for an m-member cluster with cap R is
    * sum over ranks r of min(r-1, R) = m(m-1)/2 when m-1 <= R, else
    * R(R+1)/2 + (m-1-R)R — exact integer math on both engines. At crawl
    * scale this is the skew monitor that catches a hot mega-cluster
    * before it goes quadratic. */
  def qSemdedupBlocks(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        qdot(col("embedding"), col("embedding")).as("nrm"))
    // `div` keeps the arithmetic in the integer domain (Spark's `/` on
    // longs is double division); all operands non-negative, where Spark
    // div and DuckDB // agree (CLAUDE.md round-4 note)
    val R = MaxSemEarlier
    qIvfAssign(s, dir)
      .select(col("vec_id"), col("centroid"))
      .join(e, Seq("vec_id"))
      .groupBy(col("centroid").as("cluster"))
      .agg(sum(when(col("nrm") > 0, 1L).otherwise(0L)).as("n_members"),
        sum(when(col("nrm") > 0, 0L).otherwise(1L)).as("n_zero_norm"))
      .selectExpr("cluster",
        "CAST(n_members AS BIGINT) AS n_members",
        "CAST(n_zero_norm AS BIGINT) AS n_zero_norm",
        "CAST(n_members * (n_members - 1) div 2 AS BIGINT) AS pairs_full",
        s"""CAST(CASE WHEN n_members - 1 <= $R THEN n_members * (n_members - 1) div 2
           |     ELSE $R * ${R + 1} div 2 + (n_members - 1 - $R) * $R END AS BIGINT)
           |  AS pairs_capped""".stripMargin,
        s"CAST(CASE WHEN n_members - 1 > $R THEN 1 ELSE 0 END AS INT) AS capped")
      .withColumn("pairs_skipped", col("pairs_full") - col("pairs_capped"))
  }

  val qSemdedupBlocksSql: String =
    s"""WITH asg AS (SELECT vec_id, centroid FROM ($qIvfAssignSql) t),
      |u AS (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings
      |      WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |nrm AS (SELECT vec_id,
      |          SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) *
      |              CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS nq
      |        FROM u GROUP BY vec_id),
      |sz AS (SELECT a.centroid AS cluster,
      |         CAST(SUM(CASE WHEN n.nq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
      |         CAST(SUM(CASE WHEN n.nq > 0 THEN 0 ELSE 1 END) AS BIGINT) AS nz
      |       FROM asg a JOIN nrm n ON n.vec_id = a.vec_id GROUP BY a.centroid)
      |SELECT cluster, m AS n_members, nz AS n_zero_norm,
      |  CAST(m * (m - 1) // 2 AS BIGINT) AS pairs_full,
      |  CAST(CASE WHEN m - 1 <= $MaxSemEarlier THEN m * (m - 1) // 2
      |       ELSE $MaxSemEarlier * ($MaxSemEarlier + 1) // 2
      |            + (m - 1 - $MaxSemEarlier) * $MaxSemEarlier END AS BIGINT)
      |    AS pairs_capped,
      |  CAST(m * (m - 1) // 2 - CASE WHEN m - 1 <= $MaxSemEarlier THEN m * (m - 1) // 2
      |       ELSE $MaxSemEarlier * ($MaxSemEarlier + 1) // 2
      |            + (m - 1 - $MaxSemEarlier) * $MaxSemEarlier END AS BIGINT)
      |    AS pairs_skipped,
      |  CAST(CASE WHEN m - 1 > $MaxSemEarlier THEN 1 ELSE 0 END AS INT) AS capped
      |FROM sz ORDER BY cluster""".stripMargin

  /** Product-quantization sub-space count (64 dims -> 8 blocks of 8). */
  val PqSubspaces = 8
  private val PqSubDim = 8

  /** Product quantization + asymmetric-distance (ADC) probe — the
    * memory-compression half of the ANN family (qAnnCosine = exact
    * baseline, qAnnLshBuckets/qIvfAssign = candidate pruning; PQ is how
    * a 10^12-vector index fits in RAM): each vector's 64 dims split
    * into 8 sub-spaces of 8; per sub-space the vector is replaced by the
    * id of its nearest of 16 codebook centroids (deterministic seeding:
    * the sub-vectors of vec_id < 16, same rule as the IVF seeds;
    * production trains them with qKmeansRefine's Lloyd step) — 8 small
    * codes per vector instead of 64 floats, a 32x compression. A query
    * is NOT quantized (the "asymmetric" in ADC): it precomputes its
    * exact distance to all 16 centroids per sub-space (a 128-entry
    * table), and each candidate's distance estimate is 8 table lookups
    * summed — no float math per candidate at probe time.
    *
    * Exactness: elements int-quantized via the proven ROUND(x*1000)
    * rule; every distance is an exact BIGINT sum of squares, so both
    * engines produce identical ints (no sqrt — ranking by squared L2 is
    * rank-equivalent). Plan shape: the codebook (128 rows) and the
    * query ADC tables (640 rows) are BROADCAST; assignment is one
    * narrow join + partial agg over the exploded sub-vectors; the probe
    * is an equi-join of candidate CODES (8 rows/vec) against the tiny
    * table — the full corpus's raw floats never appear in the probe. */
  def qPqAnn(s: SparkSession, dir: String): DataFrame = {
    val ql = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), expr(s"CAST(d div $PqSubDim AS INT)").as("m"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("qx"))
    val cents = ql.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("m"), col("d"), col("qx").as("cx"))
    // per (vector, sub-space, centroid): exact squared L2 distance
    val sub = ql.join(broadcast(cents), Seq("m", "d"))
      .groupBy(col("vec_id"), col("m"), col("cid"))
      .agg(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("sq"))
      .scopedCache() // consumed twice: candidate codes + query ADC tables
    val wA = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("sq").asc, col("cid").asc)
    val codes = sub.withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1 && col("vec_id") >= 5)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
    val qtab = sub.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("m").as("qm"), col("cid"), col("sq").as("qsq"))
    val adc = codes.join(broadcast(qtab),
        col("m") === col("qm") && col("code") === col("cid"))
      .groupBy(col("qid"), col("vec_id").as("cand_id"))
      .agg(sum(col("qsq")).as("adc_dist"))
    val wR = Window.partitionBy(col("qid")).orderBy(col("adc_dist").asc, col("cand_id").asc)
    adc.withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("cand_id"), col("adc_dist"))
  }

  val qPqAnnSql: String =
    s"""WITH u AS (SELECT vec_id, UNNEST(embedding) AS x,
       |            UNNEST(generate_series(0, len(embedding) - 1)) AS d FROM embeddings),
       |ql AS (SELECT vec_id, CAST(d // $PqSubDim AS INT) AS m, d,
       |         CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx FROM u),
       |cents AS (SELECT vec_id AS cid, m, d, qx AS cx FROM ql WHERE vec_id < 16),
       |sub AS (SELECT ql.vec_id, ql.m, c.cid,
       |          CAST(SUM((ql.qx - c.cx) * (ql.qx - c.cx)) AS BIGINT) AS sq
       |        FROM ql JOIN cents c ON c.m = ql.m AND c.d = ql.d
       |        GROUP BY ql.vec_id, ql.m, c.cid),
       |codes AS (SELECT vec_id, m, cid AS code FROM (
       |            SELECT vec_id, m, cid,
       |                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY sq ASC, cid ASC) AS rn
       |            FROM sub) t WHERE rn = 1 AND vec_id >= 5),
       |qtab AS (SELECT vec_id AS qid, m, cid, sq AS qsq FROM sub WHERE vec_id < 5),
       |adc AS (SELECT q.qid, c.vec_id AS cand_id, CAST(SUM(q.qsq) AS BIGINT) AS adc_dist
       |        FROM codes c JOIN qtab q ON q.m = c.m AND q.cid = c.code
       |        GROUP BY q.qid, c.vec_id),
       |ranked AS (SELECT qid, cand_id, adc_dist,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist ASC, cand_id ASC) AS rank
       |           FROM adc)
       |SELECT qid, rank, cand_id, adc_dist FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** ANN quality report — recall of the IVF single-probe search against
    * the exact brute-force top-5 (what q_lsh_recall is to MinHash-LSH,
    * this is to IVF): per query vector, how many of its TRUE 5 nearest
    * neighbors the probed centroid list actually contained. The metric
    * that decides nprobe/K tradeoffs before committing a 10^12-vector
    * index layout. Integer output only (hits, basis points) per the
    * determinism rule — recall_bp = n_hits * 10000 div n_exact.
    *
    * Plan shape: both sides are the already-bounded top-k relations
    * (5 rows per query each), so the recall join is trivially small;
    * the cost is the two underlying searches, each already audited
    * (broadcast queries/centroids, per-list probe). */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = qAnnCosine(s, dir).filter(col("rank") <= 5)
      .select(col("qid"), col("cid").as("cand_id"))
    val probed = qIvfProbe(s, dir)
      .select(col("qid"), col("cand_id"), lit(1).as("hit"))
    exact.join(probed, Seq("qid", "cand_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("qid"), col("n_exact"), col("n_hits"),
        expr("n_hits * 10000 div n_exact").as("recall_bp"))
  }

  val qAnnRecallSql: String =
    s"""WITH exact AS (SELECT qid, cid AS cand_id FROM ($qAnnCosineSql) e WHERE rank <= 5),
       |probed AS (SELECT qid, cand_id FROM ($qIvfProbeSql) p)
       |SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN p.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN p.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
       |       // COUNT(*) AS BIGINT) AS recall_bp
       |FROM exact e LEFT JOIN probed p ON p.qid = e.qid AND p.cand_id = e.cand_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  /** PQ quality report — recall of the ADC probe (q_pq_ann) against the
    * EXACT squared-L2 top-10 over the raw quantized vectors: completes
    * the ANN-quality triptych (q_lsh_recall for MinHash-LSH, q_ann_recall
    * for IVF, this for product quantization). The number that decides a
    * codebook size / sub-space count before committing the compressed
    * index. Exact side: dist(q,c) = qq + cc - 2*dp, all exact BIGINTs
    * from the fused codegen dots — no float math anywhere in the ranking.
    * Integer output only (hits, basis points). */
  def qPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").as("v"),
        qdot(col("embedding"), col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.filter(col("vec_id") >= 5).as("c")
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand_id"),
        (col("qnrm") + col("nrm") - lit(2L) * qdot(col("qv"), col("v"))).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cand_id").asc)
    val exact = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cand_id"))
    val probed = qPqAnn(s, dir)
      .select(col("qid"), col("cand_id"), lit(1).as("hit"))
    exact.join(probed, Seq("qid", "cand_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("qid"), col("n_exact"), col("n_hits"),
        expr("n_hits * 10000 div n_exact").as("recall_bp"))
  }

  val qPqRecallSql: String =
    s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE embedding IS NOT NULL AND len(embedding) > 0),
       |el AS (SELECT q.vec_id AS qid, c.vec_id AS cand_id,
       |   CAST(ROUND(CAST(UNNEST(q.embedding) AS DOUBLE) * 1000) AS BIGINT) AS qx,
       |   CAST(ROUND(CAST(UNNEST(c.embedding) AS DOUBLE) * 1000) AS BIGINT) AS cx
       | FROM e0 q, e0 c WHERE q.vec_id < 5 AND c.vec_id >= 5),
       |d2s AS (SELECT qid, cand_id, CAST(SUM((qx - cx) * (qx - cx)) AS BIGINT) AS d2
       |        FROM el GROUP BY qid, cand_id),
       |exact AS (SELECT qid, cand_id FROM (
       |   SELECT qid, cand_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, cand_id ASC) AS rank
       |   FROM d2s) t WHERE rank <= 10),
       |probed AS (SELECT qid, cand_id FROM ($qPqAnnSql) p)
       |SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN p.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN p.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
       |       // COUNT(*) AS BIGINT) AS recall_bp
       |FROM exact e LEFT JOIN probed p ON p.qid = e.qid AND p.cand_id = e.cand_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_ann_recall" -> ((qAnnRecall _, Some(qAnnRecallSql))),
    "q_pq_recall" -> ((qPqRecall _, Some(qPqRecallSql))),
    "q_ivf_assign" -> ((qIvfAssign _, Some(qIvfAssignSql))),
    "q_ivf_probe" -> ((qIvfProbe _, Some(qIvfProbeSql))),
    "q_ann_cosine" -> ((qAnnCosine _, Some(qAnnCosineSql))),
    "q_ann_lsh_buckets" -> ((qAnnLshBuckets _, Some(qAnnLshBucketsSql))),
    "q_embed_neardup" -> ((qEmbedNeardup _, Some(qEmbedNeardupSql))),
    "q_embed_cluster" -> ((qEmbedCluster _, Some(qEmbedClusterSql))),
    "q_semdedup" -> ((qSemDedup _, Some(qSemDedupSql))),
    "q_semdedup_blocks" -> ((qSemdedupBlocks _, Some(qSemdedupBlocksSql))),
    "q_kmeans_refine" -> ((qKmeansRefine _, Some(qKmeansRefineSql))),
    "q_pq_ann" -> ((qPqAnn _, Some(qPqAnnSql))))
}
