package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQ

/** qDedupCluster (connected components by min-label propagation) against
  * an independent in-test union-find over the same candidate pairs — on
  * a CHAIN corpus whose component diameter forces many propagation
  * rounds (the shape a fixed iteration cap would silently truncate). */
class DedupClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("dedupchain").toString
    // sliding-window texts: docs i and i+1 share 19 of 20 words -> LSH
    // chains adjacent docs; far docs share nothing
    val words = (0 until 80).map(i => s"tok${i}word")
    val chain = (0L until 60L).map { i =>
      (i, words.slice(i.toInt / 3, i.toInt / 3 + 20).mkString(" "))
    }
    val lone = Seq((900L, "completely different content island one of a kind here"),
      (901L, "another unrelated island with its very own words entirely"))
    (chain ++ lone).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("label propagation == union-find on a deep chain (no truncated components)") {
    val pairs = DedupQ.qMinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 15, s"chain corpus produced too few candidate pairs: ${pairs.length}")

    // independent union-find over the same pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val sizes = expected.groupBy(_._2).map { case (rep, m) => rep -> m.size.toLong }

    val got = DedupQ.qDedupCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == expected.keySet)
    got.foreach { case (doc, rep, size) =>
      assert(rep == expected(doc), s"doc $doc: rep $rep != union-find ${expected(doc)}")
      assert(size == sizes(rep), s"doc $doc: size $size != ${sizes(rep)}")
    }
    // the point of the corpus: at least one genuinely deep component
    assert(sizes.values.max >= 10, s"chain didn't chain: sizes ${sizes.values.toVector.sorted}")
  }

  test("pointer jumping: a 1000-node path converges in O(log d) rounds, labels still exact") {
    import spark.implicits._
    // connectedComponents is a standalone operator over any candidate
    // pair relation; drive it with a CONTROLLED worst-case graph (LSH
    // banding cannot produce one: high-Jaccard chains always carry
    // 2-hop shortcut edges, capping their diameter). A pure path of
    // 1000 nodes has diameter 999 — plain min-label propagation needs
    // ~999 full-relation rounds; the pointer-jump contraction must
    // finish in ~log2(1000) + change-detection slack.
    val pairs = spark.range(999L).select(
      org.apache.spark.sql.functions.col("id").as("doc_a"),
      (org.apache.spark.sql.functions.col("id") + 1L).as("doc_b"))
    val got = DedupQ.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val iters = DedupQ.lastClusterIterations
    assert(got.length == 1000)
    got.foreach { case (doc, rep, size) =>
      assert(rep == 0L, s"doc $doc -> $rep"); assert(size == 1000L)
    }
    assert(iters <= 16,
      s"pointer jumping regressed: $iters rounds for a 999-diameter path (plain propagation needs ~999)")
  }

  test("one Spark job per propagation iteration (lazy checkpoint + fused convergence count)") {
    // warm the memoized bands + edges lineage out of the measurement
    DedupQ.qDedupCluster(spark, dir).count()
    // let the async listener bus drain the warm-up count's event first:
    // a listener registered while it is still queued counts it too
    Thread.sleep(500)

    // Count ACTIONS (QueryExecutionListener), not Spark jobs: broadcast
    // exchanges and AQE stages each run helper jobs, so job count is a
    // proxy for plan shape, not for how many passes the loop makes. The
    // pre-fix loop ran TWO count actions per iteration (the eager
    // checkpoint's materialization plus a join-based convergence
    // check); the fused shape runs ONE (the convergence count IS the
    // action that materializes the lazy checkpoint).
    val countActions = new java.util.concurrent.atomic.AtomicInteger(0)
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") countActions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    try {
      val n = DedupQ.qDedupCluster(spark, dir).count()
      Thread.sleep(500) // let the async listener bus drain
      assert(n > 0)
      val iters = DedupQ.lastClusterIterations
      assert(iters >= 4, s"chain corpus should need several iterations, got $iters")
      // iters in-loop counts + the final .count() above (+0 slack): the
      // 2-actions-per-iteration shape would read >= 2*iters + 1
      assert(countActions.get() <= iters + 1,
        s"qDedupCluster ran ${countActions.get()} count actions for $iters iterations — " +
          "convergence check regressed to a separate job per iteration?")
    } finally spark.listenerManager.unregister(qel)
  }
}
