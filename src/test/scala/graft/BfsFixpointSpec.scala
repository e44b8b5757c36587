package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{GraphQ, Tables}

/** q_bfs_fixpoint (round-4 verdict #6): until-convergence BFS pinned
  * against an in-test brute-force BFS over the identically-derived edge
  * relation, plus the convergence-machinery laws it inherits from
  * q_dedup_cluster — genuine convergence on the real corpus, exact
  * distances on a controlled deep path, the BfsMaxRounds cap semantics,
  * and ONE Spark count action per relaxation round. */
class BfsFixpointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** qBfsFixpoint's plan, with the kernel's round count returned. */
  private def fixpointWithRounds() = {
    val docs = Tables.documents(spark, dir)
    GraphQ.bfsFixpointOver(docs, GraphQ.linkEdges(docs))
  }

  /** Driver-side BFS over an explicit undirected edge list. */
  private def bruteBfs(nodes: Seq[Long], edges: Seq[(Long, Long)],
                       seeds: Set[Long]): Map[Long, Long] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    var frontier = seeds.toVector
    frontier.foreach(sd => dist(sd) = 0L)
    var d = 0L
    while (frontier.nonEmpty && d < GraphQ.BfsMaxRounds) {
      d += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains).distinct
      frontier.foreach(n => dist(n) = d)
    }
    nodes.map(n => n -> dist.getOrElse(n, -1L)).toMap
  }

  test("fixpoint == brute-force BFS on the real corpus; genuinely converged") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val n = docs.size.toLong
    // the identically-derived synthetic multigraph (GraphQ.linkEdges)
    val edges = docs.flatMap { src =>
      (1L to (src % 3 + 1)).map(j => (src, (src * 48271L + j * 1009L) % n))
        .filter { case (s, t) => s != t }
    }
    val expected = bruteBfs(docs, edges, docs.filter(_ % 128 == 0).toSet)

    val (fixpoint, rounds) = fixpointWithRounds()
    val got = fixpoint.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == docs.size)
    got.foreach { case (doc, dist, isSeed) =>
      assert(dist == expected(doc), s"dist of $doc")
      assert(isSeed == (doc % 128 == 0))
    }
    // converged BEFORE the safety bound (loop exited on changed == 0)
    assert(rounds < GraphQ.BfsMaxRounds,
      s"did not converge: $rounds rounds")
    // non-vacuous vs the bounded q_bfs_dist: some node sits beyond 4 hops
    assert(got.exists { case (_, d, _) => d > GraphQ.BfsHops || d == -1L },
      "corpus graph never exceeds the 4-hop bound — fixpoint adds nothing")
  }

  test("deep path: exact distances past any fixed hop bound; cap semantics at 64") {
    import spark.implicits._
    // a pure 200-node path seeded ONLY at its head: ids past the head
    // are ≡ 1 (mod 128) so no interior node matches the seed predicate
    // (a plain 0..199 range would seed node 128 mid-path). Distances
    // are the path positions; nodes past BfsMaxRounds must report -1
    // (the documented cap, mirrored in the oracle's recursion guard).
    def vid(i: Long): Long = if (i == 0) 0L else 128L * (i - 1) + 1
    val nodes = (0L until 200L).map(vid).toDF("doc_id")
    val edges = (0L until 199L).map(i => (vid(i), vid(i + 1))).toDF("src", "dst")
    val (path, pathRounds) = GraphQ.bfsFixpointOver(nodes, edges)
    val got = path.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 200L).foreach { i =>
      val want = if (i <= GraphQ.BfsMaxRounds) i else -1L
      assert(got(vid(i)) == want, s"path position $i (id ${vid(i)})")
    }
    assert(pathRounds == GraphQ.BfsMaxRounds) // exited on the cap
    // and a SHORT path converges in diameter + 1 rounds, all exact
    val nodes2 = (0L until 30L).toDF("doc_id")
    val edges2 = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
    val (path2, path2Rounds) = GraphQ.bfsFixpointOver(nodes2, edges2)
    val got2 = path2.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 30L).foreach(i => assert(got2(i) == i))
    assert(path2Rounds == 30) // 29 relaxations + the zero-change round
  }

  test("one Spark count action per relaxation round (lazy checkpoint, fused convergence)") {
    GraphQ.qBfsFixpoint(spark, dir).count() // warm lineage/memos

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
      val (fixpoint, rounds) = fixpointWithRounds()
      val n = fixpoint.count()
      Thread.sleep(500) // async listener bus
      assert(n > 0)
      assert(rounds >= 2, s"expected several rounds, got $rounds")
      assert(countActions.get() <= rounds + 1,
        s"qBfsFixpoint ran ${countActions.get()} count actions for $rounds rounds — " +
          "convergence check regressed to a separate job per round?")
    } finally spark.listenerManager.unregister(qel)
  }
}
