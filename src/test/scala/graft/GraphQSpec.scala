package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQ

/** Link-graph semantic invariants (exact values pinned by the DuckDB
  * oracle; these pin the PROPERTIES that make the numbers meaningful). */
class GraphQSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("pagerank: degree accounting, rank floor, sink baseline, mass bound") {
    val rows = GraphQ.qPagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == n)
    // every edge has one src and one dst
    assert(rows.map(_._2).sum == rows.map(_._3).sum)
    // the damping term is a hard floor; a node with no inbound sits exactly on it
    assert(rows.forall(_._4 >= 150000L))
    // any inbound edge contributes >= floor(150000/3) > 0, so a node sits
    // exactly on the floor iff it has no inbound at all (at this sf the
    // LCG stride is coprime with N, so usually every node has inbound)
    rows.foreach { case (_, _, ind, rank) => assert((rank == 150000L) == (ind == 0L)) }
    // some node must accumulate real mass (non-degenerate graph)
    assert(rows.exists(_._4 > 1000000L))
    // total mass never exceeds the initial injection (leak-only dynamics:
    // per-round total <= 0.15*N*1e6 + 0.85*(previous total))
    assert(rows.map(_._4).sum <= n * 1000000L)
    // determinism across reruns
    assert(GraphQ.qPagerank(spark, dir).collect().sortBy(_.getLong(0)).map(_.getLong(3)).toSeq ==
      rows.map(_._4).toSeq)
  }

  test("triangle counts match an in-memory brute force") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    // rebuild the same LCG edge set on the driver
    val edges = docs.select(col("doc_id")).collect().map(_.getLong(0)).flatMap { i =>
      (1L to (i % 3 + 1)).map(j => (i, (i * 48271L + j * 1009L) % n)).filter { case (a, b) => a != b }
    }
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).toVector
    val adj = nodes.map(v => v -> canon.collect { case (a, b) if a == v => b; case (a, b) if b == v => a }).toMap
    val expected = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- canon; c <- adj(a) if c > b && canon.contains((b, c))) {
      expected(a) += 1; expected(b) += 1; expected(c) += 1
    }
    val got = GraphQ.qTriangleCount(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (node, cnt) => assert(cnt == expected(node), s"node $node") }
    assert(expected.values.sum == got.values.sum && got.values.sum > 0)
  }

  test("bfs: seeds at 0, neighbors-of-seeds at 1, triangle inequality over edges") {
    val dist = GraphQ.qBfsDist(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val byNode = dist.map(d => d._1 -> d._2).toMap
    dist.foreach { case (id, d, seed) =>
      assert(seed == (id % 128 == 0))
      if (seed) assert(d == 0L) else assert(d == -1L || d >= 1L)
      assert(d <= GraphQ.BfsHops)
    }
    // relaxation law: for every undirected edge (u,v) with both reached
    // strictly inside the hop budget, |d(u) - d(v)| <= 1
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val edges = docs.select(col("doc_id")).collect().map(_.getLong(0)).flatMap { i =>
      (1L to (i % 3 + 1)).map(j => (i, (i * 48271L + j * 1009L) % n)).filter { case (a, b) => a != b }
    }
    edges.foreach { case (u, v) =>
      val (du, dv) = (byNode(u), byNode(v))
      if (du >= 0 && dv >= 0 && du < GraphQ.BfsHops && dv < GraphQ.BfsHops)
        assert(math.abs(du - dv) <= 1, s"edge ($u,$v): $du vs $dv")
      // a node strictly inside the budget forces its neighbor to be reached
      if (du >= 0 && du < GraphQ.BfsHops) assert(dv >= 0, s"($u,$v) neighbor unreached")
    }
  }

  test("anchor aggregation: count bounds and argmax consistency") {
    val rows = GraphQ.qAnchorAgg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, inlinks, distinct, top, topCount) =>
      assert(distinct >= 1L && distinct <= inlinks)
      assert(topCount >= 1L && topCount <= inlinks)
      // the winning anchor must cover at least an equal share
      assert(topCount * distinct >= inlinks)
      assert(top != null && top.nonEmpty)
    }
    // inlink totals agree with pagerank's in_degree column
    val indeg = GraphQ.qPagerank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { case (t, inlinks, _, _, _) => assert(indeg(t) == inlinks) }
  }
}
