package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QCache.ScopedCacheOps
import Tables.documents

/** Link-graph analytics over the crawl corpus — the selection signals a
  * web-scale training pipeline derives from the hyperlink structure
  * (reference scope boundary: ocrchestra stops at per-document
  * extraction; link-level ranking/aggregation is an engine-side
  * addition, SURVEY.md §2.F).
  *
  * The graph is synthesized deterministically from the documents table
  * (no external data, per the task brief): doc `i` links to
  * `(i*48271 + j*1009) mod N` for `j in 1..(i mod 3 + 1)`, self-links
  * dropped. Both the Spark job and the DuckDB oracle re-derive the
  * same edges from the same arithmetic, so every number is
  * independently predicted.
  *
  * Determinism rules (CLAUDE.md): all rank math is BIGINT — scaled
  * integer ranks with `div`/`//` floor division (identical for the
  * non-negative values here), never double division; ties in the
  * anchor argmax break on the anchor string.
  *
  * Scale notes (100 TB framing):
  *   - PageRank is the canonical iterative shuffle: each round joins
  *     the slim (node, rank) relation to the edge list on src and
  *     re-aggregates on dst. The edge relation (with out-degree
  *     attached) is computed ONCE and cached pre-partitioned on the
  *     join key, so every iteration shuffles only the two-column rank
  *     relation — at 10^12 edges the edge side is the one you must
  *     not re-shuffle per round.
  *   - A fixed iteration count (5) keeps the DAG bounded; a
  *     convergence-driven variant would reuse the q_dedup_cluster
  *     pattern (localCheckpoint-truncated lineage, changed-count
  *     riding the materializing action).
  *   - Contributions use map-side partial aggregation (sum by dst);
  *     the per-round shuffle carries one row per (dst) partial, not
  *     one per edge.
  *   - Anchor aggregation is two hash-aggregates over the same edge
  *     relation plus a top-1 window on the (dst, anchor) counts — the
  *     window input is already the deduped pair relation, not the raw
  *     edge stream.
  */
object GraphQ {

  /** Deterministic link edges (src, dst) — multigraph semantics: if two
    * j values collide on the same dst the edge counts twice, exactly as
    * the oracle's UNNEST does. */
  private[graft] def linkEdges(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(expr("sequence(1, CAST(doc_id % 3 + 1 AS INT))")).as("j"),
        col("n_docs"))
      .select(col("src"), ((col("src") * 48271L + col("j") * 1009L) % col("n_docs")).as("dst"))
      .filter(col("dst") =!= col("src"))
  }

  private val EdgesSql: String =
    """nrel AS (SELECT COUNT(*) AS n_docs FROM documents),
      |e AS (SELECT src, dst FROM (
      |        SELECT d.doc_id AS src,
      |               (d.doc_id * 48271 + u.j * 1009) % n.n_docs AS dst
      |        FROM documents d CROSS JOIN nrel n,
      |             UNNEST(generate_series(1, d.doc_id % 3 + 1)) AS u(j))
      |      WHERE dst != src)""".stripMargin

  val Iterations = 5

  /** Integer PageRank, 5 fixed rounds: r0 = 1e6 per node;
    * r' = 150000 + (85 * sum(r_src div outdeg_src)) div 100. Dangling
    * mass (a node whose every generated target was itself) leaks, as in
    * the classic formulation without a dangling-redistribution term —
    * both engines compute the identical recurrence. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val e = linkEdges(docs)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // edge list with out-degree attached, cached pre-partitioned on the
    // per-iteration join key: each round reuses this exchange and only
    // the slim (doc_id, rank) relation moves
    val ed = e.join(deg, Seq("src")).repartition(col("src")).scopedCache()
    var ranks = docs.select(col("doc_id"), lit(1000000L).as("rank"))
    for (_ <- 1 to Iterations) {
      val contribs = ed.join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      ranks = docs.select(col("doc_id"))
        .join(contribs.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("CAST(150000 + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100 AS BIGINT)").as("rank"))
    }
    val indeg = e.groupBy(col("dst")).agg(count(lit(1)).as("ind"))
    ranks
      .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .join(indeg.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("outdeg"), lit(0L)).as("out_degree"),
        coalesce(col("ind"), lit(0L)).as("in_degree"),
        col("rank").as("rank_scaled"))
  }

  val qPagerankSql: String = {
    val rounds = (1 to Iterations).map { i =>
      s"""c$i AS (SELECT ed.dst, CAST(SUM(r${i - 1}.rank // ed.outdeg) AS BIGINT) AS s
         |        FROM ed JOIN r${i - 1} ON r${i - 1}.doc_id = ed.src GROUP BY ed.dst),
         |r$i AS (SELECT d.doc_id,
         |          CAST(150000 + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) AS rank
         |        FROM documents d LEFT JOIN c$i ON c$i.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EdgesSql,
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
       |indeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS ind FROM e GROUP BY dst),
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS rank FROM documents),
       |$rounds
       |SELECT r$Iterations.doc_id,
       |  CAST(COALESCE(deg.outdeg, 0) AS BIGINT) AS out_degree,
       |  CAST(COALESCE(indeg.ind, 0) AS BIGINT) AS in_degree,
       |  r$Iterations.rank AS rank_scaled
       |FROM r$Iterations
       |LEFT JOIN deg ON deg.src = r$Iterations.doc_id
       |LEFT JOIN indeg ON indeg.dst = r$Iterations.doc_id
       |ORDER BY r$Iterations.doc_id""".stripMargin
  }

  /** Anchor-text aggregation: per link target, the inbound-link count,
    * distinct-anchor count, and the most frequent anchor (ties ->
    * lexicographically smallest anchor). The anchor of an edge is the
    * first whitespace token of the source document — the deterministic
    * stand-in for the `<a>` text a crawl pipeline would carry. */
  def qAnchorAgg(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val anchors = docs.select(col("doc_id").as("src"),
      element_at(split(trim(col("text")), "\\s+"), 1).as("anchor"))
    // consumed twice (top-anchor window AND the per-target rollup):
    // cache the deduped (dst, anchor) counts so the edge-join lineage
    // executes once — the same self-reuse policy as DedupQ's temporaries
    val pa = linkEdges(docs).join(anchors, Seq("src"))
      .groupBy(col("dst"), col("anchor")).agg(count(lit(1)).as("c"))
      .scopedCache()
    val top = pa.withColumn("rn",
        row_number().over(Window.partitionBy(col("dst")).orderBy(col("c").desc, col("anchor").asc)))
      .filter(col("rn") === 1)
      .select(col("dst"), col("anchor").as("top_anchor"), col("c").as("top_anchor_count"))
    pa.groupBy(col("dst"))
      .agg(sum(col("c")).as("n_inlinks"), count(lit(1)).as("n_distinct_anchors"))
      .join(top, Seq("dst"))
      .select(col("dst").as("target_id"), col("n_inlinks"),
        col("n_distinct_anchors"), col("top_anchor"), col("top_anchor_count"))
  }

  val qAnchorAggSql: String =
    s"""WITH $EdgesSql,
       |a AS (SELECT doc_id AS src,
       |        regexp_split_to_array(trim(text), '\\s+')[1] AS anchor
       |      FROM documents),
       |pa AS (SELECT e.dst, a.anchor, COUNT(*) AS c
       |       FROM e JOIN a USING (src) GROUP BY e.dst, a.anchor),
       |top AS (SELECT dst, anchor, c FROM (
       |          SELECT dst, anchor, c,
       |                 ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, anchor ASC) AS rn
       |          FROM pa) WHERE rn = 1),
       |tot AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS n_inlinks,
       |               CAST(COUNT(*) AS BIGINT) AS n_distinct_anchors
       |        FROM pa GROUP BY dst)
       |SELECT tot.dst AS target_id, n_inlinks, n_distinct_anchors,
       |       top.anchor AS top_anchor, CAST(top.c AS BIGINT) AS top_anchor_count
       |FROM tot JOIN top ON top.dst = tot.dst
       |ORDER BY target_id""".stripMargin

  /** Per-node triangle counts over the undirected link graph — the
    * clustering signal (spam farms and mirror rings show up as dense
    * triangles; organic link neighborhoods are sparse). Node-id
    * orientation (a < b < c): each triangle is enumerated exactly once
    * as two joins over the canonical edge set, never a cube of the
    * neighborhood.
    *
    * Scale notes: the classic trick at 10^12 edges is orienting edges
    * from lower to higher DEGREE (bounds wedge fan-out by sqrt(m));
    * node-id orientation is its deterministic stand-in here and the
    * join shape is identical — two shuffle equi-joins on the slim
    * (a, b) relation, then an explode+groupBy rollup with partial
    * aggregation. No all-pairs step exists anywhere. */
  def qTriangleCount(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val ec = linkEdges(docs)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val wedges = ec.as("e1")
      .join(ec.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    val tri = wedges.join(ec.as("e3"), col("wa") === col("e3.a") && col("wc") === col("e3.b"))
      .select(col("wa").as("a"), col("wb").as("b"), col("wc").as("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("cnt"))
    docs.select(col("doc_id"))
      .join(perNode.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cnt"), lit(0L)).as("n_triangles"))
  }

  val qTriangleCountSql: String =
    s"""WITH $EdgesSql,
       |ec AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e),
       |tri AS (SELECT e1.a, e1.b, e2.b AS c
       |        FROM ec e1 JOIN ec e2 ON e2.a = e1.b
       |        JOIN ec e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (SELECT node, COUNT(*) AS cnt
       |       FROM (SELECT UNNEST([a, b, c]) AS node FROM tri) GROUP BY node)
       |SELECT d.doc_id, CAST(COALESCE(pn.cnt, 0) AS BIGINT) AS n_triangles
       |FROM documents d LEFT JOIN pn ON pn.node = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val BfsHops = 4
  private val Inf = 999L

  /** Bounded BFS: hop distance from the seed set (doc_id % 128 == 0)
    * over the UNDIRECTED link graph, 4 relaxation rounds — crawl-depth
    * / freshness-propagation labeling (how far a page sits from the
    * trusted frontier). The iterative MIN-aggregation complement to
    * PageRank's SUM: each round joins the slim (node, dist) relation to
    * the cached undirected edge list and relaxes dist via min(dist,
    * min_neighbor + 1). Unreached after 4 hops reports -1.
    *
    * Scale: same per-round shape as qPagerank (edges cached once,
    * pre-partitioned; per-round shuffle = the two-column distance
    * relation with map-side partial MIN). Bounded hops keep the DAG
    * static; [[qBfsFixpoint]] is the until-convergence variant on the
    * q_dedup_cluster checkpoint/convergence machinery. */
  def qBfsDist(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val e = linkEdges(docs)
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).scopedCache()
    var dist = docs.select(col("doc_id"),
      when(col("doc_id") % 128 === 0, 0L).otherwise(lit(Inf)).as("dist"))
    for (_ <- 1 to BfsHops) {
      val relaxed = und.join(dist.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst")).agg(min(col("dist") + 1).as("mv"))
      // LAZY checkpoint per round (the connectedComponents technique):
      // each round references the previous `dist` TWICE (directly and
      // via `relaxed`), so without truncation the lineage doubles per
      // round — 2^4 = 16 re-executions of the base by round 4 (measured
      // 12.3 s vs qPagerank's 2.2 s, whose rounds reference the prior
      // relation once). The checkpoint adds no action; round N's plan
      // starts from round N-1's materialized partitions. The price is
      // lineage: localCheckpoint keeps those partitions in executor
      // storage only, so losing an executor loses them and the job
      // fails instead of recomputing them.
      dist = dist.join(relaxed.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), least(col("dist"), coalesce(col("mv"), lit(Inf))).as("dist"))
        .localCheckpoint(eager = false)
    }
    dist.select(col("doc_id"),
        when(col("dist") >= Inf, -1L).otherwise(col("dist")).as("dist"),
        (col("doc_id") % 128 === 0).as("is_seed"))
  }

  val qBfsDistSql: String = {
    val rounds = (1 to BfsHops).map { i =>
      s"""m$i AS (SELECT und.dst AS doc_id, MIN(d${i - 1}.dist + 1) AS mv
         |        FROM und JOIN d${i - 1} ON d${i - 1}.doc_id = und.src GROUP BY und.dst),
         |d$i AS (SELECT d${i - 1}.doc_id,
         |          LEAST(d${i - 1}.dist, COALESCE(m$i.mv, $Inf)) AS dist
         |        FROM d${i - 1} LEFT JOIN m$i ON m$i.doc_id = d${i - 1}.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EdgesSql,
       |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |d0 AS (SELECT doc_id,
       |         CAST(CASE WHEN doc_id % 128 = 0 THEN 0 ELSE $Inf END AS BIGINT) AS dist
       |       FROM documents),
       |$rounds
       |SELECT doc_id,
       |  CAST(CASE WHEN dist >= $Inf THEN -1 ELSE dist END AS BIGINT) AS dist,
       |  doc_id % 128 = 0 AS is_seed
       |FROM d$BfsHops ORDER BY doc_id""".stripMargin
  }

  /** Safety bound on [[qBfsFixpoint]]'s convergence loop, expressed
    * IDENTICALLY in the oracle's recursion guard (64 relaxation rounds
    * reach exactly dist <= 64, so the guard is `dist + 1 <= 64`) — the
    * two engines agree even on a pathological >64-hop component.
    * 64 is effectively infinite for web link graphs (measured crawl
    * diameters sit around ~20); BfsFixpointSpec pins GENUINE
    * convergence — changed == 0 well before the bound — on both the
    * real corpus and a deep synthetic chain. */
  val BfsMaxRounds = 64

  /** BFS distance run TO FIXPOINT (round-4 verdict #6) — the
    * until-convergence complement of [[qBfsDist]]'s fixed 4-hop bound,
    * reusing q_dedup_cluster's convergence machinery: per round, relax
    * dist over the cached pre-partitioned edge list, carry the changed
    * flag ON the update relation, LAZY localCheckpoint (truncates the
    * logical plan so round N's plan does not embed rounds 1..N-1), and
    * the convergence count() is the ONE action that materializes it —
    * one Spark action per round (BfsFixpointSpec pins the action count
    * via QueryExecutionListener, the DedupClusterSpec technique).
    * Termination is guaranteed: dist decreases monotonically in a
    * finite lattice, so rounds <= graph eccentricity + 1 (plus the
    * [[BfsMaxRounds]] safety bound mirrored in the oracle).
    *
    * Scale: identical per-round shape to qBfsDist — the shuffle carries
    * the 2-column distance relation with map-side partial MIN; rounds
    * grow with the graph's eccentricity, not its size. */
  def qBfsFixpoint(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    bfsFixpointOver(docs, linkEdges(docs))._1
  }

  /** The fixpoint kernel over any (doc_id) node relation and (src, dst)
    * edge relation, with the number of rounds it ran — exposed so
    * BfsFixpointSpec can pin the rounds and drive it with controlled
    * deep-path graphs the synthetic link generator cannot produce. */
  private[graft] def bfsFixpointOver(docs: DataFrame, e: DataFrame): (DataFrame, Int) = {
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).scopedCache()
    var dist = docs.select(col("doc_id"),
      when(col("doc_id") % 128 === 0, 0L).otherwise(lit(Inf)).as("dist"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < BfsMaxRounds) {
      val relaxed = und.join(dist.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst")).agg(min(col("dist") + 1).as("mv"))
      val nd = least(col("dist"), coalesce(col("mv"), lit(Inf)))
      val updated = dist
        .join(relaxed.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), nd.as("ndist"), (nd < col("dist")).as("chg"))
        .localCheckpoint(eager = false)
      changed = updated.filter(col("chg")).count()
      dist = updated.select(col("doc_id"), col("ndist").as("dist"))
      rounds += 1
    }
    (dist.select(col("doc_id"),
        when(col("dist") >= Inf, -1L).otherwise(col("dist")).as("dist"),
        (col("doc_id") % 128 === 0).as("is_seed")), rounds)
  }

  val qBfsFixpointSql: String =
    s"""WITH RECURSIVE $EdgesSql,
       |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |reach AS (
       |  SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist
       |  FROM documents WHERE doc_id % 128 = 0
       |  UNION
       |  SELECT und.dst, r.dist + 1 FROM reach r JOIN und ON und.src = r.node
       |  WHERE r.dist + 1 <= $BfsMaxRounds),
       |md AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
       |SELECT d.doc_id,
       |  CAST(COALESCE(md.dist, -1) AS BIGINT) AS dist,
       |  d.doc_id % 128 = 0 AS is_seed
       |FROM documents d LEFT JOIN md ON md.node = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_pagerank" -> ((qPagerank _, Some(qPagerankSql))),
    "q_anchor_agg" -> ((qAnchorAgg _, Some(qAnchorAggSql))),
    "q_triangle_count" -> ((qTriangleCount _, Some(qTriangleCountSql))),
    "q_bfs_dist" -> ((qBfsDist _, Some(qBfsDistSql))),
    "q_bfs_fixpoint" -> ((qBfsFixpoint _, Some(qBfsFixpointSql))))
}
