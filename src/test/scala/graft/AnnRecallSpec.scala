package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExprs
import graft.queries.SimilarityQ

/** q_ann_recall pinned against a full in-memory brute force at sf0.001:
  * exact top-5, IVF assignment, single-probe search and the recall join
  * are all re-derived independently (driver-side loops over quantized
  * ints via the pinned VectorExprs.quantize), so the distributed plan
  * and the brute force must agree row-for-row. The cross-engine values
  * are additionally oracle-checked at sf0.01/sf0.1 by the driver. */
class AnnRecallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("q_ann_recall == brute force (exact top5 vs IVF probe) at sf0.001") {
    val vecs: Map[Long, Array[Long]] =
      SimilarityQ.embeddings(spark, dir).collect()
        .flatMap { r =>
          if (r.isNullAt(1)) None
          else {
            val arr = r.getSeq[Float](1).toArray
            if (arr.isEmpty) None
            else Some(r.getLong(0) -> arr.map(VectorExprs.quantize))
          }
        }.toMap

    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    def sim(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      dot(va, vb).toDouble / (math.sqrt(dot(va, va).toDouble) * math.sqrt(dot(vb, vb).toDouble))
    }

    val qids = vecs.keys.filter(_ < 5).toSeq.sorted
    val cands = vecs.keys.filter(_ >= 5).toSeq.sorted
    val cents = vecs.keys.filter(_ < 16).toSeq.sorted
    assert(qids.nonEmpty && cands.size > 20 && cents.size >= 8)

    // exact brute-force top-5 per query (sim desc, cid asc)
    val exactTop5: Map[Long, Set[Long]] = qids.map { q =>
      q -> cands.map(c => (c, sim(q, c))).sortBy { case (c, s) => (-s, c) }
        .take(5).map(_._1).toSet
    }.toMap
    // IVF assignment: nearest centroid (sim desc, cid asc)
    val assign: Map[Long, Long] = vecs.keys.map { v =>
      v -> cents.map(c => (c, sim(v, c))).sortBy { case (c, s) => (-s, c) }.head._1
    }.toMap
    // single-probe search: rank only the query's own centroid list
    val probedTop5: Map[Long, Set[Long]] = qids.map { q =>
      val list = cands.filter(c => assign(c) == assign(q))
      q -> list.map(c => (c, sim(q, c))).sortBy { case (c, s) => (-s, c) }
        .take(5).map(_._1).toSet
    }.toMap

    val got = SimilarityQ.qAnnRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.map(_._1).toSeq == qids, "one row per query vector, ordered")
    got.foreach { case (q, nExact, nHits, bp) =>
      val hits = (exactTop5(q) & probedTop5(q)).size.toLong
      assert(nExact == 5L, s"q=$q n_exact")
      assert(nHits == hits, s"q=$q n_hits: got $nHits, brute $hits")
      assert(bp == hits * 10000L / 5L, s"q=$q recall_bp")
      assert(bp >= 0L && bp <= 10000L)
    }
    // the report must be non-vacuous: a single-probe search on 16 lists
    // cannot be trivially perfect AND must find something on this corpus
    assert(got.map(_._3).sum > 0, "probe found nothing — fixture degenerate")
  }

  test("q_pq_recall == brute force (exact L2 top10 vs PQ/ADC top10) at sf0.001") {
    val vecs: Map[Long, Array[Long]] =
      SimilarityQ.embeddings(spark, dir).collect()
        .flatMap { r =>
          if (r.isNullAt(1)) None
          else {
            val arr = r.getSeq[Float](1).toArray
            if (arr.isEmpty) None
            else Some(r.getLong(0) -> arr.map(VectorExprs.quantize))
          }
        }.toMap
    val subDim = vecs.values.head.length / SimilarityQ.PqSubspaces

    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def subSq(v: Array[Long], c: Array[Long], m: Int): Long =
      (m * subDim until (m + 1) * subDim).map(d => (v(d) - c(d)) * (v(d) - c(d))).sum

    val qids = vecs.keys.filter(_ < 5).toSeq.sorted
    val cands = vecs.keys.filter(_ >= 5).toSeq.sorted
    val cents = vecs.keys.filter(_ < 16).toSeq.sorted
    val ms = 0 until SimilarityQ.PqSubspaces

    // codes: per candidate and sub-space, nearest codebook centroid
    val codes: Map[(Long, Int), Long] = (for {
      v <- cands; m <- ms
    } yield (v, m) -> cents.map(c => (c, subSq(vecs(v), vecs(c), m)))
      .sortBy { case (c, sq) => (sq, c) }.head._1).toMap
    // ADC: query's exact sub-distance to the candidate's code
    val adc: Map[(Long, Long), Long] = (for {
      q <- qids; v <- cands
    } yield (q, v) -> ms.map(m => subSq(vecs(q), vecs(codes((v, m))), m)).sum).toMap

    val exactTop10: Map[Long, Set[Long]] = qids.map { q =>
      q -> cands.map(c => (c, l2(vecs(q), vecs(c)))).sortBy { case (c, d) => (d, c) }
        .take(10).map(_._1).toSet
    }.toMap
    val probedTop10: Map[Long, Set[Long]] = qids.map { q =>
      q -> cands.map(c => (c, adc((q, c)))).sortBy { case (c, d) => (d, c) }
        .take(10).map(_._1).toSet
    }.toMap

    val got = SimilarityQ.qPqRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.map(_._1).toSeq == qids)
    got.foreach { case (q, nExact, nHits, bp) =>
      val hits = (exactTop10(q) & probedTop10(q)).size.toLong
      assert(nExact == 10L, s"q=$q n_exact")
      assert(nHits == hits, s"q=$q n_hits: got $nHits, brute $hits")
      assert(bp == hits * 10000L / 10L, s"q=$q recall_bp")
    }
    assert(got.map(_._3).sum > 0, "ADC found nothing — fixture degenerate")
  }
}
