package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

import graft.pipeline.SpanExtract

/** Output check: every output doc is reduced to a digest of its
  * (kind, text, media_ref, order) sequence and compared with a
  * straight-line reference that runs each doc's spans in position order
  * through SpanExtract, with no Spark and no shuffle. */
object Check {

  /** Seed whose outputs are pinned below. */
  val DefaultSeed = 1L
  /** Docs at the head of the default-seed input whose reference digest
    * every run recomputes, so a change in kernel semantics fails the
    * check whatever seed a run uses. */
  val PinnedDocs = 200

  /** workload -> (digest of the first [[PinnedDocs]] reference docs at
    * [[DefaultSeed]], digest of the whole default-seed output). */
  val Pinned: Map[String, (String, String)] = Map(
    "mixed_small_docs" -> ("a97adf2901b4b51e", "22feb88f4d070d1a"),
    "mega_doc_skew" -> ("5a72a9f9a0c20efb", "de0fbde70123aa13"))

  private def field(md: MessageDigest, s: String): Unit = {
    if (s == null) md.update(0.toByte) else { md.update(1.toByte); md.update(s.getBytes(UTF_8)) }
    md.update(0x1F.toByte)
  }

  /** Digest of one doc's ordered (kind, text, media_ref, order) spans. */
  def doc(spans: Iterator[(String, String, String, Int)]): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    spans.foreach { case (kind, text, ref, order) =>
      field(md, kind); field(md, text); field(md, ref); field(md, order.toString)
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  /** Digest of a whole output: the sorted (doc_id, doc digest) pairs. */
  def output(docs: Map[String, Long]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    docs.toSeq.sortBy(_._1).foreach { case (id, d) => field(md, id); field(md, d.toString) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def reference(docs: Seq[BDoc]): Map[String, Long] =
    docs.iterator.map { d =>
      d.doc_id -> doc(d.spans.iterator.zipWithIndex.map { case (s, i) =>
        (s.kind, SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, i)
      })
    }.toMap

  /** Digests of (doc_id, span_seq) rows as graft's extraction emits them. */
  def rows(rows: Iterable[Row]): Map[String, Long] =
    rows.iterator.map { r =>
      r.getString(0) -> doc(r.getSeq[Row](1).iterator.map { s =>
        (s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref"),
          s.getAs[Number]("order").intValue)
      })
    }.toMap

  /** Docs missing from, different in, or extra in `got`. */
  def mismatches(reference: Map[String, Long], got: Map[String, Long]): Int =
    reference.count { case (id, d) => !got.get(id).contains(d) } +
      got.keysIterator.count(id => !reference.contains(id))
}
