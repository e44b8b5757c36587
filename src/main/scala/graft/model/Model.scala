package graft.model

/** Core row models for the extraction engine.
  *
  * Input table shape (BASELINE.json input_hint):
  *   (doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)
  * Output table shape (FIXTURES.md §2):
  *   (doc_id: string, span_seq: array<struct<kind,text,media_ref,order>>)
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)
final case class Doc(doc_id: String, spans: Seq[Span])

/** Bounding box, (x1,y1)=top-left (x2,y2)=bottom-right.
  * Mirrors /root/reference/pkg/hocr/types.go:89-99. */
final case class BBox(x1: Double, y1: Double, x2: Double, y2: Double)
object BBox { val zero: BBox = BBox(0, 0, 0, 0) }
