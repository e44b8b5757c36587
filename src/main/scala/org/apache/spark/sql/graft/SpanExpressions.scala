package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.html.Arena
import graft.pipeline.SpanExtract

/** The per-row span law of the extraction job: `spans` (an array of
  * structs with string fields `kind`, `text` and `media_ref`) becomes
  * `array<struct<kind, text, media_ref, order>>` in one loop over the
  * array. For the SpanExtract.TransformedKinds the text is
  * `SpanExtract.extractSpanText(kind, text, media_ref)`, read from and
  * written as UTF-8 bytes through one [[Arena]] per partition: the
  * generated code holds it as mutable state of its class, which one
  * task's thread runs over the partition, and `eval` makes one per row
  * (the expression itself holds no state, as expressions are shared);
  * every other span's text passes through as the same UTF8String.
  * `order` is `base + i` for the span at array index `i`.
  *
  * It replaces `transform(spans, (s, i) -> struct(s.kind, CASE WHEN
  * s.kind IN (...) THEN udf(...) ELSE s.text END, s.media_ref, base + i))`
  * with the same rows and the same output type, so the same nulls:
  *   - a NULL `spans` gives NULL;
  *   - a NULL element gives (NULL, NULL, NULL, order);
  *   - a NULL kind passes its text through;
  *   - a NULL text or media_ref reaches the kernel as null (it yields "");
  *   - a NULL `base` gives a NULL order.
  * The field ordinals are resolved by name, so the element struct may
  * order its fields freely and carry others (`offset`). SpanSeqExprSpec
  * pins the equality in both evaluation modes.
  *
  * The `transform` was interpreted per element (ArrayTransform is
  * CodegenFallback): a lambda bind, four field reads, an IN, a CASE,
  * a struct build, a boxed add and the UDF's converters for every span,
  * and it kept its Project out of whole-stage codegen. Here the loop is
  * one method, [[extract]]; `eval` and the generated code both call
  * it, once per row. */
case class ExtractSpanSeq(spans: Expression, base: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = spans
  override def right: Expression = base
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType, IntegerType)
  override def prettyName: String = "extract_span_seq"
  override def nullable: Boolean = spans.nullable

  private def spansType: ArrayType = spans.dataType.asInstanceOf[ArrayType]

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) return types
    spansType.elementType match {
      case st: StructType =>
        val bad = ExtractSpanSeq.Fields.filterNot(f =>
          st.getFieldIndex(f).exists(i => st(i).dataType.isInstanceOf[StringType]))
        if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs string fields ${bad.mkString(", ")} in ${st.catalogString}")
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs an array of structs, not ${other.catalogString}")
    }
  }

  @transient private lazy val element: StructType = spansType.elementType.asInstanceOf[StructType]
  @transient private lazy val ordinals: Array[Int] = ExtractSpanSeq.Fields.map(element.fieldIndex)

  override def dataType: DataType = {
    val Array(kindOrd, _, refOrd) = ordinals
    def field(ord: Int) = StructField(element(ord).name, element(ord).dataType,
      spansType.containsNull || element(ord).nullable)
    ArrayType(StructType(Array(
      field(kindOrd),
      StructField("text", StringType, nullable = true),
      field(refOrd),
      StructField("order", IntegerType, base.nullable))), containsNull = false)
  }

  override def eval(input: InternalRow): Any = {
    val a = spans.eval(input)
    if (a == null) return null
    val b = base.eval(input)
    extract(a.asInstanceOf[ArrayData], b == null, if (b == null) 0 else b.asInstanceOf[Int], null)
  }

  /** The per-row loop; see the class doc. `scratch` is the kernels'
    * arena, or null to make one for this row at its first transformed
    * span. */
  def extract(a: ArrayData, baseNull: Boolean, first: Int, scratch: Arena): ArrayData = {
    val n = a.numElements()
    val width = element.length
    val Array(kindOrd, textOrd, refOrd) = ordinals
    val out = new Array[Any](n)
    var arena = scratch
    var i = 0
    while (i < n) {
      val order = if (baseNull) null else Int.box(first + i)
      out(i) = new GenericInternalRow(
        if (a.isNullAt(i)) Array[Any](null, null, null, order)
        else {
          val s = a.getStruct(i, width)
          val kind = if (s.isNullAt(kindOrd)) null else s.getUTF8String(kindOrd)
          val text = if (s.isNullAt(textOrd)) null else s.getUTF8String(textOrd)
          val ref = if (s.isNullAt(refOrd)) null else s.getUTF8String(refOrd)
          val k = ExtractSpanSeq.transformedKind(kind)
          if (k != null && arena == null) arena = new Arena
          Array[Any](kind, if (k == null) text else SpanExtract.extractSpanText(k, text, ref, arena), ref, order)
        })
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Generated code calls [[extract]] on this instance: the Project
    * joins the scan's whole-stage-codegen stage and reads its input
    * without an intermediate row, and both modes run one body of
    * logic. The arena is a field of the generated class, made once per
    * partition iterator. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("extractSpanSeq", this)
    val arenaClass = classOf[Arena].getName
    val arena = ctx.addMutableState(arenaClass, "arena", v => s"$v = new $arenaClass();")
    val a = spans.genCode(ctx)
    val b = base.genCode(ctx)
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |boolean ${ev.isNull} = ${a.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.extract(${a.value}, ${b.isNull}, ${b.value}, $arena);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(spans = newLeft, base = newRight)
}

object ExtractSpanSeq {

  /** The element fields the law reads, in its output order. */
  private val Fields = Array("kind", "text", "media_ref")

  private val Transformed: Array[UTF8String] = SpanExtract.TransformedKinds.map(UTF8String.fromString)

  /** The SpanExtract kind String equal to `kind` when it is transformed,
    * else null (a NULL kind passes through). */
  private def transformedKind(kind: UTF8String): String = {
    if (kind == null) return null
    var j = 0
    while (j < Transformed.length) {
      if (Transformed(j) == kind) return SpanExtract.TransformedKinds(j)
      j += 1
    }
    null
  }
}
