package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the apply half of char-span dedup
  * (q108): one document's pre-trimmed text plus its collected
  * `(s, e)` char ranges in, `(n_spans, n_chars_removed, clean_text)`
  * out — the one splice body behind q108, q115's s3 and the curation
  * and winnow sinks, one call per document and no row fan-out.
  *
  * The definition (the DuckDB oracles spell it out as
  * [[graft.operators.Winnow.spliceTailCtes]]):
  *  - spans sort by `(s, e)`; span i keeps the gap piece
  *    `[e(i-1) + 1, s(i) - 1]` (`e(0)` = 0), and the tail piece is
  *    `[max(e) + 1, n]` with n the text's length in code points; pieces
  *    with `ke < ks` are empty and dropped;
  *  - a piece is `substring(text, ks, ke - ks + 1)` with Spark's SQL
  *    semantics ([[UTF8String.substringSQL]]: 1-based, code points,
  *    clipped at the end), and pieces join in `(ks, piece)` order;
  *  - `n_spans` counts the spans and `n_chars_removed` sums
  *    `e - s + 1`, unclipped.
  * A doc without spans (null or empty array: the left join found none)
  * passes through unchanged with zero counts, null text included; a doc
  * with spans and a null text has no pieces and comes out `""`.
  */
case class SpanSplice(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StructType(Array(
          StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (t, sp) => TypeCheckResult.TypeCheckFailure(
        s"span_splice requires (string, array<struct<s: bigint, e: bigint>>), " +
          s"got (${t.simpleString}, ${sp.simpleString})")
    }

  override def dataType: DataType = SpanSplice.OutType
  override def nullable: Boolean = false
  override def prettyName: String = "span_splice"

  override def eval(input: InternalRow): Any =
    SpanSplice.compute(left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val sp = right.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      ${sp.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.expressions.SpanSplice.compute(${t.isNull} ? null : ${t.value},
          ${sp.isNull} ? null : ${sp.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanSplice =
    copy(left = newLeft, right = newRight)
}

object SpanSplice {

  val OutType: StructType = StructType(Seq(
    StructField("n_spans", LongType, nullable = false),
    StructField("n_chars_removed", LongType, nullable = false),
    StructField("clean_text", StringType)))

  /** Static entry point shared by interpreted + generated code paths. */
  def compute(text: UTF8String, spans: ArrayData): InternalRow = {
    val se = if (spans == null) Array.empty[(Long, Long)]
      else Array.tabulate(spans.numElements) { i =>
        val r = spans.getStruct(i, 2)
        (r.getLong(0), r.getLong(1))
      }
    if (se.isEmpty) return new GenericInternalRow(Array[Any](0L, 0L, text))
    val removed = se.map { case (s, e) => e - s + 1 }.sum
    val clean = if (text == null) UTF8String.EMPTY_UTF8 else {
      val sorted = se.sorted
      // (ks, ke) of each span's gap piece, then of the tail piece
      val ranges = (0L +: sorted.map(_._2)).zip(sorted.map(_._1))
        .map { case (prevE, s) => (prevE + 1, s - 1) } :+
        ((se.map(_._2).max + 1, text.numChars.toLong))
      val pieces = ranges.collect { case (ks, ke) if ke >= ks =>
        (ks, text.substringSQL(ks.toInt, (ke - ks + 1).toInt))
      }
      UTF8String.concat(pieces.sortWith { case ((ka, pa), (kb, pb)) =>
        ka < kb || (ka == kb && pa.compareTo(pb) < 0)
      }.map(_._2): _*)
    }
    new GenericInternalRow(Array[Any](se.length.toLong, removed, clean))
  }
}
