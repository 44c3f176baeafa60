package graft.functions

import graft.model.Point
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The series key `name{k=v,…}` of [[graft.model.Point.seriesKey]] as
 * one native expression. The built-in composition it replaces
 * (`regexp_replace` escapes, `array_sort` + `transform` over
 * `map_entries`, `concat_ws`) carries lambdas, which keep the
 * projection that derives the key out of whole-stage codegen; here the
 * generated code is one static call to [[graft.model.Point.keyOf]].
 * Null only when `name` is null; a null `labels` keys like an empty
 * map.
 */
case class SeriesKey(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, MapType(StringType, StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"series_key requires (string, map<string,string>), got ${l.simpleString}, ${r.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullable: Boolean = left.nullable

  override def prettyName: String = "series_key"

  override def eval(input: InternalRow): Any = {
    val name = left.eval(input)
    if (name == null) null
    else Point.keyOf(name.asInstanceOf[UTF8String], right.eval(input).asInstanceOf[MapData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = left.genCode(ctx)
    val m = right.genCode(ctx)
    ev.copy(code = code"""
      ${n.code}
      ${m.code}
      boolean ${ev.isNull} = ${n.isNull};
      UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.model.Point.keyOf(${n.value}, ${m.isNull} ? null : ${m.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SeriesKey =
    copy(left = newLeft, right = newRight)
}
