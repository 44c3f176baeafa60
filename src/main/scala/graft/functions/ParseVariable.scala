package graft.functions

import graft.model.Point
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Parses a series key (`skey`, built by [[graft.model.Point.seriesKey]])
 * back into (name, labels) through its exact inverse,
 * [[graft.model.Point.unkeyRow]]: escapes (`\\` `\,` `\=` `\{` `\}`)
 * lose one backslash, entries split on an unescaped `,` and key from
 * value on the first unescaped `=`. Not the reference's quoted text
 * form: [[graft.model.Variable.parse]] reads that one and would keep
 * the escapes in the name. A native expression rather than a Scala
 * UDF: codegen is one static call, no closure serialization, exact
 * null semantics.
 */
case class ParseVariable(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parse_variable requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = ParseVariable.outType

  override def prettyName: String = "parse_variable"

  override protected def nullSafeEval(input: Any): Any =
    Point.unkeyRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.model.Point.unkeyRow($in);")

  override protected def withNewChildInternal(newChild: Expression): ParseVariable =
    copy(child = newChild)
}

object ParseVariable {

  val outType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("labels", MapType(StringType, StringType), nullable = false)))

  def parseVariable(skey: Column): Column =
    GraftBridge.toColumn(ParseVariable(GraftBridge.toExpression(skey)))
}
