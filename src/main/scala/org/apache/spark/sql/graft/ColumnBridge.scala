package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** Column ⇄ Expression bridge for engine code outside the sql package:
  * Spark 4's Column wraps a ColumnNode and the converters
  * (classic.ExpressionUtils) are private[sql], so operators building a
  * typed Column over a custom Catalyst expression (e.g. the ArrayDot
  * kernel) route through here.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Catalyst call of a Scala UDF (a `ScalaUDF`, its `udfName` the
    * UDF's name) or UDAF (a `ScalaAggregator`) over `args`: the same
    * expression, and the same argument-count error, as Spark's own
    * `UDFRegistration` builders, for registries that inject UDFs by name
    * (the converters are private[sql]).
    */
  def udfCall(f: UserDefinedFunction, args: Seq[Expression]): Expression = f match {
    case a: UserDefinedAggregator[_, _, _] => ScalaAggregator(a, args)
    case s: SparkUserDefinedFunction =>
      val arity = s.inputEncoders.length
      if (args.length != arity)
        throw QueryCompilationErrors.wrongNumArgsError(s.name, Seq(arity), args.length)
      UserDefinedFunctionUtils.toScalaUDF(s, args)
  }

  /** TypeCoercion.findWiderCommonType is private[sql]; PrestoOperators'
    * null-propagating extremum rewrite needs it to coerce mixed-type
    * greatest/least arguments exactly as Spark's own coercion rule
    * (FunctionArgumentConversion) would have.
    */
  def widerCommonType(dts: Seq[org.apache.spark.sql.types.DataType]):
      Option[org.apache.spark.sql.types.DataType] =
    org.apache.spark.sql.catalyst.analysis.TypeCoercion.findWiderCommonType(dts)

  /** DataType.sameType (nullability-insensitive equality) is
    * private[sql]; the dialect comparison rule needs it to recognize a
    * column-vs-literal array/struct operand pair.
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)
}
