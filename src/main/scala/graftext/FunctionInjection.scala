package org.apache.spark.sql.graftext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal, Or}
import org.apache.spark.sql.classic.UserDefinedFunctionUtils
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Bridges UDF-backed Column functions into the
  * SparkSessionExtensions function-injection hook (which wants
  * `Seq[Expression] => Expression` builders). Lives in the sql
  * package tree for ExpressionUtils access — same pattern as
  * [[ArrayOps]].
  */
object FunctionInjection {

  /** The builder of a UDF-backed function that returns NULL when any
    * argument is NULL: the UDF body never sees a null input. */
  def nullSafe(udf: UserDefinedFunction): Seq[Expression] => Expression = { exprs =>
    val call = UserDefinedFunctionUtils.toScalaUDF(
      udf.asInstanceOf[SparkUserDefinedFunction], exprs)
    If(exprs.map(e => IsNull(e): Expression).reduce(Or(_, _)),
      Literal(null, call.dataType), call)
  }

  /** Inject a plain expression constructor (for native expressions
    * like SortedLongIntersectCount). */
  def injectExpr(ext: SparkSessionExtensions, name: String,
                 builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, name),
      builder))

  /** Register a builder directly on an EXISTING session's function
    * registry (extensions only apply to sessions created after the
    * builder; this covers late binding and lets tests exercise the
    * identical builder lambdas without spawning a second
    * SparkContext). */
  def registerExprInto(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, name),
      builder)

  /** Column ↔ Expression bridges for builders defined OUTSIDE the
    * org.apache.spark.sql namespace (ExpressionUtils is
    * private[sql]; this package sits inside it). */
  def columnOf(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def exprOf(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
