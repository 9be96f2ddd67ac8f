package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the engine's native expressions, so
  * `spark.sql("SELECT float_dot(a, b) ...")` works alongside the
  * Column API. Install either via config
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * or imperatively with [[GraftFunctionRegistry.register]].
  */
object GraftFunctionRegistry {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (exprs: Seq[Expression]) => FloatDotProduct(exprs(0), exprs(1))),
    (FunctionIdentifier("float_cosine_distance"),
      new ExpressionInfo(classOf[FloatCosineDistance].getName, "float_cosine_distance"),
      (exprs: Seq[Expression]) => FloatCosineDistance(exprs(0), exprs(1))))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }

  def install(extensions: SparkSessionExtensions): Unit =
    functions.foreach { case (ident, info, builder) =>
      extensions.injectFunction((ident, info, builder))
    }
}

/** `spark.sql.extensions` entry point for the native SQL functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctionRegistry.install(extensions)
}
