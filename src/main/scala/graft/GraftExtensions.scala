package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{Chi2InverseSurvivalFunction, Chi2SurvivalFunction, DotProduct, LogSumExp, NormSurvivalFunction}

/** Session extension registering the engine's native codegen expressions as
  * SQL functions, so `spark.sql("SELECT dot_product(a, b) ...")` works the
  * same as the Column API — the idiomatic Spark extension point
  * (`spark.sql.extensions=graft.GraftExtensions`, or `withExtensions(new
  * GraftExtensions)` on a session builder, as `GSession.local` does).
  *
  * The reference registers its scalar kernels as Python UDFs per session
  * (common/udf.py); these are whole-stage-codegen Catalyst expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def unary(
      name: String,
      build: Expression => Expression): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (
      FunctionIdentifier(name),
      info(name, name),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name expects exactly 1 argument")
        build(children.head)
      })

  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b)"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product expects exactly 2 arguments")
        DotProduct(children(0), children(1))
      }))
    extensions.injectFunction(unary("logsumexp", LogSumExp))
    extensions.injectFunction(unary("chi2_survival", Chi2SurvivalFunction))
    extensions.injectFunction(unary("chi2_inverse_survival", Chi2InverseSurvivalFunction))
    extensions.injectFunction(unary("norm_survival", NormSurvivalFunction))
  }
}
