package thrivespark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: makes the engine's custom Catalyst
  * expressions first-class SQL functions — and its optimizer rule and
  * planner strategy first-class plan surface — on any session configured
  * with
  *   spark.sql.extensions=thrivespark.GraftExtensions
  * (the idiomatic deployment on a shared cluster). `functions.Register`
  * installs the same functions, rule and strategy per session, and
  * `Registry` applies it before every op, for driver-owned sessions like
  * graft.Verify.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.Register.Functions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), build))
    }
    // whole-plan surface: the naive-similarity-join rewrite and the as-of
    // merge operator, so extension-configured sessions get the same plans
    // as Register-installed ones
    e.injectOptimizerRule(_ => thrivespark.plans.SimilarityJoinRewrite)
    e.injectPlannerStrategy(_ => thrivespark.plans.AsOfJoinStrategy)
  }
}
