package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/**
 * SparkSessionExtensions entry point (SURVEY.md §2.11): makes every graft
 * function available to pure-SQL users at session build time —
 *
 *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
 *   // or: SparkSession.builder().withExtensions(new GraftExtensions) ...
 *
 * It injects `GraftFunctions.catalog`, the same declarations and builders
 * that `GraftFunctions.register` installs on a live session. No custom
 * Rule/SparkStrategy is registered: parity needs none (SURVEY.md §7.3) —
 * all operators compose from built-in plans plus these scalar kernels,
 * which keeps every graft query inside Catalyst's optimizer and
 * whole-stage codegen.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.catalog.foreach(k =>
      ext.injectFunction((FunctionIdentifier(k.name), new ExpressionInfo("graft", k.name), k.build)))
}
