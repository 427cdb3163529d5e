package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

/** The interpreted (`CodegenFallback`) expressions of a frame's optimized
  * plan, every node's expressions searched in full. A higher-order
  * function (`transform`, `filter`, `aggregate`) is listed with its
  * `LambdaFunction` and lambda variables: its body is evaluated as an
  * interpreted expression tree once per array element, so one listed
  * in a hot path costs per element, not per row.
  */
object CodegenFallbacks {
  def apply(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case e: CodegenFallback => e }))
}
