package graft

import org.apache.spark.sql.catalyst.expressions.{Expression,
  HigherOrderFunction, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.streaming.StreamingQuery

/** Plan pins for the "no interpreted per-row work in hot paths" rule:
  * a spec lists what a plan evaluates outside generated code and
  * asserts the list, so a refactor that slips a higher-order fold or
  * a UDF back into a pinned query fails a test instead of a
  * benchmark. */
object PlanPin {

  /** Every expression of `plan` that runs interpreted per row — a
    * `CodegenFallback`, a `HigherOrderFunction` or a `ScalaUDF` —
    * outermost first: the lambda inside a listed `filter` is not
    * listed again. */
  def interpreted[P <: QueryPlan[P]](plan: P): Seq[Expression] = {
    def outermost(e: Expression): Seq[Expression] = e match {
      case _: CodegenFallback | _: HigherOrderFunction | _: ScalaUDF =>
        Seq(e)
      case _ => e.children.flatMap(outermost)
    }
    plan.collect { case p => p.expressions.flatMap(outermost) }.flatten
  }

  /** The number of `cls` expressions in `plan`. */
  def occurrences[P <: QueryPlan[P]](plan: P, cls: Class[_]): Int =
    plan.collect { case p =>
      p.expressions.map(_.collect { case e if cls.isInstance(e) => e }.size)
        .sum
    }.sum

  /** A started query's last micro-batch execution. */
  def lastExecution(q: StreamingQuery)
    : org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution =
    q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution
}
