// The end-of-execution event's QueryExecution is private[sql], so the
// plan walk lives in the sql package.
package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.Bridge

/** Every physical plan the engine executes while it is registered: the
  * expression classes they hold, their CodegenFallback expressions (Spark's
  * higher-order functions are among them), and the engine's own kernels
  * that fall back, which must be none. Staged frames run as executions of
  * their own, so their kernels are seen too. */
final class PlanWalk extends org.apache.spark.scheduler.SparkListener {
  val expressions: mutable.Set[String] = mutable.Set.empty
  val fallbacks: mutable.Set[String] = mutable.Set.empty
  val kernelFallbacks: mutable.Set[String] = mutable.Set.empty

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit = event match {
    case en: SparkListenerSQLExecutionEnd =>
      try Option(en.qe).foreach { qe =>
        val ns = nodes(qe.executedPlan)
        synchronized {
          ns.foreach(n => n.expressions.foreach(_.foreach { e =>
            expressions += e.getClass.getSimpleName
            if (e.isInstanceOf[CodegenFallback] && e.getClass.getName.startsWith("graft."))
              kernelFallbacks += e.getClass.getSimpleName
          }))
          ns.foreach(n => fallbacks ++= Bridge.fallbackExpressions(n))
        }
      } catch { case _: Exception => () }
    case _ => ()
  }
}
