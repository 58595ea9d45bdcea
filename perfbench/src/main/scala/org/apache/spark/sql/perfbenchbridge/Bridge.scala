package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Access to the `private[spark]`/classic-only plumbing the benchmark
  * uses from outside the engine: draining the listener bus (so every
  * event of a finished pass has been delivered), query-execution
  * listeners, and walking an executed query's final adaptive plan. */
object Bridge {

  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def register(spark: SparkSession, l: QueryExecutionListener): Unit =
    spark.asInstanceOf[classic.SparkSession].listenerManager.register(l)

  def unregister(spark: SparkSession, l: QueryExecutionListener): Unit =
    spark.asInstanceOf[classic.SparkSession].listenerManager.unregister(l)

  /** Every node of a physical plan, descending through adaptive
    * wrappers to the FINAL plan AQE ran, query stages, and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.result()
  }
}
