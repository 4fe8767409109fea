package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Test instrumentation: Spark job counting and executed-plan capture — the
  * regression guards behind "a report is a fixed number of jobs" and "no
  * single-partition windows". Listener buses are async, so both helpers poll
  * until the event stream goes quiet before reporting.
  */
object Instrument {

  /** Number of Spark jobs launched while `body` runs. */
  def jobCount(spark: SparkSession)(body: => Unit): Long = {
    val n = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      settle(() => n.get)
      n.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Optimized logical plans of every query executed while `body` runs. */
  def optimizedPlans(spark: SparkSession)(body: => Unit): Seq[LogicalPlan] =
    executions(spark)(body).map(_.optimizedPlan)

  /** Every physical operator that ran while `body` ran: the executed plans,
    * through adaptive query stages, subqueries and, with `throughCache`, the
    * plans that built the cached relations they scan.
    */
  def executedOperators(spark: SparkSession, throughCache: Boolean = true)(
      body: => Unit): Seq[SparkPlan] = {
    def operators(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
      case q: QueryStageExec => operators(q.plan)
      case m: InMemoryTableScanExec =>
        m +: (if (throughCache) operators(m.relation.cachedPlan) else Nil)
      case other => other +: (other.children ++ other.subqueries).flatMap(operators)
    }
    executions(spark)(body).flatMap(qe => operators(qe.executedPlan))
  }

  private def executions(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      settle(() => plans.synchronized(plans.size).toLong)
      plans.synchronized(plans.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  private def settle(count: () => Long): Unit = {
    var prev = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val cur = count()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }
}
