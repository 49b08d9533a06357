package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Per-plan execution shape. Adaptive execution is a session-wide switch;
  * a plan that must not re-plan between its stages gets its own
  * [[QueryExecution]] here instead, so the shared session's conf is never
  * touched (another thread may be running queries on it).
  */
object PlanBridge {

  /** `df`'s query, with its physical plan prepared by Spark's
    * non-adaptive rules (`QueryExecution.prepareExecutedPlan`): exchanges
    * stay plain shuffles at their planned width, so a shuffle and the
    * stage that reads it run as one job. The returned execution's
    * `executedPlan` is the plan `toRdd` runs, so an SQL-execution wrapper
    * around it describes what actually runs.
    */
  def nonAdaptive(df: DataFrame): QueryExecution = {
    val qe = df.queryExecution
    new QueryExecution(qe.sparkSession, qe.analyzed, shuffleCleanupMode = qe.shuffleCleanupMode) {
      private lazy val plan = QueryExecution.prepareExecutedPlan(sparkSession, sparkPlan.clone())
      override def executedPlan: SparkPlan = plan
    }
  }
}
