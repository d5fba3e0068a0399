package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The action name and executed plan an SQL execution-end event
  * carries. Both fields are package-private to Spark SQL, hence this
  * bridge. */
object TestPlans {
  def of(e: SparkListenerSQLExecutionEnd): Option[(String, SparkPlan)] =
    for {
      name <- e.executionName
      qe <- Option(e.qe)
    } yield (name, qe.executedPlan)
}
