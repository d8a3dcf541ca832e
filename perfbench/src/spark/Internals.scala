// Accessors for two Spark internals the traced run needs; they live in
// Spark's packages because the members are package-private.

package org.apache.spark {
  /** The listener bus is private to Spark; the traced run must read its
    * listener's totals only after every queued event has been delivered. */
  object BusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query execution an execution-end event carries, keyed by the
    * event's execution id (`QueryExecution.id` is a different counter). */
  object ExecutionEndPlan {
    def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  }
}
