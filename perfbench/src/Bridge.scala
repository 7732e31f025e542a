// Two handles Spark keeps package-private, needed to attribute listener
// events to the benchmark's spans.

package org.apache.spark {
  object perfbenchbus {
    /** Block until every event posted so far has reached its listeners. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  object perfbenchbridge {
    /** The query execution an SQL-execution-end event belongs to, or null. */
    def queryExecution(
        e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
        : org.apache.spark.sql.execution.QueryExecution = e.qe
  }
}
