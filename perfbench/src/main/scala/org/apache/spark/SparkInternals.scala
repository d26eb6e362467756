// Two package-private Spark members the benchmark reads; each accessor
// lives in the package that may see it.

package org.apache.spark {

  /** Waits until every event posted so far has reached every listener, so
    * counters read afterwards are complete.
    */
  object BenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The action name, duration (ns) and query execution an end-of-SQL-
    * execution event carries, when it carries a query execution.
    */
  object BenchSql {
    def end(e: SparkListenerSQLExecutionEnd): Option[(Option[String], Long, QueryExecution)] =
      Option(e.qe).map(qe => (e.executionName, e.duration, qe))
  }
}
