// Two package-private Spark members the traced run needs.
package org.apache.spark {
  /** The listener bus drain: the traced run waits for every posted event
    * before it aggregates. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  /** The query execution an SQL execution-end event carries, which ties
    * Catalyst phases and the written path to the execution id jobs carry. */
  object PerfbenchSql {
    def qeOf(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution = e.qe
  }
}
