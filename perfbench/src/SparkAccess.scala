package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The two Spark internals the benchmark needs. Kept here rather than
  * borrowed from the program's own helpers, so refactoring those helpers
  * cannot change what the benchmark measures.
  */
object SparkAccess {

  /** Waits until every queued listener event has been delivered, so the
    * counters read next include the job that just finished.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Frees the blocks behind a `localCheckpoint`ed result (a no-op for
    * other plans): a caller's duty once it has consumed the result.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ =>
    }
}
