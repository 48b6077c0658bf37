package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Classic-API bridge: re-host an already-analyzed plan on another
  * SparkSession of the same SparkContext. `Dataset.ofRows` is
  * `private[sql]`, so the one-liner lives under `org.apache.spark.sql`
  * (same pattern as [[ColumnBridge]]). Used by `graft.util.Loops` to run
  * pin collects on a dedicated cloned session whose SQLConf is fixed at
  * creation, instead of temporarily mutating the shared session's conf —
  * which raced under Verify's 8-way-concurrent execution (a query planned
  * mid-pin picked up single-partition/AQE-off confs, and interleaved
  * restore could leave them set permanently).
  *
  * The plan passed across is `queryExecution.analyzed`: fully resolved, so
  * the target session needs none of the source session's temp views or
  * temp functions to re-host it.
  */
object PlanBridge {
  def onSession(target: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(
      target.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** Drain the async listener bus (`private[spark]`) — lets measurement
    * tools read listener-fed counters without a racy fixed sleep. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
      timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Janino compiles of generated classes so far in this JVM (the count
    * of Spark's `CodegenMetrics` compilation-time histogram): a codegen
    * cache hit adds none. */
  def janinoCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
