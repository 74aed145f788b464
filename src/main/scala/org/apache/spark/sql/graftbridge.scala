package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` column/expression conversions (the same
  * technique used by Spark-ecosystem libraries to expose custom Catalyst
  * expressions through the public Column API), plus the few other
  * `private[spark]` hooks the engine and its probes need.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the storage behind a `localCheckpoint(true)`-ed Dataset.
    * `Dataset.unpersist` is a NO-OP for checkpoints: it only clears
    * CacheManager entries (persist/cache), while localCheckpoint caches
    * the internal RDD directly via `RDD.localCheckpoint` — that RDD is
    * reachable only through the plan's `LogicalRDD` (private[sql], hence
    * this bridge). Safe on any Dataset: non-checkpoint plans contain no
    * LogicalRDD and nothing happens.
    */
  def freeCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Re-bind a DataFrame's logical plan to another session of the same
    * SparkContext. Used to scope per-query SQLConf overrides (shuffle
    * partitions, AQE) to a child `newSession()` instead of mutating the
    * caller's session conf: the plan is transplanted into the child,
    * planned under the child's conf, and the result transplanted back.
    * Cached/persisted upstream frames keep working — the CacheManager
    * lives in SharedState, which `newSession()` shares.
    */
  def withSession(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)

  /** Blocks until every event already posted to `sc`'s listener bus
    * has been delivered. `onJobStart` arrives asynchronously, so a job
    * counter read or reset after this sees exactly the jobs submitted
    * before it.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
