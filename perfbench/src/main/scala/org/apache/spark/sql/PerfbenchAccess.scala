package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Two engine internals the harness reads, which Spark keeps
  * package-private: the listener bus (events arrive asynchronously, so
  * the traced run drains it before reading its listeners' counts) and
  * the number of plans in the session's cache manager. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def cachedPlans(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
