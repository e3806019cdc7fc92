package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one engine internal the benchmark needs: `listenerBus` is
  * private[spark], and a traced run must read its listener totals only after
  * the async bus has delivered every queued event. */
object PerfbenchBridge {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
