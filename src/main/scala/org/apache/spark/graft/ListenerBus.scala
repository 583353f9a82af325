package org.apache.spark.graft

import org.apache.spark.sql.SparkSession

/** Access to Spark's listener bus, which is private to the `spark`
  * package: a profiler waits for it to deliver every queued event
  * before it reads what its listener recorded. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
