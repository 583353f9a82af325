package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Access to Spark's listener bus, which is private to the `spark`
  * package: the tracer waits for it to deliver every queued event
  * before it attributes them. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
