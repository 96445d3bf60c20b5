package org.apache.spark.sql

/** The listener bus is private to Spark; this shim sits inside it so
  * graft can wait for every posted event to reach every listener before
  * it reads listener-fed counters. Throws `TimeoutException` if the bus
  * does not empty within Spark's 10 s bound. */
object GraftBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
