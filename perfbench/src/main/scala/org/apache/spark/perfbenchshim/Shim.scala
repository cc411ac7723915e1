package org.apache.spark.perfbenchshim

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private. */
object Shim {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
