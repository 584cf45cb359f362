package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Listener events are delivered asynchronously; counters are read only
  * after every event posted so far has been handled. The bus is
  * package-private to Spark, hence this bridge. */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
