package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus's drain, which Spark keeps package-private. */
object Bus {
  def drain(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty(30000L)
}
