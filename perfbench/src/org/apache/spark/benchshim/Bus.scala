package org.apache.spark.benchshim

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark reads complete per-operation counters. The bus is
  * `private[spark]`; this accessor lives in Spark's package for that. */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
