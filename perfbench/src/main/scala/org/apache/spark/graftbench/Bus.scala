package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Listener events arrive asynchronously; the traced run reads them only
  * after the bus has delivered everything posted so far.
  */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
