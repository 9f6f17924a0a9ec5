package org.apache.spark.sql

import org.apache.spark.executor.ProcfsMetricsGetter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** `private[spark]` state the specs read. */
object SparkInternals {

  /** Streaming listener buses subscribed to `spark`'s context: one per
    * session whose query manager was built and not released. */
  def streamListenerBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus
      .findListenersByClass[StreamingQueryListenerBus]().size

  /** Run Spark's one-time page-size probe (a `getconf PAGESIZE` process,
    * otherwise started by the first executor heartbeat after the session
    * starts). */
  def probePageSize(): Unit = ProcfsMetricsGetter.pTreeInfo: Unit
}
