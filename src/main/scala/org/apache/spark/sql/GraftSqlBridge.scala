package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column ⇄ Expression converters (Spark 4
  * moved Column onto ColumnNode; `classic.ExpressionUtils` is the blessed
  * in-package way back to Catalyst expressions for custom Expression
  * libraries like graft.functions).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame straight from an `RDD[InternalRow]` without the
    * external-Row round trip (`Dataset.rdd` → `Row.fromSeq` →
    * `createDataFrame`'s re-encode).
    *
    * `Dataset.rdd` materializes every column into boxed JVM objects —
    * UTF8String → java.lang.String, array columns → WrappedArray — and
    * `createDataFrame(RDD[Row], schema)` converts it all back. For
    * operators that only APPEND a computed column to otherwise untouched
    * rows (operators.Ordinals' global-ordinal zip), both conversions are
    * pure overhead proportional to the full width of the data; staying in
    * InternalRow space copies fields in their binary representation
    * (UnsafeProjection). `internalCreateDataFrame` wraps the RDD in a
    * plain non-streaming `LogicalRDD`, exactly what `createDataFrame`
    * produces after its conversion — no semantics change, just no
    * conversion. */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A new session sharing `spark`'s context and cached data, with a
    * COPY of its conf, temp views and function registry — what a query
    * that needs its own conf values runs on, so the shared session's
    * conf is never written. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a DataFrame of `spark` (a plan built in another session,
    * e.g. a clone, carried back to the caller's). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted to `spark`'s listener bus so far has
    * reached every listener; false when `timeoutMs` passed first. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Unsubscribe from the context's listener bus the streaming listener
    * buses of the session `query` was started on and of the clone Spark
    * made to run it, after draining the bus so every listener has seen
    * the events posted so far. A session's query manager subscribes one
    * when the session first touches `streams`, and Spark never removes
    * it; a session clone that ran a query would otherwise be handed
    * every later streaming event for the rest of the JVM's life. Call it
    * once `query` has stopped and its session starts no other query. A
    * session whose query manager was never built is skipped. */
  def releaseStreams(query: StreamingQuery): Unit = {
    def field(cls: Class[_], o: AnyRef, name: String): AnyRef = {
      val f = cls.getDeclaredField(name)
      f.setAccessible(true)
      f.get(o)
    }
    val started = query.sparkSession
    drainListenerBus(started, 60000L)
    for (s <- Seq(started, query.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.sparkSessionForStream)) {
      val manager = field(classOf[SessionState],
        s.asInstanceOf[classic.SparkSession].sessionState,
        "streamingQueryManager")
      if (manager != null)
        s.sparkContext.listenerBus.removeListener(
          field(classOf[classic.StreamingQueryManager], manager, "listenerBus")
            .asInstanceOf[SparkListenerInterface])
    }
  }
}
