package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Lineage cut WITHOUT the external-Row round trip.
  *
  * `spark.createDataFrame(df.rdd, schema)` — the round-3 cut used by the
  * iterative CC loop — pays a full DeserializeToObject pass (every
  * InternalRow converted to a GenericRow of boxed JVM objects) plus a
  * re-encode back to UnsafeRow on the other side, per round. The classic
  * session's `internalCreateDataFrame` wraps the SAME physical rows
  * (`queryExecution.toRdd`, copied because Spark reuses the row buffer) in a
  * LogicalRDD directly — the identical plan-flattening effect with zero
  * format conversion. Package-placed shim: `internalCreateDataFrame` is
  * `private[sql]`, the exact access pattern Spark's own test utilities use.
  */
object InternalRows {
  def cutLineage(df: DataFrame): DataFrame = {
    val rows: RDD[InternalRow] = df.queryExecution.toRdd.map(_.copy())
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, df.schema)
  }
}

/** Waits until the listener bus has delivered every event posted so far
  * (`waitUntilEmpty` is `private[spark]`), for [[graft.metrics.Profile]]. */
object ListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
