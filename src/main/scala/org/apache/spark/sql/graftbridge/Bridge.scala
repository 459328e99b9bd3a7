package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge for the graft native expressions. Spark 4
  * moved these conversions behind `private[sql]` (`ExpressionUtils`); this
  * is the standard extension-library shim to reach them — no other
  * internals are touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Dataset over a hand-built LogicalPlan — ONE analyzer pass for a
    * whole multi-branch tree. The DataFrame API analyzes eagerly at
    * every `.filter`/`.union` call, which makes an N-branch union cost
    * O(N²) analyzer passes when built by fold; constructing the union
    * from already-analyzed branch plans and entering here costs one.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of Catalyst rows, with no Row encoder on
    * either side: the rows must match `schema`, and the scan projects
    * each to an UnsafeRow. The coded write's encode kernel and the
    * driver-local add emit through here.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Block until the listener bus has delivered every queued event —
    * task-metrics accounting (ScaleEval's concurrency-ceiling
    * attribution) must read its counters only after the bus drains.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Unload every loaded state-store provider and stop the maintenance
    * task NOW, on a healthy JVM. Without it, RocksDB instances are torn
    * down by JVM shutdown hooks, and their native background threads can
    * fire the JNI logger callback after their thread is detached —
    * observed as a SIGSEGV in `rocksdb::LoggerJniCallback::Logv` during
    * `spark.stop()` (r13 stream eval exited non-zero AFTER printing its
    * artifact line). Callable from library code because `StateStore` is
    * `private[sql]` — the same narrow bridge rationale as above.
    */
  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
