package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan

/** The `private[spark]` calls the collect specs make. */
object CollectBridge {
  /** `plan`'s streaming collect: (row count, rows). */
  def collectIterator(plan: SparkPlan): (Long, Iterator[InternalRow]) =
    plan.executeCollectIterator()

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
