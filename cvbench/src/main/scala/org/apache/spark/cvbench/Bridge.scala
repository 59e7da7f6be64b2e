package org.apache.spark.cvbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** The two `private[spark]` calls the benchmark needs, hence this
  * package. */
object Bridge {
  /** The listener-bus drain Spark's own tests use: the benchmark waits
    * on it before it reads a traced op's listener counts. */
  def drain(sc: SparkContext, timeoutMs: Long = 5000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Rows of a frame, collected through the same byte path as
    * Dataset.collect (one job, serialized rows per partition) but
    * decoded lazily as the caller iterates, instead of into Row
    * objects: the decode of each row is interleaved with the caller's
    * own use of it. */
  def collectRows(df: DataFrame): Iterator[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("cvbench"))(
      qe.executedPlan.executeCollectIterator())._2
  }
}
