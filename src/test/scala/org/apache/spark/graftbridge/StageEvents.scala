package org.apache.spark.graftbridge

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListenerStageCompleted, StageInfo}

/** Synthetic stage-completion events for listener specs: `TaskMetrics`
  * and its setters are `private[spark]`, hence this test-only bridge. */
object StageEvents {
  def completed(stageId: Int, numTasks: Int, runMs: Long, cpuMs: Long)
      : SparkListenerStageCompleted = {
    val tm = TaskMetrics.empty
    tm.setExecutorRunTime(runMs)
    tm.setExecutorCpuTime(cpuMs * 1000000L)
    SparkListenerStageCompleted(new StageInfo(stageId, 0, s"stage $stageId",
      numTasks, Seq.empty, Seq.empty, "", taskMetrics = tm,
      resourceProfileId = 0))
  }
}
