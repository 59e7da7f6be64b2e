package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Spark work counters, cumulative since a [[Meter]] was installed; the
  * difference of two snapshots is the work between them.
  *
  * @param taskMs executor run time, summed over completed stages
  * @param cpuMs  executor CPU time, summed over completed stages
  * @param jobMs  in-job wall time: the UNION of job intervals, so
  *               concurrent jobs count once
  */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    taskMs: Long, cpuMs: Long, jobMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, cpuMs - o.cpuMs, jobMs - o.jobMs)
}

/** What [[measure]] returns: the body's value, its wall seconds and the
  * Spark work it submitted. */
final case class Sample[A](value: A, wallS: Double, counts: Counts)

/** The project's one `SparkListener`: jobs, stages, tasks, executor run
  * and CPU ms, and the job_ms union. [[measure]] installs one per
  * `SparkContext`.
  *
  * wall - job_ms is driver time BETWEEN jobs (AQE re-planning at each
  * stage boundary). job_ms is the union of in-job intervals, not the
  * per-job sum: AQE materializes independent shuffle inputs (and
  * broadcast stages) as CONCURRENT jobs, and a plain sum then exceeds
  * the wall (63/1026 passes in the first r18 bench artifact), making the
  * between-job term negative. The listener bus delivers events FIFO on
  * one thread, so a depth counter over event times measures the union
  * exactly; the counters are written only from that thread.
  */
final class Meter extends SparkListener {
  @volatile private var jobs, stages, tasks, taskMs, cpuMs, jobMs = 0L
  private var activeJobs = 0
  private var unionStartMs = 0L

  def counts: Counts = Counts(jobs, stages, tasks, taskMs, cpuMs, jobMs)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs += 1
    if (activeJobs == 0) unionStartMs = j.time
    activeJobs += 1
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    activeJobs = math.max(0, activeJobs - 1)
    if (activeJobs == 0) jobMs += math.max(0L, j.time - unionStartMs)
  }

  override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
    val info = st.stageInfo
    stages += 1
    tasks += info.numTasks
    taskMs += info.taskMetrics.executorRunTime
    cpuMs += info.taskMetrics.executorCpuTime / 1000000L
  }
}
