package graft

import org.apache.spark.graftbridge.StageEvents
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.obs.Meter` fed synthetic listener events: the job_ms union
  * and the stage sums every harness number is attributed with. */
class MeterSpec extends AnyFunSuite {
  private def run(m: obs.Meter, jobs: (Int, Long, Long)*): Unit = {
    // events in time order, as the listener bus delivers them
    val evs = jobs.flatMap { case (id, start, end) =>
      Seq((start, () => m.onJobStart(SparkListenerJobStart(id, start, Seq.empty))),
        (end, () => m.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))))
    }
    evs.sortBy(_._1).foreach(_._2())
  }

  test("overlapping jobs count their union once") {
    val m = new obs.Meter
    run(m, (0, 0L, 100L), (1, 50L, 150L))
    assert(m.counts.jobs == 2)
    assert(m.counts.jobMs == 150, "[0,100] and [50,150] span 150 ms, not 200")
  }

  test("gapped jobs sum, and a job nested in another adds nothing") {
    val m = new obs.Meter
    run(m, (0, 0L, 100L), (1, 200L, 260L))
    assert(m.counts.jobMs == 160)
    run(m, (2, 300L, 400L), (3, 320L, 350L))
    assert(m.counts == obs.Counts(jobs = 4, stages = 0, tasks = 0,
      taskMs = 0, cpuMs = 0, jobMs = 260))
  }

  test("stage run ms, CPU ms and tasks accumulate; Counts subtract") {
    val m = new obs.Meter
    m.onStageCompleted(StageEvents.completed(0, numTasks = 4, runMs = 30, cpuMs = 20))
    val c0 = m.counts
    m.onStageCompleted(StageEvents.completed(1, numTasks = 2, runMs = 12, cpuMs = 5))
    assert(m.counts == obs.Counts(jobs = 0, stages = 2, tasks = 6,
      taskMs = 42, cpuMs = 25, jobMs = 0))
    assert(m.counts - c0 == obs.Counts(0, 1, 2, 12, 5, 0))
  }
}
