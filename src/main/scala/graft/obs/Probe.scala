package graft.obs

import org.apache.spark.sql.SparkSession

/** Times SparkEntry queries in isolation and attributes each rep's wall
  * to Spark work:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<testdata sf dir> SPARK_GRAFT_CPUS=8 \
  *   sbt "runMain graft.obs.Probe cc_components graph_pagerank3"
  * }}}
  *
  * Builds every fixture first, warms each entry once, then prints one
  * line per rep (3 reps): wall, rows, jobs, stages, tasks, task_ms,
  * cpu_ms and job_ms. At bench scale AQE submits one job per exchange
  * stage, so a wall close to jobs x the per-job floor is fixed cost, not
  * data work; task_ms far above cpu_ms means blocked tasks.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a testdata sf dir"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.Fixtures.ensureAll(spark, sfDir)
    for (n <- args) {
      val q = graft.SparkEntry.queries(n)
      q(spark, sfDir).count() // warm: JIT, codegen, memos
      for (rep <- 1 to 3) {
        val s = measure(spark)(q(spark, sfDir).count())
        val c = s.counts
        println(f"[probe] $n rep$rep wall=${s.wallS}%.3f s rows=${s.value} " +
          f"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} " +
          f"task_ms=${c.taskMs} cpu_ms=${c.cpuMs} job_ms=${c.jobMs}")
      }
    }
    spark.stop()
  }
}
