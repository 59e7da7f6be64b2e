package graft

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Instrumentation shared by the harness mains (`Bench`, `Scaling`,
  * [[obs.Probe]]) and the specs that count jobs: every attribution of
  * wall time to Spark work (jobs, task_ms, the job_ms union) and every
  * load/GC breadcrumb is computed here and nowhere else. Not used on
  * any query path.
  */
package object obs {
  private val meters = new java.util.WeakHashMap[SparkContext, Meter]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** The [[Meter]] listening on `sc`, installed on first use. */
  private def meter(sc: SparkContext): Meter = meters.synchronized {
    var m = meters.get(sc)
    if (m == null) {
      m = new Meter
      sc.addSparkListener(m)
      meters.put(sc, m)
    }
    m
  }

  /** Run `body` and return its value, wall seconds and the Spark work
    * it submitted. Job and stage events ride an async bus, so the bus is
    * drained before the first snapshot (an earlier body's tail would
    * count here) and again after the clock stops (this body's tail
    * would be missed); neither drain is inside the timed window.
    */
  def measure[A](spark: SparkSession)(body: => A): Sample[A] = {
    val sc = spark.sparkContext
    val m = meter(sc)
    BusDrain.drain(sc)
    val c0 = m.counts
    val t0 = System.nanoTime()
    val v = body
    val wallS = (System.nanoTime() - t0) / 1e9
    BusDrain.drain(sc)
    Sample(v, wallS, m.counts - c0)
  }

  /** Collection ms summed over this JVM's garbage collectors. */
  def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  /** The 1-minute system load average, or -1 where the OS has none. */
  def loadAvg(): Double =
    try ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }
}
