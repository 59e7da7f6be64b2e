package cvbench

import java.nio.file.{Files, Path}

/** Run-context breadcrumbs: the box is a shared VM, so every run
  * records how busy it was. */
final case class CpuSnap(steal: Long, total: Long, load1: Double)

object Env {
  def cpu(): CpuSnap = {
    val f = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1)
        .map(_.toLong)).getOrElse(Array.empty[Long]) finally src.close()
    } catch { case _: java.io.IOException => Array.empty[Long] }
    // user nice system idle iowait irq softirq steal (guest time is
    // already inside user)
    val busy = f.take(8)
    CpuSnap(if (f.length > 7) f(7) else 0L, busy.sum,
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage)
  }

  def stealFrac(a: CpuSnap, b: CpuSnap): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0

  /** Cumulative steal share since boot. */
  def stealSinceBoot(s: CpuSnap): Double =
    if (s.total > 0) s.steal.toDouble / s.total else 0.0

  def fileSystem(p: Path): String =
    try { val st = Files.getFileStore(p); s"${st.`type`()}:${st.name()}" }
    catch { case _: java.io.IOException => "unknown" }
}
