package cvbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark: one client thread, Spark local[n].
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --reports <dir> [--cores <n>] [--inject-wrong <id,id,..>]
  * }}}
  *
  * Sets up `Workloads.Parts` times (session start, layer generation,
  * warm-up), then runs the workload's ops in whole cycles until
  * `--seconds` have passed and, untraced, at least the workload's
  * `minCycles` are done; checks every result, and prints one JSON
  * object as its last line.
  * With `--trace 1` every other cycle of ops is traced (listener, spans and side
  * replays) and the line carries the per-layer metrics instead of the
  * end-to-end ones. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, reports: String, cores: Int, wrong: Set[Int])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("reports"),
      m.get("cores").map(_.toInt).getOrElse(4), m.get("inject-wrong").map(_.split(",").map(_.toInt).toSet).getOrElse(Set.empty))
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("cvbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", Paths.get(a.data, "spark-local").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The tail of a workload whose runs have at least `nMin` samples: the
    * nearest-rank value at percentile p = (nMin - 10) / nMin, the highest
    * percentile with ten samples beyond it at nMin samples. p is fixed
    * per workload, so a run with more samples (faster code) reports the
    * same statistic, with ten or more samples beyond it. */
  def tail(xs: Seq[Double], nMin: Int): (Double, Double) = {
    val p = (nMin - 10).toDouble / nMin
    if (xs.isEmpty) return (0.0, 100 * p)
    val rank = math.max(1, math.ceil(p * xs.size - 1e-9).toInt)
    (xs.sorted.apply(rank - 1), 100 * p)
  }

  /** Voxel bytes delivered by cutouts per second of their wall time.
    * Uniques return labels, not voxels, so they are left out of both
    * sums. */
  def voxelMBps(runs: Seq[OpRun]): Double = {
    val moving = runs.filter(r => !r.op.isInstanceOf[Unique])
    moving.filter(_.ok).map(_.voxelBytes).sum / 1e6 / (moving.map(_.wallMs).sum / 1e3)
  }

  /** On-disk bytes per voxel byte of the layers a workload reads. */
  def storedRatio(wl: Workload): Double = {
    import scala.jdk.CollectionConverters._
    val stored = wl.layers.map { l =>
      Files.walk(Paths.get(l.dir, l.scale.key)).iterator.asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
    }.sum
    val voxels = wl.layers.map(l =>
      l.scale.size.x * l.scale.size.y * l.scale.size.z * l.meta.dtypeBytes).sum
    stored.toDouble / math.max(voxels, 1L)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.names.mkString(", ")}")
    val root = Paths.get(a.data)
    Layers.deleteTree(root)
    Files.createDirectories(root)
    Files.createDirectories(Paths.get(a.reports))
    val cpu0 = Env.cpu()

    val wl = Workloads(a.workload, root.toString, a.seed)
    var spark: SparkSession = null
    var runner: Runner = null
    val setups = (0 until Workloads.Parts).map { part =>
      if (spark != null) spark.stop()
      val t = System.nanoTime()
      spark = Log.time(s"part $part session")(session(a))
      runner = new Runner(spark, a.wrong)
      wl.setup(runner, part)
      (System.nanoTime() - t) / 1e9
    }

    val tracer = if (a.trace) Some(new Tracer(runner)) else None
    val runs = mutable.ArrayBuffer.empty[(OpRun, Boolean)]
    val cpuA = Env.cpu()
    val start = System.nanoTime()
    val it = wl.ops()
    var exhausted = false
    // whole cycles only, so every run has the same op mix; a traced run
    // needs at least one traced and one untraced cycle
    val minOps = (if (a.trace) 2 else wl.minCycles) * wl.cycle
    while ((System.nanoTime() - start < a.seconds * 1e9 || runs.size % wl.cycle != 0 ||
        runs.size < minOps) && !exhausted) {
      if (!it.hasNext) exhausted = true
      else {
        val op = it.next()
        val traced = tracer.isDefined && (op.id / wl.cycle) % 2 == 0
        runs += ((tracer.filter(_ => traced).map(_.run(op)).getOrElse(runner.run(op)), traced))
      }
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    val cpuB = Env.cpu()

    val checked = runs.toSeq
    val failed = checked.count(!_._1.ok)
    val base = checked.filterNot(_._2).map(_._1)
    val walls = base.map(_.wallMs)
    val (tailMs, tailP) = tail(walls, wl.minCycles * wl.cycle)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setups), "s"),
        ("op_p50_ms", median(walls), "ms"),
        ("op_tail_ms", tailMs, "ms"),
        ("voxel_MBps", voxelMBps(base), "MB/s"),
        ("stored_bytes_per_voxel_byte", storedRatio(wl), "ratio"))
      else Report.layers(tracer.get, walls, a.cores) ++ Seq(
        ("bench.failed_frac", failed.toDouble / math.max(checked.size, 1), "ratio"),
        ("env.load_avg", (cpuA.load1 + cpuB.load1) / 2, "load"),
        ("env.steal_frac", Env.stealFrac(cpuA, cpuB), "ratio"))

    val kinds = checked.groupBy(_._1.op.kind).map { case (k, v) => s"${jstr(k)}:${v.size}" }
    val kindP50 = base.groupBy(_.op.kind).map { case (k, v) =>
      s"${jstr(k)}:${num(median(v.map(_.wallMs)))}" }
    val errors = checked.flatMap(_._1.error).take(5).map(jstr)
    val tag = s"${a.workload}_seed${a.seed}_trace${if (a.trace) 1 else 0}"
    val detail = "{" + Seq(
      s""""workload":${jstr(a.workload)}""", s""""seed":${a.seed}""",
      s""""trace":${a.trace}""", s""""seconds_measured":${num(measuredS)}""",
      s""""ops_exhausted":$exhausted""",
      s""""ops":{${kinds.mkString(",")}}""",
      s""""op_p50_ms_by_kind":{${kindP50.mkString(",")}}""",
      s""""failed_frac":${num(failed.toDouble / math.max(checked.size, 1))}""",
      s""""op_tail_percentile":${num(tailP)}""", s""""op_samples":${walls.size}""",
      s""""setup_s_parts":[${setups.map(num).mkString(",")}]""",
      s""""nproc":${Runtime.getRuntime.availableProcessors}""",
      s""""spark_master":${jstr(s"local[${a.cores}]")}""",
      s""""heap_MB":${Runtime.getRuntime.maxMemory / (1 << 20)}""",
      s""""data_fs":${jstr(Env.fileSystem(root))}""",
      s""""load_avg_start":${num(cpu0.load1)}""", s""""load_avg_end":${num(cpuB.load1)}""",
      s""""steal_since_boot_start":${num(Env.stealSinceBoot(cpu0))}""",
      s""""steal_since_boot_end":${num(Env.stealSinceBoot(cpuB))}""",
      s""""steal_frac_run":${num(Env.stealFrac(cpuA, cpuB))}""",
      s""""errors":[${errors.mkString(",")}]""") .mkString(",") + "}"
    // the report file also lists every op's kind and wall time, in run order
    val opWalls = checked.map { case (r, _) => s"[${jstr(r.op.kind)},${num(r.wallMs)}]" }
    Files.writeString(Paths.get(a.reports, s"$tag.json"),
      detail.dropRight(1) + s""","op_walls_ms":[${opWalls.mkString(",")}]}""" + "\n")
    tracer.foreach(t => Files.write(Paths.get(a.reports, s"$tag.spans.jsonl"),
      (t.spanLines.mkString("\n") + "\n").getBytes("UTF-8")))
    spark.stop()
    Layers.deleteTree(root)

    println("DETAIL " + detail)
    val ms = metrics.map { case (k, v, u) =>
      s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
    println(s"""{"correct":${failed == 0},"attempted":${checked.size},""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }
}
