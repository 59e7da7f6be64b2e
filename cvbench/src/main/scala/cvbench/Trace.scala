package cvbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.{PrecomputedIO, ShardedIO}

/** Spark-runtime counts per tag. Jobs carry the tag in the local
  * property `cvbench.op`; stages and tasks inherit it from their job.
  * Untagged jobs are ignored. */
final class Probe extends SparkListener {
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskMs = 0L; var resultBytes = 0L; var shuffleWrite = 0L
    var peakMem = 0L
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    def jobMs: Long = { // union of job intervals: concurrent jobs count once
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      spans.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
  }
  private val accs = mutable.Map.empty[String, Acc]
  private val jobTag = mutable.Map.empty[Int, (String, Long)]
  private val stageTag = mutable.Map.empty[Int, String]

  def acc(tag: String): Acc = synchronized(accs.getOrElseUpdate(tag, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Key)))
    tag.foreach { t =>
      jobTag(e.jobId) = (t, e.time)
      e.stageIds.foreach(stageTag(_) = t)
      acc(t).jobs += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (t, s) => acc(t).spans += ((s, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val a = acc(t)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.resultBytes += m.resultSize
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

object Probe { val Key = "cvbench.op" }

/** One span: name, op id, parent span name and System.nanoTime bounds. */
final case class Span(op: Int, name: String, parent: String, start: Long, end: Long)

/** Single-thread driver replays of one op's stored objects through the
  * `graft.core` kernels, in both directions, so every kernel is timed
  * on every workload's own data. Times in ns, sizes in bytes. */
final case class CoreReplay(decompressNs: Long, decompressOut: Long,
    decodeNs: Long, csegDecodeNs: Long, csegDecodeOut: Long,
    labelsNs: Long, csegLabelsNs: Long, csegLabelsVox: Long, labelsIn: Long,
    compressNs: Long, compressIn: Long, encodeNs: Long, csegEncodeNs: Long,
    csegEncodeVox: Long, shardSynthNs: Long)

object CoreReplay {
  private def timed[T](f: => T): (T, Long) = {
    val t = System.nanoTime(); val r = f; (r, System.nanoTime() - t)
  }

  def apply(objs: Seq[Stored], cseg: Boolean, dtb: Int, block: Vec3): CoreReplay = {
    val (payloads, dz) = timed(objs.map(o => Codec.gunzip(o.stored)))
    val sizes = objs.map(_.bbox.size)
    val (voxels, dd) = timed(payloads.zip(sizes).map { case (p, s) =>
      if (cseg) Cseg.decode(p, s, block, dtb) else Codec.decodeRawToLongs(p, dtb)
    })
    val (labels, dl) = timed(payloads.zip(sizes).map { case (p, s) =>
      if (cseg) Cseg.labels(p, s, block, dtb) else Codec.rawLabels(p, dtb)
    })
    val (_, dc) = timed(payloads.map(p => Codec.gzip(p)))
    val (_, de) = timed(voxels.zip(sizes).map { case (v, s) =>
      if (cseg) Cseg.encode(v, s, block, dtb) else Codec.encodeRawFromLongs(v, dtb)
    })
    // one shard holding every object, raw data encoding so the time is
    // index building and assembly, not a second gzip
    val spec = ShardingSpec(0, 0, 0)
    val (_, ds) = timed(ShardCodec.synthesizeShard(spec,
      payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }))
    val vox = voxels.map(_.length.toLong).sum
    val outBytes = payloads.map(_.length.toLong).sum
    CoreReplay(dz, outBytes, dd, if (cseg) dd else 0, if (cseg) vox * dtb else 0,
      dl, if (cseg) dl else 0, if (cseg) vox * dtb else 0,
      labels.map(_.length.toLong).sum, dc, outBytes, de, if (cseg) de else 0,
      if (cseg) vox * dtb else 0, ds)
  }
}

/** Everything the traced run knows about one traced op. */
final case class OpTrace(run: OpRun, fillMs: Double, chunksPlanned: Long,
    objectsRead: Long, bytesRead: Long, shardsTouched: Long, scanMs: Double,
    decodeAssembleMs: Double, decodeAssembleTaskMs: Long, core: CoreReplay,
    labelSetIn: Long, labelSetOut: Long, jobs: Int, stages: Int, tasks: Int,
    taskMs: Long, jobMs: Long, resultBytes: Long, shuffleWrite: Long,
    gcMs: Long, peakMemMB: Double)

/** The traced side of a run: attaches the probe around traced ops,
  * records spans, and after each op's span closes replays the op's
  * layers one at a time (scan only, decode+assemble over cached rows,
  * the caller's fill over pre-decoded rows, single-thread kernels). */
final class Tracer(runner: Runner) {
  private val spark = runner.spark
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val traced = mutable.ArrayBuffer.empty[OpTrace]

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def tagged[T](tag: String)(f: => T): T = {
    sc.setLocalProperty(Probe.Key, tag)
    try f finally sc.setLocalProperty(Probe.Key, null)
  }

  private def span[T](op: Int, name: String)(f: => T): T = {
    val t = System.nanoTime()
    try f finally spans += Span(op, name, "op", t, System.nanoTime())
  }

  /** The layer and box an op's side replays cover. */
  private def target(op: Op): (LayerRef, Bbox) = op match {
    case c: Cutout => (c.layer, c.bbox)
    case u: Unique => (u.layer, u.region)
  }

  private def chunkFrame(l: LayerRef, b: Bbox) =
    if (l.sharded) ShardedIO.readChunksSharded(spark, l.dir, b)
    else PrecomputedIO.readChunks(spark, l.dir)
      .filter(col("x1") > b.minpt.x && col("x0") < b.maxpt.x &&
        col("y1") > b.minpt.y && col("y0") < b.maxpt.y &&
        col("z1") > b.minpt.z && col("z0") < b.maxpt.z)

  def run(op: Op): OpRun = {
    val probe = new Probe
    sc.addSparkListener(probe)
    try {
      val gc0 = gcMs()
      val r = tagged(s"${op.id}")(runner.run(op))
      val gc = gcMs() - gc0
      spans += Span(op.id, "op", "", r.t0, r.end)
      spans += Span(op.id, "sources.plan", "op", r.t0, r.planEnd)
      spans += Span(op.id, "spark.execute", "op", r.planEnd, r.execEnd)
      spans += Span(op.id, "result.decode_fill", "op", r.execEnd, r.end)
      if (r.ok) replay(op, r, probe, gc)
      r
    } finally {
      org.apache.spark.cvbench.Bridge.drain(sc)
      sc.removeSparkListener(probe)
    }
  }

  private def replay(op: Op, r: OpRun, probe: Probe, gc: Long): Unit = {
    val (l, b) = target(op)
    val scale = l.scale
    val dtb = l.meta.dtypeBytes
    val scanMs = span(op.id, "replay.scan") {
      val t = System.nanoTime()
      tagged(s"${op.id}.scan")(chunkFrame(l, b)
        .agg(sum(length(col("payload")))).collect())
      (System.nanoTime() - t) / 1e6
    }
    val cached = chunkFrame(l, b).cache()
    val (daMs, daTaskMs) = try {
      cached.count()
      span(op.id, "replay.decode_assemble") {
        val t = System.nanoTime()
        tagged(s"${op.id}.da")(PrecomputedIO.decodeToVoxels(cached, b, scale, dtb)
          .queryExecution.toRdd.count())
        val ms = (System.nanoTime() - t) / 1e6
        org.apache.spark.cvbench.Bridge.drain(sc)
        (ms, probe.acc(s"${op.id}.da").taskMs)
      }
    } finally cached.unpersist()
    // the caller's own work alone: the op's rows collected again and all
    // decoded before the clock starts, then assembled as in the op
    val fillMs = span(op.id, "replay.fill") {
      val rows = org.apache.spark.cvbench.Bridge.collectRows(runner.frame(op)).toArray
      val t = System.nanoTime()
      runner.assemble(op, rows.iterator)
      (System.nanoTime() - t) / 1e6
    }
    val objs = Objects.read(l, b)
    val core = span(op.id, "replay.core") {
      CoreReplay(objs, l.cseg, dtb, scale.csegBlockSize.getOrElse(Vec3(8, 8, 8)))
    }
    org.apache.spark.cvbench.Bridge.drain(sc)
    val a = probe.acc(s"${op.id}")
    val (lin, lout) = op match {
      case u: Unique => (core.labelsIn, Expect.labelSet(u.layer.field, u.region).length.toLong)
      case _ => (0L, 0L)
    }
    traced += OpTrace(r, fillMs, Objects.gridOf(l, b).size,
      if (l.sharded) Objects.shardsTouched(l, b) else objs.size,
      Objects.bytesRead(l, b, objs), Objects.shardsTouched(l, b), scanMs, daMs,
      daTaskMs, core, lin, lout, a.jobs, a.stages, a.tasks, a.taskMs, a.jobMs,
      a.resultBytes, a.shuffleWrite, gc, a.peakMem / 1e6)
  }

  /** Spans as JSON lines, written when the run ends. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"op":${s.op},"name":"${s.name}","parent":"${s.parent}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }
}
