package cvbench

/** Per-layer metrics of a traced run. Per-op values are medians over
  * the traced ops (shard and label-set counts over the ops that have
  * them); kernel rates are total bytes over total time; GC is a mean
  * (most ops collect nothing). */
object Report {
  def layers(t: Tracer, untracedWalls: Seq[Double], cores: Int)
      : Seq[(String, Double, String)] = {
    val ops = t.traced.toSeq
    def med(f: OpTrace => Double): Double = Main.median(ops.map(f))
    def rate(bytes: OpTrace => Long, ns: OpTrace => Long): Double = {
      val n = ops.map(ns).sum
      if (n == 0) 0.0 else ops.map(bytes).sum.toDouble / n * 1e3
    }
    val uniques = ops.filter(_.run.op.isInstanceOf[Unique])
    val wall = (o: OpTrace) => o.run.wallMs
    val tracedP50 = med(wall)
    val untracedP50 = Main.median(untracedWalls)
    val ms = (ns: Long) => ns / 1e6
    Seq(
      ("sources.plan_ms", med(_.run.planMs), "ms"),
      ("sources.chunks_planned", med(_.chunksPlanned.toDouble), "count"),
      ("sources.objects_read", med(_.objectsRead.toDouble), "count"),
      ("sources.bytes_read", med(_.bytesRead.toDouble), "B"),
      ("sources.shards_touched",
        Main.median(ops.filter(_.shardsTouched > 0).map(_.shardsTouched.toDouble)), "count"),
      ("sources.scan_ms", med(_.scanMs), "ms"),
      ("sources.decode_assemble_ms", med(_.decodeAssembleMs), "ms"),
      ("sources.assemble_self_ms",
        med(o => o.decodeAssembleTaskMs - ms(o.core.decodeNs)), "ms"),
      ("core.decompress_ms", med(o => ms(o.core.decompressNs)), "ms"),
      ("core.decode_ms", med(o => ms(o.core.decodeNs)), "ms"),
      ("core.labels_ms", med(o => ms(o.core.labelsNs)), "ms"),
      ("core.compress_ms", med(o => ms(o.core.compressNs)), "ms"),
      ("core.encode_ms", med(o => ms(o.core.encodeNs)), "ms"),
      ("core.shard_synth_ms", med(o => ms(o.core.shardSynthNs)), "ms"),
      ("core.gunzip_MBps", rate(_.core.decompressOut, _.core.decompressNs), "MB/s"),
      ("core.gzip_MBps", rate(_.core.compressIn, _.core.compressNs), "MB/s"),
      ("core.cseg_decode_MBps", rate(_.core.csegDecodeOut, _.core.csegDecodeNs), "MB/s"),
      ("core.cseg_encode_MBps", rate(_.core.csegEncodeVox, _.core.csegEncodeNs), "MB/s"),
      ("core.cseg_labels_MBps", rate(_.core.csegLabelsVox, _.core.csegLabelsNs), "MB/s"),
      ("functions.label_set_in", Main.median(uniques.map(_.labelSetIn.toDouble)), "count"),
      ("functions.label_set_out", Main.median(uniques.map(_.labelSetOut.toDouble)), "count"),
      ("functions.label_dedup_ratio",
        if (uniques.isEmpty) 0.0
        else uniques.map(_.labelSetIn).sum.toDouble / math.max(uniques.map(_.labelSetOut).sum, 1L),
        "ratio"),
      ("spark.jobs", med(_.jobs.toDouble), "count"),
      ("spark.stages", med(_.stages.toDouble), "count"),
      ("spark.tasks", med(_.tasks.toDouble), "count"),
      ("spark.task_ms", med(_.taskMs.toDouble), "ms"),
      ("spark.job_ms", med(_.jobMs.toDouble), "ms"),
      ("spark.driver_gap_ms", med(o => wall(o) - o.jobMs), "ms"),
      ("spark.result_bytes", med(_.resultBytes.toDouble), "B"),
      ("spark.shuffle_write_bytes", med(_.shuffleWrite.toDouble), "B"),
      ("spark.gc_ms", if (ops.isEmpty) 0.0 else ops.map(_.gcMs).sum.toDouble / ops.size, "ms"),
      ("spark.peak_exec_mem_MB", med(_.peakMemMB), "MB"),
      ("spark.parallel_eff", med(o => o.taskMs / math.max(wall(o) * cores, 1e-9)), "ratio"),
      ("spark.execute_ms", med(_.run.execMs), "ms"),
      ("spark.result_decode_ms", med(o => o.run.assembleMs - o.fillMs), "ms"),
      ("bench.assemble_ms", med(_.fillMs), "ms"),
      ("op.wall_ms", tracedP50, "ms"),
      ("op.unexplained_ms",
        med(o => wall(o) - o.run.planMs - o.jobMs - o.run.assembleMs), "ms"),
      ("trace.untraced_op_p50_ms", untracedP50, "ms"),
      ("trace.overhead_ms", tracedP50 - untracedP50, "ms"))
  }
}
