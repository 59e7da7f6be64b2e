package cvbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.{PrecomputedIO, ShardedIO}

/** A generated layer on disk and the field it was written from. */
final case class LayerRef(dir: String, field: VoxelField, meta: VolumeMeta) {
  def scale: ScaleMeta = meta.scale(0)
  def sharded: Boolean = scale.isSharded
  def cseg: Boolean = scale.encoding == "compressed_segmentation"
}

sealed trait Op {
  def id: Int
  def kind: String
}
final case class Cutout(id: Int, kind: String, layer: LayerRef, bbox: Bbox) extends Op
final case class Unique(id: Int, layer: LayerRef, region: Bbox) extends Op {
  def kind: String = "seg_unique"
}

/** Wall-clock marks of one op (System.nanoTime), its size, and the
  * check of its result. */
final case class OpRun(op: Op, t0: Long, planEnd: Long,
    execEnd: Long, end: Long, voxelBytes: Long, ok: Boolean,
    error: Option[String]) {
  def wallMs: Double = (end - t0) / 1e6
  def planMs: Double = (planEnd - t0) / 1e6
  def execMs: Double = (execEnd - planEnd) / 1e6
  def assembleMs: Double = (end - execEnd) / 1e6
}

/** An op's result on the driver: a cutout's dense voxel buffer (`bytes`
  * for a uint8 layer, `longs` for uint64; `count` rows were placed) or a
  * unique's sorted label array (`longs`). */
final case class Result(bytes: Array[Byte], longs: Array[Long], count: Long)

/** Runs ops against one SparkSession the way a cloud-volume user calls
  * `vol[bbox]` and `vol.unique()`: each op ends when its result is on
  * the driver (a dense voxel buffer, a label array). Result checks run
  * after the op's clock stops. `wrong` names ops whose expectations are
  * deliberately corrupted, so the self-test can show that the checks
  * catch it. */
final class Runner(val spark: SparkSession, wrong: Set[Int]) {
  graft.functions.GraftFunctions.register(spark)

  private def now(): Long = System.nanoTime()

  def run(op: Op): OpRun = {
    val t0 = now()
    try {
      val df = frame(op)
      df.queryExecution.executedPlan
      val t1 = now()
      val rows = org.apache.spark.cvbench.Bridge.collectRows(df)
      val t2 = now()
      val res = assemble(op, rows)
      val t3 = now()
      val err = check(op, res)
      val voxelBytes = op match {
        case c: Cutout => c.bbox.volume * c.layer.field.dtypeBytes
        case _: Unique => 0L
      }
      OpRun(op, t0, t1, t2, t3, voxelBytes, err.isEmpty, err)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        val t = now()
        OpRun(op, t0, t, t, t, 0, ok = false,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
  }

  /** The frame an op collects: the engine's cutout, or codec-level labels
    * of each chunk merged by graft_label_set (a unique's region is
    * chunk-aligned, so the chunk labels are exactly the region's). */
  def frame(op: Op): DataFrame = op match {
    case Cutout(_, _, l, b) =>
      if (l.sharded) ShardedIO.cutoutVoxelsSharded(spark, l.dir, b)
      else PrecomputedIO.cutoutVoxels(spark, l.dir, b)
    case Unique(_, l, region) =>
      val cs = l.scale.chunkSize
      val lo = region.minpt.floorDiv(cs); val hi = region.maxpt.floorDiv(cs)
      val block = l.scale.csegBlockSize.get
      val labels = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long,
          z1: Long, p: Array[Byte]) =>
        Cseg.labels(p, Vec3(x1 - x0, y1 - y0, z1 - z0), block, 8))
      PrecomputedIO.readChunks(spark, l.dir)
        .filter(col("gx") >= lo.x && col("gx") < hi.x && col("gy") >= lo.y &&
          col("gy") < hi.y && col("gz") >= lo.z && col("gz") < hi.z)
        .select(labels(col("x0"), col("y0"), col("z0"), col("x1"), col("y1"),
          col("z1"), col("payload")).as("labels"))
        .agg(expr("graft_label_set(labels)").as("ls"))
  }

  /** The caller's own work on an op's collected rows: each (x, y, z,
    * value) row of a cutout goes to its place in the dense buffer; a
    * unique's one row is read as a label array. */
  def assemble(op: Op, rows: Iterator[InternalRow]): Result = op match {
    case c: Cutout =>
      val b = c.bbox
      val sx = b.size.x; val sy = b.size.y
      val vol = b.volume.toInt
      var n = 0L
      val u8 = c.layer.field.dtypeBytes == 1
      val bytes = if (u8) new Array[Byte](vol) else null
      val longs = if (u8) null else new Array[Long](vol)
      rows.foreach { r =>
        val i = ((r.getLong(0) - b.minpt.x) + sx * ((r.getLong(1) - b.minpt.y) +
          sy * (r.getLong(2) - b.minpt.z))).toInt
        if (u8) bytes(i) = r.getLong(3).toByte else longs(i) = r.getLong(3)
        n += 1
      }
      Result(bytes, longs, n)
    case _: Unique =>
      val labels = rows.next().getArray(0).toLongArray()
      Result(null, labels, labels.length)
  }

  /** The result against the generator's closed form; None when it holds. */
  private def check(op: Op, res: Result): Option[String] = op match {
    case c: Cutout =>
      val u8 = res.bytes != null
      val vol = c.bbox.volume.toInt
      var sum = 0L; var hash = 0L; var i = 0
      while (i < vol) {
        val v = if (u8) res.bytes(i) & 0xffL else res.longs(i)
        sum += v; hash += Field.term(i, v); i += 1
      }
      val want = Expect.stats(c.layer.field, c.bbox)
      val ok = res.count == want.count && sum == want.sum &&
        hash == (if (wrong(c.id)) want.hash ^ 1L else want.hash)
      if (ok) None else Some(s"buffer mismatch: ${res.count} voxels, sum $sum, " +
        s"hash $hash; want ${want.count}, ${want.sum}, ${want.hash}")
    case u: Unique =>
      val want0 = Expect.labelSet(u.layer.field, u.region)
      val want = if (wrong(u.id)) want0.drop(1) else want0
      if (java.util.Arrays.equals(res.longs, want)) None
      else Some(s"label set: got ${res.longs.length}, want ${want.length}")
  }
}
