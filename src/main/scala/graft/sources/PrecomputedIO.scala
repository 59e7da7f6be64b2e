package graft.sources

import java.nio.file.{Files, Paths, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core._
import graft.functions.DecodeVoxels
import graft.functions.DecodeVoxels.{chunkCols, stage}

/** Real Neuroglancer precomputed layer I/O on a filesystem.
  *
  * A layer is a directory: `info` JSON at the root plus one directory
  * per scale `key` holding chunk objects named "x0-x1_y0-y1_z0-z1"
  * (image/common.py:137-155). Chunk payloads are encoded per the
  * scale's `encoding` and second-stage compressed per
  * `should_compress` (datasource/precomputed/common.py:18-29); on a
  * filesystem the compressed objects carry a `.gz` suffix (as the
  * reference's file fixtures under test_seg_unsharded/8_8_40/ do).
  *
  * Write path = S9 aligned write (image/tx.py:193-260): the chunk
  * DataFrame is already partitioned by chunk key, so each executor
  * task encodes and writes only its own chunks — the same shape a
  * 1000-executor object-store ingest uses (PUT per chunk, no driver
  * funnel). Read path = S4/S8 (image/rx.py:239-379): grid enumeration
  * is metadata-sized and happens at planning time; file reads happen
  * in executor tasks. For object stores, the file read becomes a GET —
  * the plan shape is identical.
  */
object PrecomputedIO {

  /** Write `info` (metadata.py:295-334 commit_info). */
  def writeInfo(layerDir: String, meta: VolumeMeta): Unit = {
    Files.createDirectories(Paths.get(layerDir))
    Files.writeString(Paths.get(layerDir, "info"), VolumeMeta.toJson(meta))
  }

  def readInfo(layerDir: String): VolumeMeta = VolumeMeta.readInfo(layerDir)

  /** Chunk object path (without compression suffix) for a grid point. */
  def chunkPath(layerDir: String, scale: ScaleMeta, g: Vec3): Path = {
    val name = Geom.chunkBbox(g, scale.bounds, scale.chunkSize).toFilename
    Paths.get(layerDir, scale.key, name)
  }

  /** Read one chunk object; tries `name`, `name.gz`, `name.br`.
    * Returns None when the object is missing (S15 fill_missing decides
    * what that means upstream).
    */
  def readChunkBytes(layerDir: String, scale: ScaleMeta, g: Vec3): Option[Array[Byte]] =
    readChunkObject(chunkPath(layerDir, scale, g), scale.chunkSize)

  /** Object-name suffix -> second-stage codec ([[Compressors]] name):
    * the suffix names the codec (datasource/precomputed/common.py:18-29). */
  private val Suffixes = Seq("" -> "none", ".gz" -> "gzip", ".br" -> "br")

  /** The one object get for precomputed chunks: the stored object is
    * `p` itself, or `p.gz` / `p.br` when second-stage compressed.
    */
  def readChunkObject(p: Path, chunkSize: Vec3): Option[Array[Byte]] =
    Suffixes.iterator.map { case (sfx, codec) => (Paths.get(p.toString + sfx), codec) }
      .collectFirst { case (f, codec) if Files.exists(f) =>
        Compressors.decompress(codec, Files.readAllBytes(f), chunkSize) }

  /** The object-name suffix of second-stage `method` ("gzip" -> `.gz`,
    * "br" -> `.br`, "none" -> bare name; the dual of [[readChunkObject]]). */
  private[sources] def suffix(method: String): String =
    Suffixes.find(_._2 == method).fold("")(_._1)

  /** Decoded-payload ceiling for one chunk (brotli's second-stage bound:
    * chunk voxels x widest dtype (uint64) + slack, so a corrupt object
    * errors instead of OOMing the executor; the image codec then
    * enforces exact size). */
  def chunkDecodeCeiling(chunkSize: Vec3): Int = {
    val voxels = chunkSize.x * chunkSize.y * chunkSize.z
    (math.min(voxels * 8L + (1L << 20), Int.MaxValue.toLong)).toInt
  }

  /** S9 aligned write: chunk rows (gx, gy, gz, payload) — payload
    * already encoded for the scale's encoding — written as real chunk
    * objects through the one chunk sink ([[ChunkLayout.write]]):
    * executor-side, one object put per chunk (tx.py:314-475
    * threaded_upload_chunks; Spark tasks replace the thread pool), named
    * by its bbox plus the second-stage suffix. With `deleteBlack`,
    * all-background chunks are elided (S14, tx.py:445-456) — pass
    * background payload bytes to compare. A sharded scale is written by
    * [[ShardedIO.writeSharded]].
    */
  def writeChunks(chunks: DataFrame, layerDir: String, meta: VolumeMeta,
      mip: Int, deleteBlack: Option[Array[Byte]] = None,
      compress: Option[Boolean] = None,
      codec: Option[String] = None): Unit = {
    // P10 write-lock guard (metadata.py:840-885, frontends/
    // precomputed.py:57-59): refuse writes to locked mips
    if (meta.lockedMips.contains(mip))
      throw new IllegalStateException(
        s"mip $mip is write-locked (scale ${meta.scale(mip).key})")
    val scale = meta.scale(mip)
    require(!scale.isSharded,
      s"scale ${scale.key} is sharded — use ShardedIO.writeSharded")
    // compress=Some(b) overrides the per-encoding policy, like the
    // reference's `compress` kwarg on upload (tx.py:35-61); codec
    // selects the second-stage method itself ("gzip" | "br" | "none",
    // the reference's compress='gzip'/'br'/False values) and takes
    // precedence over the boolean form
    val method = codec.getOrElse(
      if (compress.getOrElse(Codec.shouldCompress(scale.encoding))) "gzip"
      else "none")
    ChunkLayout.write(chunks.select(col("gx"), col("gy"), col("gz"), col("payload")),
      ChunkLayout.precomputed(layerDir, meta, mip, fillMissing = false), method,
      deleteBlack)
  }

  /** S8 raw-file read via the DSv2 source: chunk rows over a bbox
    * (or the whole volume) without decoding. Filters on gx/gy/gz are
    * pushed into the scan (partition pruning); dropping `payload`
    * skips file IO entirely.
    */
  def readChunks(spark: SparkSession, layerDir: String, mip: Int = 0,
      fillMissing: Boolean = false): DataFrame =
    spark.read.format("neuroglancer")
      .option("mip", mip)
      .option("fill_missing", fillMissing)
      .load(layerDir)

  /** Chunk rows of scale `mip` overlapping `bbox` ([[ChunkLayout.chunksIn]]
    * over the layer's layout). Sharded and unsharded scales both read
    * through this one scan. */
  private[sources] def chunksIn(spark: SparkSession, layerDir: String,
      meta: VolumeMeta, bbox: Bbox, mip: Int, fillMissing: Boolean): DataFrame =
    ChunkLayout.chunksIn(spark,
      ChunkLayout.precomputed(layerDir, meta, mip, fillMissing), bbox)

  /** S4 cutout read: decode chunks intersecting `bbox` into clipped
    * voxel rows (x, y, z, label). Decode happens once per chunk in the
    * scan projection; the voxel explosion is for oracle-checkability —
    * production cutouts stay at chunk granularity (rx.py:239-379).
    */
  def cutoutVoxels(spark: SparkSession, layerDir: String, bbox: Bbox,
      mip: Int = 0, fillMissing: Boolean = false,
      background: Long = 0L): DataFrame = {
    val meta = readInfo(layerDir)
    // never reinterpret IEEE float payloads as integers — that is
    // silent data corruption, not a decode
    require(!meta.dataType.startsWith("float"),
      s"${meta.dataType} layer — use cutoutVoxelsFloat")
    val scale = meta.scale(mip)
    // ROI coarse-pruning short-circuit (metadata.py:702-722
    // overlaps_roi, used rx.py:63-67,281-285): a request entirely
    // outside the declared ROIs returns a background buffer with ZERO
    // chunk IO — the planning-time check SURVEY §4 calls for. Mip>0
    // requests are first lifted to mip 0 where ROIs are declared.
    val inRoi = meta.sortedRois match {
      case Some(rois) if mip == 0 => rois.exists(_.overlapsBbox(bbox))
      case _ => true // no ROI list (or non-0 mip in this subset) = all in
    }
    if (!inRoi) {
      val clip = bbox.intersection(scale.bounds)
      import spark.implicits._
      val sz = clip.size
      return spark.range(math.max(sz.x * sz.y * sz.z, 0L)).select(
        (col("id") % sz.x + clip.minpt.x).as("x"),
        ((col("id") / sz.x).cast("long") % sz.y + clip.minpt.y).as("y"),
        ((col("id") / (sz.x * sz.y)).cast("long") + clip.minpt.z).as("z"),
        lit(background).as("label"))
    }
    ChunkLayout.cutout(spark,
      ChunkLayout.precomputed(layerDir, meta, mip, fillMissing, background), bbox)
  }

  /** S4 float-image cutout (float32/float64 raw layers — the
    * reference's float dtype support; fpzip-compressed float chunks
    * are n/a with the other C++ codecs). Same pruned scan and decode
    * stage as the integer path, but voxels decode as IEEE doubles and
    * the value column is DOUBLE.
    *
    * @return voxel rows (x, y, z, value: double)
    */
  def cutoutVoxelsFloat(spark: SparkSession, layerDir: String, bbox: Bbox,
      mip: Int = 0, fillMissing: Boolean = false): DataFrame = {
    val meta = readInfo(layerDir)
    val scale = meta.scale(mip)
    require(meta.dataType.startsWith("float"),
      s"${meta.dataType} layer — use cutoutVoxels")
    require(scale.encoding == "raw",
      s"float cutout reads raw encoding, not ${scale.encoding}")
    stage(chunksIn(spark, layerDir, meta, bbox, mip, fillMissing),
      DecodeVoxels(chunkCols, scale.encoding, meta.dtypeBytes, bbox,
        valueType = DoubleType))
  }

  /** P2/S4 multi-channel cutout: chunk payloads hold all channels in
    * F-order with channel SLOWEST (a uint8 RGBA chunk is 4 contiguous
    * x-fastest planes — chunks.py:323-325 encode_raw tobytes('F'),
    * frontends/precomputed.py:348-351 shape (x,y,z,channels)).
    * `channels` is the reified channel slice of the reference's 4-D
    * __getitem__ (frontends/precomputed.py:582-588 channel_slice):
    * only requested channels become rows, so the selection prunes
    * inside the decode stage.
    *
    * @return voxel rows (x, y, z, c, value)
    */
  def cutoutVoxelsChannels(spark: SparkSession, layerDir: String,
      bbox: Bbox, channels: Seq[Int], mip: Int = 0,
      fillMissing: Boolean = false): DataFrame = {
    val meta = readInfo(layerDir)
    val scale = meta.scale(mip)
    // png/jpeg chunks hold the same 4-D data as one interleaved-pixel
    // image (chunks.py:207-218 as2d; decoded back to the planar raw
    // layout); jpeg is RGB-only per the reference (chunks.py:277)
    require(Set("raw", "png", "jpeg").contains(scale.encoding),
      s"multi-channel cutout reads raw/png/jpeg, not ${scale.encoding}")
    val isPng = scale.encoding == "png"
    val isJpeg = scale.encoding == "jpeg"
    require(!(isPng || isJpeg) || meta.dataType == "uint8",
      s"${scale.encoding} encoding requires uint8, not ${meta.dataType}")
    val nc = meta.numChannels
    require(!isJpeg || nc == 3,
      s"jpeg multi-channel requires 3 channels, got $nc")
    require(channels.nonEmpty && channels.forall(c => c >= 0 && c < nc),
      s"channel slice $channels out of range for $nc channels")
    stage(chunksIn(spark, layerDir, meta, bbox, mip, fillMissing),
      DecodeVoxels(chunkCols, scale.encoding, meta.dtypeBytes, bbox,
        channels = channels.toList, planes = nc))
  }

  /** Shared decode stage: chunk rows (x0..z1, payload) -> voxel rows
    * (x, y, z, label) clipped to `bbox`, dispatching on the scale's
    * encoding. One native generator ([[DecodeVoxels]]) decodes each
    * chunk once and streams its clipped voxels straight into Spark's
    * row buffer, z-major and x fastest within a chunk. `background` is
    * the fill value for missing (null-payload) chunks — the
    * reference's background_color option (image/rx.py background
    * buffers; test_cloudvolume.py:85-140), default 0. In every
    * session a label-equality filter above this stage gets a
    * payload-level contains() gate below it
    * ([[graft.functions.ContainsGateRule]]), and a collect of the
    * result ships one dtype-width block per chunk to the driver, which
    * builds the rows there
    * ([[org.apache.spark.sql.graftshim.DecodeVoxelsExec]]); the rows
    * do not change.
    */
  def decodeToVoxels(chunks: DataFrame, bbox: Bbox, scale: ScaleMeta,
      dtb: Int, background: Long = 0L): DataFrame =
    stage(chunks, DecodeVoxels(chunkCols, scale.encoding, dtb, bbox,
      scale.csegBlockSize.getOrElse(Vec3(8, 8, 8)), background))
}
