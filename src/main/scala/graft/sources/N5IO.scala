package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._

/** N5 read/write (S18) — the subset the reference's n5 datasource
  * implements (datasource/n5/image.py:44-90 parse_chunk,
  * metadata.py:38-115):
  *
  * - root + per-scale `attributes.json` (dataType, blockSize,
  *   dimensions, compression {type: raw|gzip|lz4|bzip2|xz|blosc — the
  *   FULL N5 spec set plus the n5-blosc extension; lz4 uses the
  *   jpountz block framing, bzip2 commons-compress, and xz the
  *   org.tukaani LZMA2 stream (xz-1.10 on the Spark classpath), all
  *   matching what the standard Java N5 library writes; blosc shares
  *   the frame codec with the zarr2/zarr3 readers})
  * - block objects at `s<mip>/<x>/<y>/<z>`
  * - block binary: BIG-endian header u16 mode(=0) | u16 ndim |
  *   u32 dims[ndim] (edge blocks carry their clamped dims), then the
  *   (gzip-wrapped) voxel data, F-order like precomputed raw
  *   (image.py:53-87), stored BIG-endian per the canonical N5 spec —
  *   see encodeBlock for the deliberate deviation from the reference's
  *   native-endian decode.
  */
object N5IO {

  final case class N5Meta(
      dimensions: Vec3,
      blockSize: Vec3,
      dataType: String,
      compression: String = "gzip") {
    require(
      Set("raw", "gzip", "lz4", "bzip2", "xz", "blosc").contains(compression),
      s"n5 compression $compression")
    def dtypeBytes: Int = dataType match {
      case "uint8" => 1
      case "uint16" => 2
      case "uint32" => 4
      case "uint64" => 8
      case d => throw new IllegalArgumentException(s"n5 dataType $d")
    }
  }

  private val om = new ObjectMapper()

  def writeMeta(dir: String, m: N5Meta): Unit = {
    Files.createDirectories(Paths.get(dir))
    val root = om.createObjectNode()
    root.put("n5", "2.0.0")
    Files.writeString(Paths.get(dir, "attributes.json"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(root))
    writeDatasetAttrs(dir, m, "s0", None)
  }

  /** Write a scale-pyramid container — the n5-viewer/bigdataviewer
    * multiScale convention: the root attributes.json carries
    * `"multiScale": true`, level i lives in dataset `s<i>` whose own
    * attributes.json adds `downsamplingFactors` (2^i per axis). Each
    * level is an ordinary dataset, so per-level reads go through the
    * existing block paths unchanged.
    */
  def writeMetaPyramid(dir: String, mips: Seq[N5Meta]): Unit = {
    require(mips.nonEmpty, "a scale pyramid needs at least one level")
    Files.createDirectories(Paths.get(dir))
    val root = om.createObjectNode()
    root.put("n5", "2.0.0")
    root.put("multiScale", true)
    Files.writeString(Paths.get(dir, "attributes.json"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(root))
    mips.zipWithIndex.foreach { case (m, i) =>
      writeDatasetAttrs(dir, m, s"s$i", Some(1L << i))
    }
  }

  private def writeDatasetAttrs(dir: String, m: N5Meta, ds: String,
      downsamplingFactor: Option[Long]): Unit = {
    Files.createDirectories(Paths.get(dir, ds))
    val s0 = om.createObjectNode()
    s0.put("dataType", m.dataType)
    val bs = s0.putArray("blockSize")
    bs.add(m.blockSize.x); bs.add(m.blockSize.y); bs.add(m.blockSize.z)
    val dims = s0.putArray("dimensions")
    dims.add(m.dimensions.x); dims.add(m.dimensions.y); dims.add(m.dimensions.z)
    val cnode = s0.putObject("compression")
    cnode.put("type", m.compression)
    if (m.compression == "blosc") {
      // the n5-blosc extension's attribute shape
      cnode.put("cname", "lz4"); cnode.put("clevel", 5)
      cnode.put("shuffle", 1); cnode.put("blocksize", 0)
      cnode.put("nthreads", 1)
    }
    downsamplingFactor.foreach { f =>
      val df = s0.putArray("downsamplingFactors")
      df.add(f); df.add(f); df.add(f)
    }
    Files.writeString(Paths.get(dir, ds, "attributes.json"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(s0))
  }

  def readMeta(dir: String, ds: String = "s0"): N5Meta = {
    val s0 = om.readTree(Files.readString(Paths.get(dir, ds, "attributes.json")))
    val dims = s0.get("dimensions")
    val bs = s0.get("blockSize")
    N5Meta(
      dimensions = Vec3(dims.get(0).asLong, dims.get(1).asLong, dims.get(2).asLong),
      blockSize = Vec3(bs.get(0).asLong, bs.get(1).asLong, bs.get(2).asLong),
      dataType = s0.get("dataType").asText,
      compression = Option(s0.get("compression"))
        .map(_.get("type").asText).getOrElse("raw"))
  }

  /** Encode one block: big-endian header + (gzip) BIG-endian F-order
    * data, matching the canonical N5 on-disk format (blocks written by
    * the standard Java N5 library are big-endian). This deliberately
    * deviates from the reference, which decodes with numpy's native
    * (little) endianness (n5/image.py:85) and so would misread
    * canonical uint16/32/64 N5 volumes.
    */
  def encodeBlock(vox: Array[Long], dims: Vec3, dtb: Int,
      compression: String): Array[Byte] =
    withHeader(dims, Compressors.compress(compression,
      Codec.encodeRawFromLongs(vox, dtb, ByteOrder.BIG_ENDIAN), dtb))

  /** `body` behind a block header of clamped `dims` ([[header]] undone). */
  private[sources] def withHeader(dims: Vec3, body: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(16 + body.length).order(ByteOrder.BIG_ENDIAN)
    buf.putShort(0) // mode
    buf.putShort(3) // ndim
    buf.putInt(dims.x.toInt); buf.putInt(dims.y.toInt); buf.putInt(dims.z.toInt)
    buf.put(body)
    buf.array()
  }

  /** Decode one block -> (clamped dims, F-order voxels). */
  def decodeBlock(binary: Array[Byte], dtb: Int, compression: String)
      : (Vec3, Array[Long]) = {
    val (dims, body) = header(binary, dtb)
    val vox = Codec.decodeRawToLongs(
      Compressors.decompress(compression, body, dims), dtb, ByteOrder.BIG_ENDIAN)
    require(vox.length == dims.x * dims.y * dims.z,
      s"block ${vox.length} voxels != ${dims}")
    (dims, vox)
  }

  /** A block's header dims and its (compressed) body. */
  private[sources] def header(binary: Array[Byte], dtb: Int)
      : (Vec3, Array[Byte]) = {
    require(binary.length >= 16,
      s"n5 block ${binary.length}B shorter than the 16-byte header")
    val buf = ByteBuffer.wrap(binary).order(ByteOrder.BIG_ENDIAN)
    val mode = buf.getShort()
    require(mode == 0, s"n5 mode $mode unsupported (image.py:55-61)")
    val ndim = buf.getShort()
    require(ndim == 3, s"ndim $ndim")
    val dims = Vec3(buf.getInt().toLong, buf.getInt().toLong, buf.getInt().toLong)
    // header dims are untrusted and size the decode: negative or
    // bomb-sized dims must fail here, before decompression allocates.
    // Per-axis bound first so the product below cannot overflow Long
    // (3 x 20-bit axes = a 60-bit product at most), then the ceiling
    // in DIVISION form so no multiply by dtb can wrap. A legitimate
    // 2^20-long axis is legal as long as the total fits the ceiling —
    // the bound rejects axis sizes, the ceiling rejects volumes.
    require(dims.x > 0 && dims.y > 0 && dims.z > 0 &&
        dims.x <= (1 << 20) && dims.y <= (1 << 20) && dims.z <= (1 << 20),
      s"corrupt n5 block header: dims $dims outside (0, 2^20] per axis")
    val nvox = dims.x * dims.y * dims.z
    require(nvox <= Codec.MaxDecodedChunkBytes / dtb,
      s"corrupt n5 block header: dims $dims (x$dtb B/voxel) outside " +
        s"the ${Codec.MaxDecodedChunkBytes}-byte decode ceiling")
    (dims, java.util.Arrays.copyOfRange(binary, 16, binary.length))
  }

  /** Write chunk rows (gx, gy, gz, vox clamped-F-order) as the blocks of
    * dataset `ds`, through the one chunk sink ([[ChunkLayout.write]]). */
  def writeBlocks(chunks: DataFrame, dir: String, m: N5Meta,
      ds: String = "s0"): Unit =
    ChunkLayout.write(ChunkLayout.rawRows(chunks, Nil, 0, m.dtypeBytes),
      layout(dir, ds, m, fillMissing = false))

  /** The scan layout of dataset `ds` (meta `m`) of the container at
    * `dir`: clamped blocks keyed `<ds>/x/y/z`, each a big-endian header,
    * the body under the dataset's compression, and big-endian values. A
    * header's dims may not exceed the block size; a block whose dims
    * differ from its clamped grid cell is cropped, or padded with 0, to
    * it. A missing block is an ERROR, mirroring the reference's
    * EmptyVolumeException (n5/image.py:44-52) and the precomputed
    * fill_missing option, or reads as 0 under `fillMissing`.
    */
  private[sources] def layout(dir: String, ds: String, m: N5Meta,
      fillMissing: Boolean): ChunkLayout = {
    import ChunkLayout.{Keys, Missing, Shards, Step}
    ChunkLayout(dir, s"n5 $ds", dir, Bbox(Vec3(0, 0, 0), m.dimensions),
      m.blockSize, clamp = true, Keys.Grid(Seq(ds), "/", zyx = false),
      Shards.Unsharded, if (fillMissing) Missing.Fill else Missing.Raise,
      Seq(Step.N5Header, Step.Decompress(m.compression), Step.SwapBytes),
      "raw", m.dtypeBytes)
  }

  /** S18 n5 cutout: the dataset's chunk scan, block decode and clip in
    * the one decode stage.
    *
    * @param fillMissing absent block keys read as background (0) when
    *        true; by default a missing block is an ERROR
    */
  def cutoutVoxels(spark: SparkSession, dir: String, bbox: Bbox,
      fillMissing: Boolean = false, ds: String = "s0"): DataFrame =
    ChunkLayout.cutout(spark, layout(dir, ds, readMeta(dir, ds), fillMissing), bbox)

  /** Cutout one level of a multiScale pyramid: requires the root
    * `"multiScale": true` attribute and the `s<mip>` dataset to
    * exist — a missing level must not silently read as background.
    */
  def cutoutVoxelsMip(spark: SparkSession, dir: String, bbox: Bbox,
      mip: Int, fillMissing: Boolean = false): DataFrame = {
    val root = om.readTree(Files.readString(
      Paths.get(dir, "attributes.json")))
    require(Option(root.get("multiScale")).exists(_.asBoolean),
      s"$dir is not a multiScale pyramid (no root multiScale attribute)")
    require(Files.exists(Paths.get(dir, s"s$mip", "attributes.json")),
      s"$dir has no scale level s$mip")
    cutoutVoxels(spark, dir, bbox, fillMissing, ds = s"s$mip")
  }
}
