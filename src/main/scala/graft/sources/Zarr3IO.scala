package graft.sources

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Zarr v3 array I/O (S18) — the essential subset the reference's
  * zarr3 datasource reads (datasource/zarr3/metadata.py:66-261,
  * zarr3/image.py:49-139):
  *
  * - `zarr.json` with shape, data_type, regular chunk_grid,
  *   default chunk_key_encoding ("c/<i>/<j>/<k>"), fill_value, and a
  *   codec chain of `bytes` (little-endian) + optional `gzip`.
  * - Chunk objects are FULL-size (edge chunks padded with fill_value,
  *   unlike precomputed's clamped chunks) and laid out in C order —
  *   shape's last dimension fastest. The engine's canonical voxel
  *   order is Fortran (x fastest), so the bytes codec transposes at
  *   the boundary, exactly where the reference applies its transpose
  *   codec (zarr3/image.py:79-103).
  *
  * The zarr time axis / 5-D model (§2.9) shares this layout with `t`
  * appended to the chunk key; the 3-D subset here is the read-path
  * core.
  */
object Zarr3IO {

  /** @param chunkShape the chunk_grid shape — for a sharded array this
    *                    is the OUTER shard shape (voxels per shard
    *                    object)
    * @param innerChunkShape Some(inner) when the top-level codec is
    *                    `sharding_indexed` (zarr v3 sharding spec):
    *                    each shard object packs outer/inner sub-chunks
    *                    plus a trailing (offset, nbytes) index
    * @param timeFrames Some(T) for an array with a lead time axis —
    *                    the reference's 5-D time-axis model with t as
    *                    a cutout parameter (zarr3/image.py:141-149,
    *                    zarr3/metadata.py:211-261); t is the SLOWEST
    *                    C-order dimension
    * @param timeChunk  frames per chunk object along t
    * @param channels   Some(C) for an array with a lead channel axis
    *                    (the reference's num_channels / OME "c" axis,
    *                    zarr3/metadata.py:123-124,211-261); c sits
    *                    between t and xyz, so a chunk object is
    *                    timeChunk x channelChunk consecutive C-order
    *                    xyz frames, t-major
    * @param channelChunk channels per chunk object along c
    * @param spatialOrder "xyz" (this engine's canonical dimension
    *                    order) or "zyx" (OME-NGFF convention,
    *                    dimension_names [t,][c,]z,y,x): zyx stores the
    *                    spatial triple reversed in shape/chunk_shape/
    *                    chunk keys, and its C-order chunk bytes are
    *                    x-fastest — exactly this engine's F order, so
    *                    the codec transpose becomes the identity.
    *                    Zarr3Meta.shape/chunkShape are ALWAYS
    *                    canonical (x, y, z) regardless.
    */
  final case class Zarr3Meta(
      shape: Vec3, // logical (x, y, z)
      chunkShape: Vec3,
      dataType: String,
      fillValue: Long,
      compressor: String, // "none" | "gzip" | "zstd" (zarr-python's v3 default)
      innerChunkShape: Option[Vec3] = None,
      timeFrames: Option[Long] = None,
      timeChunk: Long = 1,
      channels: Option[Long] = None,
      channelChunk: Long = 1,
      spatialOrder: String = "xyz") {
    require(Set("none", "gzip", "zstd", "blosc").contains(compressor),
      s"unsupported zarr3 compressor $compressor")
    require(Set("xyz", "zyx").contains(spatialOrder),
      s"unsupported spatial order $spatialOrder")
    // the sharding_indexed inner grid here is 3-D xyz; a lead t/c axis
    // (or reversed spatial order) would need a different inner-chunk
    // model — fail at construction so writeMeta can never emit
    // metadata readMeta would reject
    require((timeFrames.isEmpty && channels.isEmpty &&
      spatialOrder == "xyz") || innerChunkShape.isEmpty,
      "sharding_indexed with a lead t/c axis or zyx order unsupported")
    def zyx: Boolean = spatialOrder == "zyx"
    def dtypeBytes: Int = dataType match {
      case "uint8" => 1
      case "uint16" => 2
      case "uint32" => 4
      case "uint64" => 8
      case d => throw new IllegalArgumentException(s"zarr data_type $d")
    }
    def gridSize: Vec3 = shape.ceilDiv(chunkShape)
    /** inner chunks per shard, per axis (sharded arrays only) */
    def innerGrid: Vec3 = {
      val inner = innerChunkShape.get
      require(chunkShape.x % inner.x == 0 && chunkShape.y % inner.y == 0 &&
        chunkShape.z % inner.z == 0,
        s"shard shape $chunkShape not a multiple of inner $inner")
      Vec3(chunkShape.x / inner.x, chunkShape.y / inner.y,
        chunkShape.z / inner.z)
    }
  }

  private val om = new ObjectMapper()

  /** Append the compressor codec object to a codec array node. */
  private def addCompressorCodec(
      codecs: com.fasterxml.jackson.databind.node.ArrayNode,
      compressor: String, typesize: Int): Unit = compressor match {
    case "gzip" =>
      val gz = codecs.addObject()
      gz.put("name", "gzip")
      gz.putObject("configuration").put("level", 5)
    case "zstd" =>
      val z = codecs.addObject()
      z.put("name", "zstd")
      val conf = z.putObject("configuration")
      conf.put("level", 3); conf.put("checksum", false)
    case "blosc" =>
      // zarr v3 blosc codec config: shuffle is a string enum
      val bl = codecs.addObject()
      bl.put("name", "blosc")
      val conf = bl.putObject("configuration")
      conf.put("cname", "lz4"); conf.put("clevel", 5)
      // v3 blosc spec: typesize is REQUIRED when shuffle != "noshuffle"
      conf.put("shuffle", "shuffle"); conf.put("typesize", typesize)
      conf.put("blocksize", 0)
    case _ => ()
  }

  def writeMeta(dir: String, m: Zarr3Meta): Unit = {
    val root = om.createObjectNode()
    root.put("zarr_format", 3)
    root.put("node_type", "array")
    def spatial(v: Vec3): Seq[Long] =
      if (m.zyx) Seq(v.z, v.y, v.x) else Seq(v.x, v.y, v.z)
    val sh = root.putArray("shape")
    m.timeFrames.foreach(sh.add)
    m.channels.foreach(sh.add)
    spatial(m.shape).foreach(sh.add)
    root.put("data_type", m.dataType)
    val grid = root.putObject("chunk_grid")
    grid.put("name", "regular")
    val gc = grid.putObject("configuration").putArray("chunk_shape")
    if (m.timeFrames.isDefined) gc.add(m.timeChunk)
    if (m.channels.isDefined) gc.add(m.channelChunk)
    spatial(m.chunkShape).foreach(gc.add)
    val cke = root.putObject("chunk_key_encoding")
    cke.put("name", "default")
    cke.putObject("configuration").put("separator", "/")
    root.put("fill_value", m.fillValue)
    val codecs = root.putArray("codecs")
    m.innerChunkShape match {
      case Some(inner) =>
        // zarr v3 sharding spec: sharding_indexed wraps the inner
        // codec chain; the (offset, nbytes) index is bytes-le +
        // crc32c, stored at the end of each shard object
        val sh3 = codecs.addObject()
        sh3.put("name", "sharding_indexed")
        val conf = sh3.putObject("configuration")
        val ics = conf.putArray("chunk_shape")
        ics.add(inner.x); ics.add(inner.y); ics.add(inner.z)
        val innerCodecs = conf.putArray("codecs")
        val ib = innerCodecs.addObject()
        ib.put("name", "bytes")
        ib.putObject("configuration").put("endian", "little")
        addCompressorCodec(innerCodecs, m.compressor, m.dtypeBytes)
        val idxCodecs = conf.putArray("index_codecs")
        val idxB = idxCodecs.addObject()
        idxB.put("name", "bytes")
        idxB.putObject("configuration").put("endian", "little")
        idxCodecs.addObject().put("name", "crc32c")
        conf.put("index_location", "end")
      case None =>
        val bytesCodec = codecs.addObject()
        bytesCodec.put("name", "bytes")
        bytesCodec.putObject("configuration").put("endian", "little")
        addCompressorCodec(codecs, m.compressor, m.dtypeBytes)
    }
    val names = root.putArray("dimension_names")
    if (m.timeFrames.isDefined) names.add("t")
    if (m.channels.isDefined) names.add("c")
    (if (m.zyx) Seq("z", "y", "x") else Seq("x", "y", "z"))
      .foreach(names.add)
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "zarr.json"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(root))
  }

  def readMeta(dir: String): Zarr3Meta =
    parseMeta(om.readTree(Files.readString(Paths.get(dir, "zarr.json"))))

  /** Parse one array `zarr.json` node — shared by the file-based read
    * and the consolidated-metadata path.
    */
  private def parseMeta(
      root: com.fasterxml.jackson.databind.JsonNode): Zarr3Meta = {
    require(root.get("zarr_format").asInt == 3, "not a zarr v3 array")
    require(root.get("node_type").asText == "array")
    val sh = root.get("shape")
    val grid = root.get("chunk_grid")
    require(grid.get("name").asText == "regular")
    val cs = grid.get("configuration").get("chunk_shape")
    // key resolution is hardcoded to the default "c/<i>/<j>/<k>"
    // scheme below — any other chunk_key_encoding (the "v2" scheme,
    // a "." separator) would make every lookup miss and silently
    // return an all-fill cutout (absent key = fill_value is the zarr
    // semantic), so reject loudly at meta parse (the reference
    // supports default and v2, zarr3/metadata.py:281-294)
    Option(root.get("chunk_key_encoding")).foreach { cke =>
      val name = cke.get("name").asText
      val sep = Option(cke.get("configuration"))
        .flatMap(c => Option(c.get("separator"))).map(_.asText)
        .getOrElse("/")
      require(name == "default" && sep == "/",
        s"unsupported chunk_key_encoding $name with separator '$sep'")
    }
    val codecs0 = root.get("codecs")
    // unwrap sharding_indexed: the inner codec chain decodes the
    // sub-chunks; the index_codecs must be bytes-le (+ crc32c)
    val isSharded =
      codecs0.get(0).get("name").asText == "sharding_indexed"
    val (codecs, innerShape) = if (isSharded) {
      val conf = codecs0.get(0).get("configuration")
      val ics = conf.get("chunk_shape")
      val idx = conf.get("index_codecs")
      val idxNames = (0 until idx.size).map(idx.get(_).get("name").asText)
      require(idxNames.headOption.contains("bytes") &&
        idxNames.drop(1).forall(_ == "crc32c"),
        s"unsupported index_codecs $idxNames")
      val loc = Option(conf.get("index_location")).map(_.asText)
        .getOrElse("end")
      require(loc == "end", s"unsupported index_location '$loc'")
      (conf.get("codecs"),
        Some(Vec3(ics.get(0).asLong, ics.get(1).asLong, ics.get(2).asLong)))
    } else (codecs0, None)
    val codecNames = (0 until codecs.size).map(codecs.get(_).get("name").asText)
    require(codecNames.headOption.contains("bytes"),
      s"unsupported codec chain $codecNames")
    // every codec after `bytes` must be a known second-stage compressor
    // — an unknown codec silently ignored would decode garbage
    require(codecNames.drop(1).forall(Set("gzip", "zstd", "blosc")) &&
      codecNames.drop(1).size <= 1,
      s"unsupported codec chain $codecNames")
    // blosc bit-shuffle has no offline JVM impl — reject at meta parse
    // (byte-shuffle/noshuffle decode from the frame header itself)
    if (codecNames.drop(1).headOption.contains("blosc")) {
      val shuf = Option(codecs.get(1).get("configuration"))
        .flatMap(c => Option(c.get("shuffle"))).map(_.asText)
      require(!shuf.contains("bitshuffle"),
        "zarr3 blosc bitshuffle unsupported (native-only)")
    }
    // the engine decodes little-endian only; a big-endian array would
    // otherwise be silently misread, so reject it here
    val endian = Option(codecs.get(0).get("configuration"))
      .flatMap(c => Option(c.get("endian"))).map(_.asText).getOrElse("little")
    require(endian == "little", s"unsupported bytes endian '$endian'")
    // lead axes: 4-D (t|c + spatial) and 5-D (t, c + spatial) arrays
    // per dimension_names — the reference's time_index()/channel scan
    // over OME axes (zarr3/metadata.py:123-124,211-261); t (outermost)
    // and c sit before the spatial triple, i.e. they are the slowest
    // C-order dimensions. The spatial triple may be this engine's
    // canonical x,y,z or the OME-NGFF reversed z,y,x (in which case
    // shape/chunk_shape/keys are reversed and the C-order bytes are
    // x-fastest = this engine's F order).
    val nLead = sh.size - 3
    require(nLead >= 0 && nLead <= 2, s"unsupported ${sh.size}-D array")
    val dn = Option(root.get("dimension_names"))
      .map(n => (0 until n.size).map(n.get(_).asText)).getOrElse(Seq.empty)
    val (lead: Seq[String], zyx: Boolean) =
      if (nLead == 0 && dn.isEmpty) (Seq.empty, false)
      else {
        require(dn.size == sh.size &&
          Set(Seq("x", "y", "z"), Seq("z", "y", "x"))
            .contains(dn.drop(nLead)) &&
          Set(Seq.empty, Seq("t"), Seq("c"), Seq("t", "c"))
            .contains(dn.take(nLead)),
          s"unsupported dimension_names $dn (expected [t,][c,] + xyz|zyx)")
        val rev = dn.drop(nLead) == Seq("z", "y", "x")
        require((!rev && nLead == 0) || !isSharded,
          "sharding_indexed with a lead t/c axis or zyx order unsupported")
        (dn.take(nLead), rev)
      }
    val o = nLead
    def spatialVec(n: com.fasterxml.jackson.databind.JsonNode): Vec3 =
      if (zyx) Vec3(n.get(o + 2).asLong, n.get(o + 1).asLong, n.get(o).asLong)
      else Vec3(n.get(o).asLong, n.get(o + 1).asLong, n.get(o + 2).asLong)
    val tPos = lead.indexOf("t")
    val cPos = lead.indexOf("c")
    Zarr3Meta(
      shape = spatialVec(sh),
      chunkShape = spatialVec(cs),
      dataType = root.get("data_type").asText,
      fillValue = Option(root.get("fill_value")).map(_.asLong).getOrElse(0L),
      compressor = codecNames.drop(1).lastOption.getOrElse("none"),
      innerChunkShape = innerShape,
      timeFrames = if (tPos >= 0) Some(sh.get(tPos).asLong) else None,
      timeChunk = if (tPos >= 0) cs.get(tPos).asLong else 1L,
      channels = if (cPos >= 0) Some(sh.get(cPos).asLong) else None,
      channelChunk = if (cPos >= 0) cs.get(cPos).asLong else 1L,
      spatialOrder = if (zyx) "zyx" else "xyz")
  }

  // ---- sharding_indexed (zarr v3 sharding spec) ----

  private[sources] val MissingSlot = -1L // 0xFFFFFFFFFFFFFFFF: absent inner chunk

  /** Index slot of inner-grid coords (C order: z fastest). */
  private[sources] def innerSlot(c: Vec3, ig: Vec3): Int =
    ((c.x * ig.y + c.y) * ig.z + c.z).toInt

  private def crc32c(b: Array[Byte], len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, 0, len)
    c.getValue.toInt
  }

  /** One shard object of `n` inner-chunk slots from the stored inner
    * chunks (slot, bytes): the chunks back to back in slot order, then
    * the (offset, nbytes) uint64-le index in C order of the inner grid,
    * then the index's crc32c (le). An absent slot is Missing/Missing —
    * the sharding spec's representation of an absent sub-chunk.
    */
  private[sources] def shardObject(n: Int, parts: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val idxBytes = new Array[Byte](16 * n + 4)
    val bb = java.nio.ByteBuffer.wrap(idxBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach { i => bb.putLong(16 * i, MissingSlot); bb.putLong(16 * i + 8, MissingSlot) }
    val out = new java.io.ByteArrayOutputStream()
    parts.sortBy(_._1).foreach { case (slot, b) =>
      bb.putLong(16 * slot, out.size.toLong); bb.putLong(16 * slot + 8, b.length.toLong)
      out.write(b)
    }
    bb.putInt(16 * n, crc32c(idxBytes, 16 * n))
    out.write(idxBytes)
    out.toByteArray
  }

  /** The inner chunks of the F-order OUTER-shard block `vox` at shard
    * grid point `sg`, as sink chunks (little-endian F-order payloads). */
  private def innerChunks(vox: Array[Long], sg: Vec3, m: Zarr3Meta)
      : Seq[ChunkLayout.Chunk] = {
    val inner = m.innerChunkShape.get
    val ig = m.innerGrid
    val cs = m.chunkShape
    require(vox.length == cs.x * cs.y * cs.z,
      s"shard block has ${vox.length} voxels, expected $cs")
    for (cx <- 0L until ig.x; cy <- 0L until ig.y; cz <- 0L until ig.z) yield {
      val sub = new Array[Long]((inner.x * inner.y * inner.z).toInt)
      for (z <- 0L until inner.z; y <- 0L until inner.y)
        System.arraycopy(vox, (cx * inner.x + cs.x * ((cy * inner.y + y) +
          cs.y * (cz * inner.z + z))).toInt, sub, (inner.x * (y + inner.y * z)).toInt,
          inner.x.toInt)
      ChunkLayout.Chunk(Nil, sg * ig + Vec3(cx, cy, cz),
        Codec.encodeRawFromLongs(sub, m.dtypeBytes))
    }
  }

  /** An inner chunk whose voxels are ALL fill_value: the sink stores it
    * as a Missing slot. */
  private def fillChunk(m: Zarr3Meta): Array[Byte] = {
    val inner = m.innerChunkShape.get
    Codec.encodeRawFromLongs(Array.fill((inner.x * inner.y * inner.z).toInt)(m.fillValue),
      m.dtypeBytes)
  }

  /** One shard object of the F-order OUTER-shard block `outerVox`, as
    * [[writeShards]] writes it ([[ChunkLayout.objectOf]]); all-fill
    * inner chunks are Missing slots. */
  def synthesizeShard(outerVox: Array[Long], m: Zarr3Meta): Array[Byte] =
    layout("", m).objectOf(innerChunks(outerVox, Vec3(0, 0, 0), m),
      elide = Some(fillChunk(m))).get._2

  /** Parse a shard's trailing index; verifies the crc32c. */
  def readShardIndex(file: java.nio.file.Path, m: Zarr3Meta): Array[(Long, Long)] = {
    val ig = m.innerGrid
    val raf = new java.io.RandomAccessFile(file.toFile, "r")
    try shardIndex(raf, (ig.x * ig.y * ig.z).toInt) finally raf.close()
  }

  /** The (offset, nbytes) index of `n` inner chunks at the end of an
    * open shard object, crc32c-checked. */
  private[sources] def shardIndex(raf: java.io.RandomAccessFile,
      n: Int): Array[(Long, Long)] = {
    val raw = ShardedIO.rangedRead(raf, raf.length - (16 * n + 4), 16 * n + 4,
      "zarr3 shard index")
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val want = bb.getInt(16 * n)
    val got = crc32c(raw, 16 * n)
    if (want != got)
      throw new IllegalArgumentException( // the decoder-boundary contract
        s"shard index crc32c mismatch: stored $want computed $got")
    Array.tabulate(n)(i => (bb.getLong(i * 16), bb.getLong(i * 16 + 8)))
  }

  /** Write shard rows (sx, sy, sz, vox: F-order full OUTER-shard Long
    * array) as shard objects `c/<sx>/<sy>/<sz>`: each row's shard is
    * [[synthesizeShard]]'s object ([[ChunkLayout.objectOf]], all-fill
    * inner chunks as Missing slots), put by the row's task through the
    * one [[ChunkLayout.put]].
    */
  def writeShards(shards: DataFrame, dir: String, m: Zarr3Meta): Unit = {
    val lay = layout(dir, m)
    val fill = Some(fillChunk(m))
    Files.createDirectories(Paths.get(lay.root))
    shards.foreachPartition { it: Iterator[Row] =>
      it.foreach(r => lay.objectOf(innerChunks(r.getSeq[Long](3).toArray,
        Vec3(r.getLong(0), r.getLong(1), r.getLong(2)), m), elide = fill)
        .foreach { case (p, b) => ChunkLayout.put(p, b) })
    }
  }

  /** Write chunk rows (gx, gy, gz, vox: F-order full-chunk Long array)
    * as zarr chunk objects `c/<gx>/<gy>/<gz>` (a forwarder to the one
    * chunk sink, [[ChunkLayout.write]]).
    */
  def writeChunks(chunks: DataFrame, dir: String, m: Zarr3Meta): Unit =
    writeLead(chunks, dir, m, lead = 0)

  /** Chunk-granular read of a plain spatial array: one row per
    * EXISTING chunk object, voxels decoded to the canonical F-order
    * block — the dual of [[writeChunks]] and the transcode source
    * shape (absent keys are skipped; they stay absent in a transcode
    * target too). The array's chunk scan, one decode per chunk, never
    * a voxel-row explosion.
    */
  def readChunksF(spark: SparkSession, dir: String): DataFrame = {
    val m = readMeta(dir)
    require(m.timeFrames.isEmpty && m.channels.isEmpty &&
      m.innerChunkShape.isEmpty,
      s"$dir: plain spatial array expected for chunk-granular read")
    val dtb = m.dtypeBytes
    val vox = udf((p: Array[Byte]) => Codec.decodeRawToLongs(p, dtb))
    ChunkLayout.scan(spark, layout(dir, m)).where(col("payload").isNotNull)
      .select(col("gx"), col("gy"), col("gz"), vox(col("payload")).as("vox"))
  }

  /** Write 4-D chunk rows (tc, gx, gy, gz, vox) where `vox` is
    * `timeChunk` consecutive F-order full-chunk frames back to back.
    * Each frame is transposed to C order independently — with t the
    * slowest C-order dimension of shape (t, x, y, z), the chunk bytes
    * are exactly the frames' C-order blocks concatenated. Objects are
    * keyed `c/<tc>/<gx>/<gy>/<gz>` (default chunk_key_encoding with
    * the t grid index prepended, mirroring the reference's _chunknames
    * t parameter; zarr3/image.py:166-181).
    */
  def writeChunksT(chunks: DataFrame, dir: String, m: Zarr3Meta): Unit = {
    require(m.timeFrames.isDefined, "writeChunksT requires a time axis")
    // this writer emits plain x-fastest frames under c/<tc>/<gx|gy|gz>
    // keys — a channel axis or zyx spatial order would need
    // writeChunksTC's frame/key handling; writing their metadata here
    // would produce files readMeta-compatible readers misplace
    require(m.channels.isEmpty && !m.zyx,
      "writeChunksT supports 4-D (t + xyz) only; use writeChunksTC")
    writeLead(chunks, dir, m, lead = 1)
  }

  /** Write 5-D chunk rows (tc, cc, gx, gy, gz, vox) where `vox` is
    * timeChunk x channelChunk consecutive F-order full-chunk frames,
    * t-major — the C order of shape (t, c, x, y, z). Objects are keyed
    * `c/<tc>/<cc>/<gx>/<gy>/<gz>`.
    */
  def writeChunksTC(chunks: DataFrame, dir: String, m: Zarr3Meta): Unit = {
    require(m.timeFrames.isDefined && m.channels.isDefined,
      "writeChunksTC requires both t and c axes")
    writeLead(chunks, dir, m, lead = 2)
  }

  /** Write rows of `lead` lead-axis grid indices, then (gx, gy, gz, vox)
    * through the one chunk sink: objects `c/<lead>/<spatial key>` (the
    * default chunk_key_encoding follows dimension_names, so a zyx array
    * keys `.../<gz>/<gy>/<gx>`). `vox` holds the object's timeChunk x
    * channelChunk F-order full-chunk frames, t-major — the C order of
    * (t, c, x, y, z) — and each frame is transposed on its own.
    */
  private def writeLead(chunks: DataFrame, dir: String, m: Zarr3Meta,
      lead: Int): Unit =
    ChunkLayout.write(ChunkLayout.rawRows(chunks, 0 until lead, lead, m.dtypeBytes),
      layout(dir, m))

  /** The scan layout of the array at `dir` (meta `m`) at one (t, c)
    * point of its lead axes: full-size chunks in C order, an absent key
    * — or, sharded, an absent shard or a Missing index slot — reading
    * as fill_value (zarr semantics; the reference raises
    * EmptyVolumeException unless fill_missing, zarr3/image.py:49-139).
    * Unsharded, the chunk is unpacked whole (compression is
    * chunk-scoped) and only frame (t, c)'s bytes are transposed; a zyx
    * array's C-order frame is already F order. Sharded, the scan's
    * chunks are the inner chunks, each shard's read as one index read
    * and one ranged read per inner chunk the request needs.
    * Arrays without a t (resp. c) axis require t=0 (resp. c=0).
    */
  private[sources] def layout(dir: String, m: Zarr3Meta, t: Long = 0L,
      c: Long = 0L): ChunkLayout = {
    import ChunkLayout.{Keys, Shards, Step}
    m.timeFrames match {
      case Some(tf) => require(t >= 0 && t < tf, s"t=$t out of range [0, $tf)")
      case None => require(t == 0, s"$dir has no time axis (t=$t)")
    }
    m.channels match {
      case Some(nc) => require(c >= 0 && c < nc, s"c=$c out of range [0, $nc)")
      case None => require(c == 0, s"$dir has no channel axis (c=$c)")
    }
    val bounds = Bbox(Vec3(0, 0, 0), m.shape)
    val unpack = Step.Decompress(m.compressor)
    m.innerChunkShape match {
      case Some(inner) => ChunkLayout(dir, "zarr3 sharding_indexed", dir, bounds,
        inner, clamp = false, Keys.Grid(Seq("c"), "/", zyx = false),
        Shards.Indexed(m.innerGrid), ChunkLayout.Missing.Fill,
        Seq(unpack, Step.CToF), "raw", m.dtypeBytes, m.fillValue)
      case None =>
        val lead = m.timeFrames.map(_ => t / m.timeChunk).toSeq ++
          m.channels.map(_ => c / m.channelChunk).toSeq
        val slot = (t % m.timeChunk) * m.channelChunk + (c % m.channelChunk)
        ChunkLayout(dir, "zarr3", dir, bounds, m.chunkShape, clamp = false,
          Keys.Grid("c" +: lead.map(_.toString), "/", m.zyx), Shards.Unsharded,
          ChunkLayout.Missing.Fill,
          Seq(unpack, Step.Frame(slot, m.timeChunk * m.channelChunk)) ++
            (if (m.zyx) Nil else Seq(Step.CToF)),
          "raw", m.dtypeBytes, m.fillValue)
    }
  }

  /** Cutout one xyz bbox at a single (t, c) point of the lead axes
    * (the reference's download(..., t=...) parameter and channel
    * slicing; zarr3/image.py:141-149, zarr3/metadata.py:211-261).
    */
  def cutoutVoxelsAt(spark: SparkSession, dir: String, bbox: Bbox,
      t: Long = 0L, c: Long = 0L): DataFrame =
    ChunkLayout.cutout(spark, layout(dir, readMeta(dir), t, c), bbox)

  /** S18 time-axis cutout: one xyz bbox at a single timepoint `t`. */
  def cutoutVoxelsT(spark: SparkSession, dir: String, bbox: Bbox,
      t: Long): DataFrame = {
    require(readMeta(dir).timeFrames.isDefined, s"$dir has no time axis")
    cutoutVoxelsAt(spark, dir, bbox, t = t)
  }

  /** S18 cutout of a 3-D array, sharded or not. */
  def cutoutVoxels(spark: SparkSession, dir: String, bbox: Bbox): DataFrame = {
    val m = readMeta(dir)
    require(m.timeFrames.isEmpty && m.channels.isEmpty,
      s"$dir has a lead t/c axis — use cutoutVoxelsAt(bbox, t, c)")
    ChunkLayout.cutout(spark, layout(dir, m), bbox)
  }

  // ---- OME-NGFF 0.5 multiscale GROUP (zarr v3 group node) ----

  /** Write an OME-NGFF 0.5 multiscale GROUP: the root `zarr.json` is
    * a zarr v3 group node carrying the OME metadata under the `ome`
    * attributes key (NGFF 0.5 moved it there from zarr v2's
    * `.zattrs`), with one `multiscales` entry whose `datasets[i].path
    * = "<i>"` names an ordinary v3 array level written with
    * [[writeMeta]] — so each mip reads through the existing cutout
    * paths unchanged. Axes follow the arrays' dimension_names
    * ([t,][c,] then the spatial triple in the mips' declared order);
    * dataset i carries a `scale` coordinate transformation of 2^i per
    * spatial axis (1.0 for t/c). The reference's zarr2 frontend has
    * the same group/non-group split (zarr2/metadata.py:180-223); v3
    * groups are its natural successor surface.
    */
  def writeMetaGroup(dir: String, mips: Seq[Zarr3Meta]): Unit = {
    require(mips.nonEmpty, "a multiscale group needs at least one level")
    val m0 = mips.head
    require(mips.forall(m => m.timeFrames.isDefined == m0.timeFrames.isDefined
      && m.channels.isDefined == m0.channels.isDefined
      && m.spatialOrder == m0.spatialOrder),
      "group mips must share the axis list")
    val root = om.createObjectNode()
    root.put("zarr_format", 3)
    root.put("node_type", "group")
    val ome = root.putObject("attributes").putObject("ome")
    ome.put("version", "0.5")
    val ms = ome.putArray("multiscales").addObject()
    val axes = ms.putArray("axes")
    def axis(n: String, t: String, unit: Option[String]): Unit = {
      val a = axes.addObject()
      a.put("name", n); a.put("type", t)
      unit.foreach(u => a.put("unit", u))
      ()
    }
    if (m0.timeFrames.isDefined) axis("t", "time", Some("second"))
    if (m0.channels.isDefined) axis("c", "channel", None)
    (if (m0.zyx) Seq("z", "y", "x") else Seq("x", "y", "z"))
      .foreach(axis(_, "space", Some("nanometer")))
    val ds = ms.putArray("datasets")
    mips.indices.foreach { i =>
      val d = ds.addObject()
      d.put("path", i.toString)
      val ct = d.putArray("coordinateTransformations").addObject()
      ct.put("type", "scale")
      val sc = ct.putArray("scale")
      if (m0.timeFrames.isDefined) sc.add(1.0)
      if (m0.channels.isDefined) sc.add(1.0)
      (0 until 3).foreach(_ => sc.add((1L << i).toDouble))
    }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "zarr.json"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(root))
    mips.zipWithIndex.foreach { case (m, i) => writeMeta(s"$dir/$i", m) }
  }

  /** Multiscale dataset paths of an OME-NGFF 0.5 group root, in
    * declaration order. Fails loudly on anything that is not a v3
    * group with `ome.multiscales` attributes — a bare group has no
    * well-defined array to read, and silently treating it as one
    * would return an all-fill cutout.
    */
  def readGroupDatasets(dir: String): Seq[String] =
    groupDatasetPathsOf(
      om.readTree(Files.readString(Paths.get(dir, "zarr.json"))), dir)

  private def groupDatasetPathsOf(
      root: com.fasterxml.jackson.databind.JsonNode,
      what: String): Seq[String] = {
    require(root.get("zarr_format").asInt == 3, s"$what is not a zarr v3 node")
    require(root.get("node_type").asText == "group",
      s"$what is node_type ${root.get("node_type").asText}, expected group")
    val ome = Option(root.get("attributes"))
      .flatMap(a => Option(a.get("ome"))).orNull
    require(ome != null && ome.get("multiscales") != null,
      s"$what group has no ome.multiscales attributes")
    val v = Option(ome.get("version")).map(_.asText).getOrElse("(absent)")
    require(v == "0.5", s"unsupported OME-NGFF version $v (need 0.5)")
    val ds = ome.get("multiscales").get(0).get("datasets")
    (0 until ds.size).map(i => ds.get(i).get("path").asText)
  }

  /** Consolidate the group's member array metadata into the root
    * `zarr.json` — zarr-python 3's consolidated-metadata block:
    * `"consolidated_metadata": {"kind": "inline", "must_understand":
    * false, "metadata": {"<path>": <member zarr.json>, ...}}` — so a
    * high-latency store resolves every level's metadata in the one
    * root read it already does.
    */
  def writeConsolidatedGroup(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val rootP = Paths.get(dir, "zarr.json")
    val root = om.readTree(Files.readString(rootP))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    require(root.get("node_type").asText == "group",
      s"$dir is not a group — only groups carry consolidated metadata")
    val cm = root.putObject("consolidated_metadata")
    cm.put("kind", "inline")
    cm.put("must_understand", false)
    val md = cm.putObject("metadata")
    val base = Paths.get(dir)
    Files.walk(base).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString == "zarr.json" && p != rootP)
      .map(p => base.relativize(p.getParent).toString.replace('\\', '/'))
      .toSeq.sorted
      .foreach { rel =>
        md.set[com.fasterxml.jackson.databind.node.ObjectNode](rel,
          om.readTree(Files.readString(base.resolve(rel).resolve("zarr.json"))))
      }
    Files.writeString(rootP,
      om.writerWithDefaultPrettyPrinter.writeValueAsString(root))
  }

  /** Dataset paths + per-path array metas of an OME-NGFF 0.5 group,
    * resolved from the root object's consolidated_metadata block ONLY
    * — member `zarr.json` objects are never opened.
    */
  def readConsolidatedGroup(dir: String)
      : (Seq[String], String => Zarr3Meta) = {
    val root = om.readTree(Files.readString(Paths.get(dir, "zarr.json")))
    val paths = groupDatasetPathsOf(root, dir)
    val cm = root.get("consolidated_metadata")
    require(cm != null, s"$dir group has no consolidated_metadata")
    val kind = Option(cm.get("kind")).map(_.asText).getOrElse("(absent)")
    require(kind == "inline", s"unsupported consolidated kind $kind")
    val md = cm.get("metadata")
    require(md != null, s"$dir consolidated_metadata has no metadata map")
    (paths, p => {
      val node = md.get(p)
      require(node != null, s"$dir consolidated_metadata has no entry '$p'")
      parseMeta(node)
    })
  }

  /** Cutout one mip level of an OME-NGFF 0.5 multiscale group at a
    * single (t, c) point: resolves `datasets[mip].path`, then reads
    * the level as an ordinary v3 array. With `consolidated = true`
    * the level's meta comes from the root's consolidated_metadata
    * block and the member `zarr.json` is never opened.
    */
  def cutoutVoxelsGroupAt(spark: SparkSession, dir: String, bbox: Bbox,
      mip: Int, t: Long = 0L, c: Long = 0L,
      consolidated: Boolean = false): DataFrame =
    ChunkLayout.cutout(spark, groupLayout(dir, mip, t, c, consolidated), bbox)

  /** The layout of group level `mip` at (t, c); with `consolidated` its
    * meta comes from the root's consolidated_metadata block. */
  private def groupLayout(dir: String, mip: Int, t: Long, c: Long,
      consolidated: Boolean): ChunkLayout = {
    val (paths, metaOf) =
      if (consolidated) readConsolidatedGroup(dir)
      else (readGroupDatasets(dir), (p: String) => readMeta(s"$dir/$p"))
    require(mip >= 0 && mip < paths.size,
      s"mip $mip out of range [0, ${paths.size})")
    val p = paths(mip)
    layout(s"$dir/$p", metaOf(p), t, c)
  }
}
