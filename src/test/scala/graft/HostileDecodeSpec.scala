package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.sources.{N5IO, Zarr2IO}

/** Hostile-input contract for the four decode paths the r16 round
  * left uncovered (cseg, skeleton binary, the zarr2 compressor chain,
  * n5 blocks) plus the shared second-stage codecs they ride on.
  * Mirrors DracoSpec's treatment: mutation + truncation fuzz over
  * real encoded payloads, decode-bomb ceilings, and the invariant
  * that EVERY failure surfaces as IllegalArgumentException — never a
  * raw bounds error, a NegativeArraySizeException, a wrapped-library
  * IOException, or a multi-GB allocation. Reference risk:
  * chunks.py:362-484 codec-level ops trust header counts the same
  * way these paths do.
  */
class HostileDecodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val rnd = new scala.util.Random(20260817)

  /** One fuzz round: bit-flip or byte-set, then maybe truncate. */
  private def mutate(base: Array[Byte]): Array[Byte] = {
    val m = base.clone()
    if (m.nonEmpty) rnd.nextInt(3) match {
      case 0 =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      case 1 => m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      case _ => ()
    }
    // truncation floor is 0: zero-length inputs must also hit the
    // declared-error contract (the zstd frame probe used to escape it)
    if (m.nonEmpty && rnd.nextBoolean())
      java.util.Arrays.copyOf(m, rnd.nextInt(m.length + 1))
    else m
  }

  /** Run `decode` over `rounds` mutations of `base`; any failure must
    * be IllegalArgumentException (NumberFormatException included) —
    * anything else (raw index errors, NegativeArraySize, OOM-path
    * allocations, library IOExceptions) fails the test loudly.
    */
  private def fuzz(base: Array[Byte], rounds: Int)(decode: Array[Byte] => Any)
      : Unit = {
    for (r <- 1 to rounds) {
      val input = mutate(base)
      try { decode(input); () }
      catch {
        case _: IllegalArgumentException => () // the declared error type
        case e: Throwable =>
          fail(s"round $r: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  // ---- cseg -------------------------------------------------------

  private val csegVol = Vec3(13, 9, 6)
  private val csegBlock = Vec3(8, 8, 8)
  private def csegVox: Array[Long] = {
    val r = new scala.util.Random(5)
    Array.fill((csegVol.x * csegVol.y * csegVol.z).toInt)(
      r.nextInt(40).toLong * 0x100000007L)
  }

  test("cseg: mutation/truncation fuzz over decode/labels/contains/readVoxel") {
    for (dtb <- Seq(4, 8)) {
      val vox = if (dtb == 4) csegVox.map(_ & 0xffffffffL) else csegVox
      val enc = Cseg.encode(vox, csegVol, csegBlock, dtb)
      // sanity: the clean stream still round-trips
      assert(Cseg.decode(enc, csegVol, csegBlock, dtb).toSeq == vox.toSeq)
      fuzz(enc, 300)(b => Cseg.decode(b, csegVol, csegBlock, dtb))
      fuzz(enc, 150)(b => Cseg.labels(b, csegVol, csegBlock, dtb))
      fuzz(enc, 150)(b => Cseg.contains(b, csegVol, csegBlock, dtb, vox(0)))
      fuzz(enc, 150)(b => Cseg.readVoxel(b, csegVol, csegBlock, dtb, 5, 3, 2))
      fuzz(enc, 150)(b => Cseg.remap(b, csegVol, csegBlock, dtb,
        Map.empty[Long, Long], preserveMissing = true))
    }
  }

  test("cseg: corrupt header offsets and widths fail as the declared type") {
    val enc = Cseg.encode(csegVox, csegVol, csegBlock, 8)
    // channel offset pointing far outside the stream
    val far = enc.clone()
    ByteBuffer.wrap(far).order(ByteOrder.LITTLE_ENDIAN).putInt(0, 1 << 28)
    intercept[IllegalArgumentException](
      Cseg.decode(far, csegVol, csegBlock, 8))
    // encoded-bits not in {0,1,2,4,8,16,32}
    val badBits = enc.clone()
    val bb = ByteBuffer.wrap(badBits).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, (bb.getInt(4) & 0xffffff) | (3 << 24))
    intercept[IllegalArgumentException](
      Cseg.decode(badBits, csegVol, csegBlock, 8))
    // empty / sub-header streams
    intercept[IllegalArgumentException](
      Cseg.decode(Array.emptyByteArray, csegVol, csegBlock, 8))
    intercept[IllegalArgumentException](
      Cseg.labels(Array[Byte](1, 2), csegVol, csegBlock, 8))
  }

  // ---- skeleton binary --------------------------------------------

  private def testSkeleton: SkeletonCodec.Skeleton = SkeletonCodec.Skeleton(
    vertices = Array.tabulate(30)(i => i.toFloat * 1.5f),
    edges = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9),
    radii = Array.tabulate(10)(i => 0.5f + i),
    vertexTypes = Array.tabulate(10)(i => (i % 5).toByte))

  test("skeleton: mutation/truncation fuzz over decode (+ downstream ops)") {
    val enc = SkeletonCodec.encode(testSkeleton)
    assert(SkeletonCodec.decode(enc).nv == 10)
    fuzz(enc, 500) { b =>
      val s = SkeletonCodec.decode(b)
      // a survivor must be safe for every downstream traversal
      SkeletonCodec.paths(s)
      SkeletonCodec.components(s)
      SkeletonCodec.downsample(s, 2)
    }
  }

  test("skeleton: decode bombs and inconsistent counts are rejected") {
    // header claiming 2^30 vertices over an 8-byte payload
    val bomb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(1 << 30).putInt(0).array()
    intercept[IllegalArgumentException](SkeletonCodec.decode(bomb))
    // negative counts
    val neg = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(-5).putInt(2).array()
    intercept[IllegalArgumentException](SkeletonCodec.decode(neg))
    // a crafted nv whose 32-bit expected-length arithmetic wraps
    // exactly onto the real payload length (17*nv + 8 ≡ 64 mod 2^32):
    // int math would have accepted it and died in Array.fill; the
    // Long-math + sign rails reject it as the declared type
    val wrap = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(0xb4b4b4b8).putInt(0).array()
    intercept[IllegalArgumentException](SkeletonCodec.decode(wrap))
    // edge endpoint outside [0, nv)
    val s = testSkeleton
    val bad = SkeletonCodec.encode(s)
    // edges start at 8 + 12*nv; set first endpoint to nv+7
    ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(8 + 12 * s.nv, s.nv + 7)
    intercept[IllegalArgumentException](SkeletonCodec.decode(bad))
  }

  // ---- second-stage codecs (zarr2 compressor chain) ---------------

  private def payload(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + (i >> 5)) & 0xff).toByte)

  test("second-stage codecs: fuzz every zarr2/n5 compressor id") {
    val data = payload(40000)
    val encoded: Seq[(String, Array[Byte], Array[Byte] => Array[Byte])] = Seq(
      ("gzip", Codec.gzip(data), Codec.gunzip(_)),
      ("zlib", Codec.zlibCompress(data), Codec.zlibDecompress(_)),
      ("zstd", Codec.zstd(data), Codec.unzstd(_)),
      ("lz4", Codec.lz4Block(data), Codec.unlz4Block(_)),
      ("bzip2", Codec.bzip2(data), Codec.unbzip2(_)),
      ("xz", Codec.xz(data), Codec.unxz(_)),
      ("blosc", Blosc.compress(data, 4), Blosc.decompress(_)))
    for ((name, enc, dec) <- encoded) {
      assert(dec(enc).toSeq == data.toSeq, s"$name clean round-trip")
      fuzz(enc, 200)(dec(_))
    }
  }

  test("second-stage codecs: declared-size decode bombs hit the ceiling") {
    // gzip: forge the ISIZE trailer of a real member to claim 200 MiB+
    val gz = Codec.gzip(payload(1000))
    val n = gz.length
    ByteBuffer.wrap(gz).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(n - 4, Int.MaxValue - 16)
    intercept[IllegalArgumentException](Codec.gunzip(gz, maxOutput = 1 << 20))
    // zstd: frame header content size beyond the ceiling
    val zs = Codec.zstd(payload(1000))
    intercept[IllegalArgumentException](Codec.unzstd(zs, maxOutput = 100))
    // blosc: header nbytes beyond the ceiling
    val bl = Blosc.compress(payload(1000), 4)
    intercept[IllegalArgumentException](Blosc.decompress(bl, maxOutput = 100))
    // blosc: negative nbytes must not reach the allocation
    val blNeg = bl.clone()
    ByteBuffer.wrap(blNeg).order(ByteOrder.LITTLE_ENDIAN).putInt(4, -7)
    intercept[IllegalArgumentException](Blosc.decompress(blNeg))
    // streaming formats without a declared size (bzip2/xz/lz4/zlib):
    // genuinely large output must stop AT the ceiling, incrementally
    val big = new Array[Byte](1 << 22) // 4 MiB of zeros, tiny compressed
    intercept[IllegalArgumentException](
      Codec.unbzip2(Codec.bzip2(big), maxOutput = 1 << 16))
    intercept[IllegalArgumentException](
      Codec.unxz(Codec.xz(big), maxOutput = 1 << 16))
    intercept[IllegalArgumentException](
      Codec.unlz4Block(Codec.lz4Block(big), maxOutput = 1 << 16))
    intercept[IllegalArgumentException](
      Codec.zlibDecompress(Codec.zlibCompress(big), maxOutput = 1 << 16))
    intercept[IllegalArgumentException](
      Codec.gunzip(Codec.gzip(big), maxOutput = 1 << 16))
  }

  // ---- n5 blocks ---------------------------------------------------

  test("n5: mutation/truncation fuzz over decodeBlock, raw and gzip") {
    val dims = Vec3(7, 5, 3)
    val vox = Array.tabulate((dims.x * dims.y * dims.z).toInt)(
      i => (i * 97L) & 0xffffL)
    for (comp <- Seq("raw", "gzip", "lz4", "blosc")) {
      val enc = N5IO.encodeBlock(vox, dims, 2, comp)
      val (d2, v2) = N5IO.decodeBlock(enc, 2, comp)
      assert(d2 == dims && v2.toSeq == vox.toSeq, s"$comp clean round-trip")
      fuzz(enc, 250)(b => N5IO.decodeBlock(b, 2, comp))
    }
  }

  test("n5: bomb-sized and negative header dims are rejected pre-allocation") {
    val dims = Vec3(4, 4, 4)
    val vox = new Array[Long](64)
    val enc = N5IO.encodeBlock(vox, dims, 8, "gzip")
    val bomb = enc.clone()
    // dims live at offsets 4, 8, 12 (big-endian)
    ByteBuffer.wrap(bomb).order(ByteOrder.BIG_ENDIAN)
      .putInt(4, 1 << 24).putInt(8, 1 << 24).putInt(12, 1 << 24)
    intercept[IllegalArgumentException](N5IO.decodeBlock(bomb, 8, "gzip"))
    val neg = enc.clone()
    ByteBuffer.wrap(neg).order(ByteOrder.BIG_ENDIAN).putInt(4, -3)
    intercept[IllegalArgumentException](N5IO.decodeBlock(neg, 8, "gzip"))
    intercept[IllegalArgumentException](
      N5IO.decodeBlock(Array[Byte](0, 0), 8, "gzip"))
  }

  // ---- zarr3 sharded container --------------------------------------

  test("zarr3 shard: corrupt, truncated, and CRC-valid-but-crafted " +
      "indexes all fail as the declared type") {
    import graft.sources.Zarr3IO
    val m = Zarr3IO.Zarr3Meta(
      shape = Vec3(8, 8, 8), chunkShape = Vec3(8, 8, 8),
      dataType = "uint32", fillValue = 0L, compressor = "gzip",
      innerChunkShape = Some(Vec3(4, 4, 4)))
    val vox = Array.tabulate(512)(i => (i * 7L) & 0xffffL)
    val shard = Zarr3IO.synthesizeShard(vox, m)
    val dir = Files.createTempDirectory("graft_hostile_z3")
    def idxOf(bytes: Array[Byte]): java.nio.file.Path = {
      val p = dir.resolve(s"s${bytes.hashCode & 0x7fffffff}")
      Files.write(p, bytes); p
    }
    // clean parse works
    val idx = Zarr3IO.readShardIndex(idxOf(shard), m)
    assert(idx.length == 8)
    // bit flips in the trailing index region: crc32c catches them
    val rnd2 = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val mm = shard.clone()
      val i = mm.length - 1 - rnd2.nextInt(16 * 8 + 4)
      mm(i) = (mm(i) ^ (1 << rnd2.nextInt(8))).toByte
      intercept[IllegalArgumentException](Zarr3IO.readShardIndex(idxOf(mm), m))
    }
    // truncation below the index length
    intercept[IllegalArgumentException](
      Zarr3IO.readShardIndex(idxOf(shard.take(16)), m))
    // a CRAFTED index with a VALID crc but a bomb-sized range: crc is
    // an integrity check, not an authenticity check — the range rail
    // in readRange must fire (exercised through the cutout read)
    val crafted = shard.clone()
    val n = 8
    val idxOff = crafted.length - (16 * n + 4)
    val bb = ByteBuffer.wrap(crafted, idxOff, 16 * n + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(idxOff, 0L) // offset 0
    bb.putLong(idxOff + 8, 1L << 40) // 1 TiB claimed length
    val c = new java.util.zip.CRC32C()
    c.update(crafted, idxOff, 16 * n)
    bb.putInt(idxOff + 16 * n, c.getValue.toInt)
    // readShardIndex itself parses fine (crc is valid)...
    val idx2 = Zarr3IO.readShardIndex(idxOf(crafted), m)
    assert(idx2(0)._2 == (1L << 40))
    // ...so the allocation rail must reject the range on read: write a
    // minimal sharded layer around the crafted object and cut it out
    val layerDir = dir.resolve("layer").toString
    Zarr3IO.writeMeta(layerDir, m)
    val cdir = Paths.get(layerDir, "c", "0", "0")
    Files.createDirectories(cdir)
    Files.write(cdir.resolve("0"), crafted)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val e = intercept[Exception] {
        Zarr3IO.cutoutVoxelsAt(spark, layerDir,
          Bbox(Vec3(0, 0, 0), Vec3(8, 8, 8))).count()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
        s"expected IllegalArgumentException in the cause chain, got $e")
    } finally spark.stop()
  }

  // ---- zarr2 chunk chain (through the Spark read path) -------------

  test("zarr2: a corrupt chunk object fails the cutout loudly, not as garbage") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dir = Files.createTempDirectory("graft_hostile_zarr2").toString
      val m = Zarr2IO.Zarr2Meta(
        shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
        dtype = "<u4", fillValue = 0L, compressor = "zstd")
      Zarr2IO.writeMeta(dir, m)
      // chunk whose decompressed payload is the WRONG voxel count
      Files.write(Paths.get(dir, "0.0.0"),
        Codec.zstd(new Array[Byte](4 * 7))) // 7 voxels, not 64
      val e = intercept[Exception] {
        Zarr2IO.cutoutVoxels(spark, dir,
          Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4))).count()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
        s"expected IllegalArgumentException in the cause chain, got $e")
      // and a truncated compressed stream also surfaces as the contract
      Files.write(Paths.get(dir, "0.0.0"),
        Codec.zstd(new Array[Byte](4 * 64)).take(5))
      val e2 = intercept[Exception] {
        Zarr2IO.cutoutVoxels(spark, dir,
          Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4))).count()
      }
      assert(causes(e2).exists(_.isInstanceOf[IllegalArgumentException]),
        s"expected IllegalArgumentException in the cause chain, got $e2")
    } finally spark.stop()
  }

  // ---- overflow/empty-input rails (r18 advisor regressions) ---------

  test("zstd: zero-length input fails as the declared type, not AIOOBE") {
    // zstd-jni's getFrameContentSize throws a raw
    // ArrayIndexOutOfBoundsException on empty input; the decode
    // boundary must convert it (or pre-reject) as IllegalArgumentException
    intercept[IllegalArgumentException](Codec.unzstd(Array.emptyByteArray))
    // and every second-stage codec honors the empty-input contract too
    for ((name, dec) <- Seq[(String, Array[Byte] => Array[Byte])](
        ("gzip", Codec.gunzip(_)), ("zlib", Codec.zlibDecompress(_)),
        ("lz4", Codec.unlz4Block(_)), ("bzip2", Codec.unbzip2(_)),
        ("xz", Codec.unxz(_)), ("blosc", Blosc.decompress(_)))) {
      try { dec(Array.emptyByteArray); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"$name(empty): ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("graphene segid: hostile spatial-bit count cannot overflow the mask") {
    import graft.functions.BboxOps
    // 3*ct overflows Long for ct near 2^62; sb could wrap positive and
    // (1L << sb) would silently use only the low 6 shift bits
    for (ct <- Seq(Long.MaxValue / 3 + 1, (1L << 62) + 5L, -1L, 22L))
      intercept[IllegalArgumentException](
        BboxOps.grapheneSegid(12345L, 8L, ct))
    // the legitimate boundary still works: layerBits=1, ct=20 -> sb=3
    assert(BboxOps.grapheneSegid(0xffL, 1L, 20L) == 7L)
  }

  test("n5: dims exactly 2^20 per axis cannot wrap the decode ceiling") {
    // 2^20 per axis at dtb=8 makes nvox*dtb exactly 2^63 ->
    // Long.MinValue on the old multiply form, which PASSED the ceiling
    val dims = 1 << 20
    val hdr = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
    hdr.putShort(0.toShort).putShort(3.toShort)
      .putInt(dims).putInt(dims).putInt(dims)
    intercept[IllegalArgumentException](
      N5IO.decodeBlock(hdr.array(), 8, "raw"))
  }

  test("n5: a legitimate 2^20-long axis decodes when the volume fits " +
      "the ceiling") {
    // the bomb rail must reject VOLUMES, not axis lengths: (2^20,1,1)
    // at dtb=1 is 1 MiB — legal. Guards against over-tightening the
    // per-axis bound (r18 briefly shipped a strict < 2^20).
    val nx = 1 << 20
    val hdr = ByteBuffer.allocate(16 + nx).order(ByteOrder.BIG_ENDIAN)
    hdr.putShort(0.toShort).putShort(3.toShort)
      .putInt(nx).putInt(1).putInt(1)
    val (dims, vox) = N5IO.decodeBlock(hdr.array(), 1, "raw")
    assert(dims.x == nx && vox.length == nx && vox.forall(_ == 0L))
  }

  test("zarr3 shard: index offset near 2^63 cannot wrap the range rail") {
    import graft.sources.Zarr3IO
    val m = Zarr3IO.Zarr3Meta(
      shape = Vec3(8, 8, 8), chunkShape = Vec3(8, 8, 8),
      dataType = "uint32", fillValue = 0L, compressor = "gzip",
      innerChunkShape = Some(Vec3(4, 4, 4)))
    val vox = Array.tabulate(512)(i => (i * 7L) & 0xffffL)
    val shard = Zarr3IO.synthesizeShard(vox, m)
    // craft the FIRST index entry to (off near 2^63, small len): the
    // old `off + len <= sz` wrapped negative and passed; re-crc so the
    // integrity rail cannot mask the range rail
    val n = 8
    val idxOff = shard.length - (16 * n + 4)
    val bb = ByteBuffer.wrap(shard, idxOff, 16 * n + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(idxOff, Long.MaxValue - 7L)
    bb.putLong(idxOff + 8, 64L)
    val crc = new java.util.zip.CRC32C
    crc.update(shard, idxOff, 16 * n)
    ByteBuffer.wrap(shard, idxOff + 16 * n, 4)
      .order(ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt)
    // the crc is valid, so the failure must come from the (now
    // overflow-safe) range rail inside readRange, as the declared type
    val dir = Files.createTempDirectory("graft_hostile_z3_ovf")
    val layerDir = dir.resolve("layer").toString
    Zarr3IO.writeMeta(layerDir, m)
    val cdir = Paths.get(layerDir, "c", "0", "0")
    Files.createDirectories(cdir)
    Files.write(cdir.resolve("0"), shard)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val e = intercept[Exception] {
        Zarr3IO.cutoutVoxelsAt(spark, layerDir,
          Bbox(Vec3(0, 0, 0), Vec3(8, 8, 8))).count()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
        s"expected IllegalArgumentException in the cause chain, got $e")
    } finally spark.stop()
  }

  // ---- the shared decode-and-clip boundary (ClipCursor) -------------

  private def withSpark(body: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(spark) finally spark.stop()
  }

  private def failsTyped(run: => Any): Unit = {
    val e = intercept[Exception](run)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
      s"expected IllegalArgumentException in the cause chain, got $e")
  }

  /** decodeToVoxels over one chunk row at [0, size) of a 1-scale layer. */
  private def decodeOne(spark: SparkSession, enc: String, size: Vec3,
      payload: Array[Byte]): Long = {
    import graft.sources.PrecomputedIO
    import spark.implicits._
    val scale = ScaleMeta(key = "1_1_1", encoding = enc,
      resolution = Seq(1, 1, 1), chunkSize = size, size = size,
      voxelOffset = Vec3(0, 0, 0))
    val chunks = Seq((0L, 0L, 0L, size.x, size.y, size.z, payload))
      .toDF("x0", "y0", "z0", "x1", "y1", "z1", "payload")
    PrecomputedIO.decodeToVoxels(chunks, Bbox(Vec3(0, 0, 0), size), scale, 4)
      .count()
  }

  test("decodeToVoxels: a payload whose dims permute the chunk's fails " +
      "instead of scrambling voxels") {
    val vox = Array.tabulate(32)(i => (i % 5).toLong + 1)
    withSpark { spark =>
      // both payloads hold 32 voxels for a 4x8x1 chunk, shaped 8x4x1
      failsTyped(decodeOne(spark, "compresso", Vec3(4, 8, 1),
        Compresso.encode(vox, Vec3(8, 4, 1))))
      failsTyped(decodeOne(spark, "npz", Vec3(4, 8, 1),
        Codec.encodeNpz(vox, Vec3(8, 4, 1), 4)))
      // the matching shape still decodes
      assert(decodeOne(spark, "compresso", Vec3(8, 4, 1),
        Compresso.encode(vox, Vec3(8, 4, 1))) == 32)
    }
  }

  test("decodeToVoxels: a short raw chunk fails typed, not as an " +
      "index error") {
    withSpark { spark =>
      failsTyped(decodeOne(spark, "raw", Vec3(4, 4, 4), new Array[Byte](4 * 60)))
    }
  }

  test("n5: a block header larger than blockSize cannot emit voxels " +
      "into the neighbouring block") {
    val dir = Files.createTempDirectory("graft_hostile_n5_dims").toString
    val m = N5IO.N5Meta(dimensions = Vec3(8, 4, 4), blockSize = Vec3(4, 4, 4),
      dataType = "uint32", compression = "raw")
    N5IO.writeMeta(dir, m)
    def put(gx: Int, dims: Vec3): Unit = {
      val p = Paths.get(dir, "s0", gx.toString, "0")
      Files.createDirectories(p)
      Files.write(p.resolve("0"), N5IO.encodeBlock(
        Array.fill((dims.x * dims.y * dims.z).toInt)(gx + 1L), dims, 4, "raw"))
    }
    put(0, Vec3(8, 4, 4)) // claims the whole volume: 2x the block size
    put(1, Vec3(4, 4, 4))
    withSpark { spark =>
      failsTyped(N5IO.cutoutVoxels(spark, dir,
        Bbox(Vec3(0, 0, 0), Vec3(8, 4, 4))).collect())
    }
  }
}
