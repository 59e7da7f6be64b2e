package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Codec, Vec3}
import graft.sources.{ChunkLayout, Zarr3IO}
import graft.sources.Zarr3IO.Zarr3Meta

/** zarr v3 sharding_indexed container: shard synthesis + index
  * round-trip, all-fill inner-chunk elision (Missing/Missing slots),
  * and crc32c index corruption detection. Spark-free — exercises the
  * pure codec layer the sharded cutout path is built on.
  */
class Zarr3ShardSpec extends AnyFunSuite {

  private val m = Zarr3Meta(
    shape = Vec3(16, 16, 8), chunkShape = Vec3(16, 16, 8),
    dataType = "uint32", fillValue = 0L, compressor = "gzip",
    innerChunkShape = Some(Vec3(8, 8, 4)))
  // inner grid 2x2x2 = 8 slots

  /** C-order chunk bytes <-> F-order voxels, as the sink and scan do */
  private def toF(b: Array[Byte], cs: Vec3, dtb: Int): Array[Long] =
    Codec.decodeRawToLongs(ChunkLayout.transpose(b, cs, dtb, cToF = true), dtb)
  private def fromF(v: Array[Long], cs: Vec3, dtb: Int): Array[Byte] =
    ChunkLayout.transpose(Codec.encodeRawFromLongs(v, dtb), cs, dtb, cToF = false)

  private def mkVox(): Array[Long] = {
    val vox = new Array[Long]((16 * 16 * 8).toInt)
    // leave inner chunk (cx=1, cy=0, cz=0) = x in [8,16), y in [0,8),
    // z in [0,4) ALL ZERO (fill) so its slot must be Missing
    for (z <- 0 until 8; y <- 0 until 16; x <- 0 until 16)
      if (!(x >= 8 && y < 8 && z < 4))
        vox(x + 16 * (y + 16 * z)) = (x + 31L * y + 57L * z) % 251
    vox
  }

  test("shard round-trips through index + range slicing") {
    val vox = mkVox()
    val shard = Zarr3IO.synthesizeShard(vox, m)
    val dir = Files.createTempDirectory("z3shard")
    val f = dir.resolve("0")
    Files.write(f, shard)
    val idx = Zarr3IO.readShardIndex(f, m)
    assert(idx.length == 8)
    // the all-fill inner chunk is elided
    val missing = idx.count { case (o, n) => o == -1L && n == -1L }
    assert(missing == 1, s"expected exactly 1 Missing slot, got $missing")
    // decode every present inner chunk via the index and compare voxels
    val inner = m.innerChunkShape.get
    val ig = m.innerGrid
    for (cx <- 0L until ig.x; cy <- 0L until ig.y; cz <- 0L until ig.z) {
      val slot = ((cx * ig.y + cy) * ig.z + cz).toInt
      val (off, len) = idx(slot)
      if (off != -1L) {
        val bytes = java.util.Arrays.copyOfRange(shard, off.toInt,
          (off + len).toInt)
        val sub = toF(
          graft.core.Codec.gunzip(bytes), inner, m.dtypeBytes)
        for (z <- 0L until inner.z; y <- 0L until inner.y;
            x <- 0L until inner.x) {
          val gx = cx * inner.x + x; val gy = cy * inner.y + y
          val gz = cz * inner.z + z
          assert(sub((x + inner.x * (y + inner.y * z)).toInt) ==
            vox((gx + 16 * (gy + 16 * gz)).toInt),
            s"voxel ($gx,$gy,$gz)")
        }
      }
    }
  }

  test("corrupted index crc32c is detected") {
    val shard = Zarr3IO.synthesizeShard(mkVox(), m)
    shard(shard.length - 20) = (shard(shard.length - 20) ^ 0x1).toByte
    val dir = Files.createTempDirectory("z3shardbad")
    val f = dir.resolve("0")
    Files.write(f, shard)
    // decoder-boundary contract (r17): IllegalArgumentException
    val e = intercept[IllegalArgumentException](Zarr3IO.readShardIndex(f, m))
    assert(e.getMessage.contains("crc32c"))
  }

  test("meta round-trips the sharding_indexed codec") {
    val dir = Files.createTempDirectory("z3meta").toString
    Zarr3IO.writeMeta(dir, m)
    val back = Zarr3IO.readMeta(dir)
    assert(back == m)
    val json = Files.readString(Paths.get(dir, "zarr.json"))
    assert(json.contains("sharding_indexed") && json.contains("crc32c"))
  }

  test("zstd inner codec chain round-trips through a shard") {
    val mz = m.copy(compressor = "zstd")
    val vox = mkVox()
    val shard = Zarr3IO.synthesizeShard(vox, mz)
    val dir = Files.createTempDirectory("z3zstd")
    val f = dir.resolve("0")
    Files.write(f, shard)
    val idx = Zarr3IO.readShardIndex(f, mz)
    val inner = mz.innerChunkShape.get
    val (off, len) = idx(0) // inner chunk (0,0,0) is present
    assert(off != -1L)
    val sub = toF(
      graft.core.Codec.unzstd(
        java.util.Arrays.copyOfRange(shard, off.toInt, (off + len).toInt)),
      inner, mz.dtypeBytes)
    assert(sub((1 + inner.x * (2 + inner.y * 3)).toInt) ==
      vox(1 + 16 * (2 + 16 * 3)))
    // meta round trip carries the compressor
    val mdir = Files.createTempDirectory("z3zstdmeta").toString
    Zarr3IO.writeMeta(mdir, mz)
    assert(Zarr3IO.readMeta(mdir) == mz)
  }

  test("time-axis meta round-trips a 4-D (t,x,y,z) array") {
    val mt = Zarr3Meta(
      shape = Vec3(16, 16, 8), chunkShape = Vec3(16, 16, 8),
      dataType = "uint32", fillValue = 0L, compressor = "gzip",
      timeFrames = Some(5L), timeChunk = 2L)
    val dir = Files.createTempDirectory("z3tmeta").toString
    Zarr3IO.writeMeta(dir, mt)
    assert(Zarr3IO.readMeta(dir) == mt)
    val json = Files.readString(Paths.get(dir, "zarr.json"))
    assert(json.contains("\"t\""))
  }

  test("frame slice of a multi-frame chunk decodes the right frame") {
    // chunk bytes = timeChunk consecutive C-order xyz frames: encode
    // two distinct frames, slice frame 1's byte range, decode, compare
    val cs = Vec3(6, 5, 4)
    val n = (cs.x * cs.y * cs.z).toInt
    val f0 = Array.tabulate(n)(i => (i * 7L + 3) % 199)
    val f1 = Array.tabulate(n)(i => (i * 13L + 11) % 211)
    val dtb = 4
    val bytes = fromF(f0, cs, dtb) ++
      fromF(f1, cs, dtb)
    val frameBytes = n * dtb
    val back = toF(
      java.util.Arrays.copyOfRange(bytes, frameBytes, 2 * frameBytes),
      cs, dtb)
    assert(back.sameElements(f1))
  }

  test("3-D cutout path rejects a time-axis array") {
    val mt = Zarr3Meta(
      shape = Vec3(8, 8, 8), chunkShape = Vec3(8, 8, 8),
      dataType = "uint32", fillValue = 0L, compressor = "none",
      timeFrames = Some(2L), timeChunk = 1L)
    val dir = Files.createTempDirectory("z3treject").toString
    Zarr3IO.writeMeta(dir, mt)
    val e = intercept[IllegalArgumentException](
      Zarr3IO.cutoutVoxels(null, dir, graft.core.Bbox(Vec3(0, 0, 0),
        Vec3(8, 8, 8))))
    assert(e.getMessage.contains("lead t/c axis"))
  }

  test("5-D (t,c,x,y,z) meta round-trips; lead axes reject sharding") {
    val m5 = Zarr3Meta(
      shape = Vec3(16, 12, 8), chunkShape = Vec3(8, 6, 4),
      dataType = "uint16", fillValue = 3L, compressor = "gzip",
      timeFrames = Some(4L), timeChunk = 2L,
      channels = Some(3L), channelChunk = 1L)
    val dir = Files.createTempDirectory("z3tc").toString
    Zarr3IO.writeMeta(dir, m5)
    assert(Zarr3IO.readMeta(dir) == m5)
    // 4-D channel-only (c,x,y,z) round-trips too
    val mc = m5.copy(timeFrames = None, timeChunk = 1L)
    val dirC = Files.createTempDirectory("z3c").toString
    Zarr3IO.writeMeta(dirC, mc)
    assert(Zarr3IO.readMeta(dirC) == mc)
    // a lead axis combined with sharding_indexed fails at construction
    intercept[IllegalArgumentException](m5.copy(
      innerChunkShape = Some(Vec3(4, 3, 2))))
  }

  test("OME zyx spatial order round-trips; meta stays canonical xyz") {
    val ome = Zarr3Meta(
      shape = Vec3(16, 12, 8), chunkShape = Vec3(8, 6, 4),
      dataType = "uint32", fillValue = 0L, compressor = "gzip",
      timeFrames = Some(2L), timeChunk = 1L,
      channels = Some(3L), channelChunk = 1L, spatialOrder = "zyx")
    val dir = Files.createTempDirectory("z3ome").toString
    Zarr3IO.writeMeta(dir, ome)
    // the on-disk shape/chunk_shape/dimension_names are reversed...
    val json = Files.readString(Paths.get(dir, "zarr.json"))
    assert(json.replaceAll("\\s", "").contains("\"shape\":[2,3,8,12,16]"))
    assert(json.contains("\"z\""))
    // ...but the parsed meta is canonical (x, y, z)
    assert(Zarr3IO.readMeta(dir) == ome)
    // zyx + sharding_indexed fails at construction
    intercept[IllegalArgumentException](ome.copy(
      timeFrames = None, channels = None,
      innerChunkShape = Some(Vec3(4, 3, 2))))
  }

  test("unknown codec chains are rejected, not silently ignored") {
    val dir = Files.createTempDirectory("z3badcodec").toString
    Zarr3IO.writeMeta(dir, Zarr3Meta(
      shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
      dataType = "uint32", fillValue = 0L, compressor = "none"))
    val p = Paths.get(dir, "zarr.json")
    Files.writeString(p, Files.readString(p).replace(
      """"name" : "bytes"""", """"name" : "bytes_v2""""))
    val e = intercept[IllegalArgumentException](Zarr3IO.readMeta(dir))
    assert(e.getMessage.contains("codec chain"))
  }
}
