package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.sources.{N5IO, PrecomputedIO, ShardedIO, Zarr2IO, Zarr3IO}

/** One seeded volume stored in every grid format a cutout reads:
  * precomputed raw (unsharded, and sharded in [[precomputedSharded]]),
  * N5, zarr2 (C and F order), OME-zarr2, zarr3 and sharded zarr3
  * (shards of 2x2x2 blocks). The volume starts at the
  * origin and its extent is a multiple of no block axis, so every axis
  * ends in an edge block.
  *
  * The blocks at the grid points in `absent` hold `fill` everywhere and
  * are left unwritten wherever the format reads an absent object as a
  * fill: zarr keys (fill_value), sharded zarr3 inner chunks (Missing
  * slots, or no shard object when every block of a shard is absent)
  * and precomputed chunks (read with `fillMissing` and `background =
  * fill`; a sharded precomputed chunk absent from its shard gives no
  * row). N5 reads absent blocks as 0, so it stores every block until
  * [[dropAbsentN5Blocks]] deletes them.
  */
final class GridFixtures(spark: SparkSession, root: String, val dims: Vec3,
    val block: Vec3, val dtb: Int, val fill: Long, val absent: Set[Vec3],
    value: Vec3 => Long) {
  import GridFixtures._

  val bounds: Bbox = Bbox(Vec3(0, 0, 0), dims)
  val shard: Vec3 = block * 2L

  private def blockOf(p: Vec3): Vec3 =
    Vec3(p.x / block.x, p.y / block.y, p.z / block.z)

  /** The stored value at `p`; `fill` outside the volume, the padding
    * zarr stores in its edge chunks. */
  def voxel(p: Vec3): Long =
    if (!bounds.contains(p) || absent(blockOf(p))) fill else value(p)

  /** F-order block at `lo` of shape `size`. */
  def vox(lo: Vec3, size: Vec3): Seq[Long] =
    for (z <- 0L until size.z; y <- 0L until size.y; x <- 0L until size.x)
      yield voxel(lo + Vec3(x, y, z))

  /** Every (x, y, z, value) inside `box`, a voxel of an absent block
    * reading `absentAs`. */
  def expect(box: Bbox, absentAs: Long = fill): Set[(Long, Long, Long, Long)] = {
    val c = box.intersection(bounds)
    (for (z <- c.minpt.z until c.maxpt.z; y <- c.minpt.y until c.maxpt.y;
        x <- c.minpt.x until c.maxpt.x) yield {
      val p = Vec3(x, y, z)
      (x, y, z, if (absent(blockOf(p))) absentAs else voxel(p))
    }).toSet
  }

  private def grid(cs: Vec3): Seq[Vec3] = Geom.gridpoints(bounds, bounds, cs)
  private def stored: Seq[Vec3] = grid(block).filterNot(absent)

  private def df(rows: Seq[(Long, Long, Long, Seq[Long])], names: String*) = {
    val s = spark
    import s.implicits._
    rows.toDF(names: _*)
  }

  /** Full-size rows (gx, gy, gz, vox) of the stored blocks. */
  private def blockRows: DataFrame = df(stored.map { g =>
    (g.x, g.y, g.z, vox(g * block, block))
  }, "gx", "gy", "gz", "vox")

  val precomputed: String = s"$root/precomputed"
  val precomputedSharded: String = s"$root/precomputed_sharded"
  val n5: String = s"$root/n5"
  val zarr2C: String = s"$root/zarr2_C"
  val zarr2F: String = s"$root/zarr2_F"
  val ome: String = s"$root/ome"
  val zarr3: String = s"$root/zarr3"
  val zarr3Sharded: String = s"$root/zarr3_sharded"

  locally {
    val s = spark
    import s.implicits._
    val clamped = (g: Vec3) => Geom.chunkBbox(g, bounds, block).size
    val pm = VolumeMeta(layerType = "segmentation", dataType = UintTypes(dtb),
      numChannels = 1, scales = Seq(ScaleMeta(key = "1_1_1",
        encoding = "raw", resolution = Seq(1, 1, 1), chunkSize = block,
        size = dims, voxelOffset = Vec3(0, 0, 0))))
    val chunks = stored.map { g =>
      (g.x, g.y, g.z, Codec.encodeRawFromLongs(vox(g * block, clamped(g)).toArray, dtb))
    }.toDF("gx", "gy", "gz", "payload")
    PrecomputedIO.writeInfo(precomputed, pm)
    PrecomputedIO.writeChunks(chunks, precomputed, pm, 0)
    val sm = pm.copy(scales = Seq(pm.scale(0).copy(sharding = Some(ShardingSpec(
      preshiftBits = 0, minishardBits = 1, shardBits = 2,
      minishardIndexEncoding = "gzip", dataEncoding = "gzip")))))
    PrecomputedIO.writeInfo(precomputedSharded, sm)
    ShardedIO.writeSharded(chunks, precomputedSharded, sm, 0)

    val nm = N5IO.N5Meta(dims, block, UintTypes(dtb), "gzip")
    N5IO.writeMeta(n5, nm)
    N5IO.writeBlocks(df(grid(block).map { g =>
      (g.x, g.y, g.z, vox(g * block, clamped(g)))
    }, "gx", "gy", "gz", "vox"), n5, nm)

    for ((dir, order) <- Seq(zarr2C -> "C", zarr2F -> "F")) {
      val m = Zarr2IO.Zarr2Meta(shape = dims, chunkShape = block,
        dtype = s"<u$dtb", fillValue = fill, compressor = "zlib", order = order)
      Zarr2IO.writeMeta(dir, m)
      Zarr2IO.writeChunks(blockRows, dir, m)
    }

    val o = Zarr2IO.Zarr2Ome(Zarr2IO.Zarr2Meta(shape = dims, chunkShape = block,
      dtype = s"<u$dtb", fillValue = fill, compressor = "zlib"), None, None)
    Zarr2IO.writeMetaOme(ome, o)
    Zarr2IO.writeChunksOme(stored.map { g =>
      (0L, 0L, g.x, g.y, g.z, vox(g * block, block))
    }.toDF("tc", "cc", "gx", "gy", "gz", "vox"), ome, o)

    val m3 = Zarr3IO.Zarr3Meta(shape = dims, chunkShape = block,
      dataType = UintTypes(dtb), fillValue = fill, compressor = "gzip")
    Zarr3IO.writeMeta(zarr3, m3)
    Zarr3IO.writeChunks(blockRows, zarr3, m3)

    val m3s = m3.copy(chunkShape = shard, innerChunkShape = Some(block))
    Zarr3IO.writeMeta(zarr3Sharded, m3s)
    Zarr3IO.writeShards(df(grid(shard).filterNot { sg =>
      Geom.gridpoints(Bbox(sg * shard, sg * shard + shard), bounds, block)
        .forall(absent)
    }.map(sg => (sg.x, sg.y, sg.z, vox(sg * shard, shard))),
      "sx", "sy", "sz", "vox"), zarr3Sharded, m3s)
  }

  /** Every format's directory, by its [[cutouts]] name. */
  val dirs: Map[String, String] = Map("precomputed" -> precomputed, "n5" -> n5,
    "zarr2 C" -> zarr2C, "zarr2 F" -> zarr2F, "ome-zarr2" -> ome,
    "zarr3" -> zarr3, "zarr3 sharded" -> zarr3Sharded)

  /** Every format's cutout, by name; precomputed reads absent chunks as
    * `fill`. */
  def cutouts: Seq[(String, Bbox => DataFrame)] = Seq(
    "precomputed" -> (b => PrecomputedIO.cutoutVoxels(spark, precomputed, b,
      fillMissing = true, background = fill)),
    "n5" -> (b => N5IO.cutoutVoxels(spark, n5, b)),
    "zarr2 C" -> (b => Zarr2IO.cutoutVoxels(spark, zarr2C, b)),
    "zarr2 F" -> (b => Zarr2IO.cutoutVoxels(spark, zarr2F, b)),
    "ome-zarr2" -> (b => Zarr2IO.cutoutVoxelsOmeAt(spark, ome, b)),
    "zarr3" -> (b => Zarr3IO.cutoutVoxels(spark, zarr3, b)),
    "zarr3 sharded" -> (b => Zarr3IO.cutoutVoxels(spark, zarr3Sharded, b)))

  /** Delete the `absent` blocks from the N5 copy too: under
    * `fillMissing` they then read as 0. */
  def dropAbsentN5Blocks(): Unit = absent.foreach(g => java.nio.file.Files.delete(
    java.nio.file.Paths.get(n5, "s0", g.x.toString, g.y.toString, g.z.toString)))
}

object GridFixtures {
  val UintTypes: Map[Int, String] =
    Map(1 -> "uint8", 2 -> "uint16", 4 -> "uint32", 8 -> "uint64")

  /** Voxel rows of a cutout as (x, y, z, label) tuples. */
  def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("x", "y", "z", "label").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  /** Three cutouts of one uint64 volume (top-bit labels among its
    * values), written under `root` through `spark`: precomputed,
    * sharded precomputed (`ShardedIO.cutoutVoxelsSharded`) and zarr2,
    * each as a frame in a given session with the rows it must return. */
  def threeCutouts(spark: SparkSession, root: String)
      : Seq[(String, SparkSession => DataFrame, Set[(Long, Long, Long, Long)])] = {
    val palette = Array(1L, 3L, Long.MinValue + 9L, -2L, 1L << 40)
    val fx = new GridFixtures(spark, root, Vec3(13, 9, 7), Vec3(4, 4, 3), 8,
      0L, Set.empty, p => palette(((p.x * 7 + p.y * 3 + p.z) % palette.length).toInt))
    val box = Bbox(Vec3(1, 2, 1), Vec3(12, 9, 6))
    Seq[(String, SparkSession => DataFrame)](
      ("precomputed", PrecomputedIO.cutoutVoxels(_, fx.precomputed, box)),
      ("sharded precomputed", ShardedIO.cutoutVoxelsSharded(_, fx.precomputedSharded, box)),
      ("zarr2", Zarr2IO.cutoutVoxels(_, fx.zarr2C, box)))
      .map { case (name, cut) => (name, cut, fx.expect(box)) }
  }
}
