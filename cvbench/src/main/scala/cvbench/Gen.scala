package cvbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.sources.{PrecomputedIO, ShardedIO}

/** A seeded voxel field: the value at every voxel of a generated layer.
  * Each layer the benchmark reads is written from one of these, and
  * every result is checked against it, so the engine only ever sees
  * generated inputs and the expected answers never come from the
  * engine.
  */
sealed trait VoxelField extends Serializable {
  def dtypeBytes: Int
  /** Values of a box in F order (x fastest). */
  def box(b: Bbox): Array[Long]
}

object Field {
  /** splitmix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def sub(seed: Long, tag: Long): Long = mix64(seed * 31 + tag)

  /** Triangle wave in [0, amp] with period 2p. */
  def tri(v: Long, p: Long, amp: Long): Long =
    math.abs(Math.floorMod(v, 2 * p) - p) * amp / p

  /** Order-independent, position-sensitive hash term of one voxel. */
  def term(idx: Long, v: Long): Long = mix64(idx * 0x2545F4914F6CDD1DL ^ v)

  def axis(lo: Long, n: Long)(f: Long => Long): Array[Long] =
    Array.tabulate(n.toInt)(i => f(lo + i))
}

/** uint8 EM-like image: a smooth field (three triangle waves) plus five
  * bits of noise, so gzip compresses it about as poorly as real EM
  * imagery, not like zeros. */
final case class ImgField(seed: Long) extends VoxelField {
  private val r = Array.tabulate(6)(i => Field.sub(seed, i))
  private val ox = Math.floorMod(r(0), 997L); private val px = 40 + Math.floorMod(r(1), 40L)
  private val oy = Math.floorMod(r(2), 997L); private val py = 40 + Math.floorMod(r(3), 40L)
  private val oz = Math.floorMod(r(4), 997L); private val pz = 30 + Math.floorMod(r(5), 30L)
  def dtypeBytes: Int = 1
  def box(b: Bbox): Array[Long] = {
    val s = b.size
    val out = new Array[Long](b.volume.toInt)
    val tx = Field.axis(b.minpt.x, s.x)(x => Field.tri(x + ox, px, 72))
    val kx = Field.axis(b.minpt.x, s.x)(_ * 0x1F123BB5L)
    val ty = Field.axis(b.minpt.y, s.y)(y => Field.tri(y + oy, py, 72))
    val tz = Field.axis(b.minpt.z, s.z)(z => Field.tri(z + oz, pz, 72))
    var i = 0
    var z = 0
    while (z < s.z) {
      var y = 0
      while (y < s.y) {
        val base = ty(y) + tz(z)
        val k = (b.minpt.y + y) * 0x3C6EF372FE94F82BL + (b.minpt.z + z) * 0x5851F42D4C957F2DL
        var x = 0
        while (x < s.x) {
          out(i) = (tx(x) + base + (Field.mix64(seed ^ (kx(x) + k)) & 31)) & 0xff
          i += 1; x += 1
        }
        y += 1
      }
      z += 1
    }
    out
  }
}

/** uint64 supervoxel segmentation: cells of an 18x18x12 grid whose walls
  * wobble, each labelled by a hash above 2^33 so the labels need 64
  * bits. */
final case class SegField(seed: Long) extends VoxelField {
  private val o = Array.tabulate(3)(i => Math.floorMod(Field.sub(seed, 10 + i), 1000L))
  def dtypeBytes: Int = 8
  def box(b: Bbox): Array[Long] = {
    val s = b.size
    val out = new Array[Long](b.volume.toInt)
    var i = 0
    var lastKey = 0L; var last = Field.mix64(seed ^ lastKey) >>> 2 | (1L << 33)
    var z = 0
    while (z < s.z) {
      val gz = b.minpt.z + z
      // wall of the y cells moves with x and z
      val cyOf = Field.axis(b.minpt.x, s.x)(x => Field.tri(gz + 2 * x + o(1), 19, 6))
      var y = 0
      while (y < s.y) {
        val gy = b.minpt.y + y
        val cx0 = Field.tri(gy + 2 * gz + o(0), 21, 6)
        var x = 0
        while (x < s.x) {
          val gx = b.minpt.x + x
          val cx = Math.floorDiv(gx + cx0, 18L)
          val cy = Math.floorDiv(gy + cyOf(x), 18L)
          val cz = Math.floorDiv(gz + Field.tri(gx + 2 * gy + o(2), 17, 5), 12L)
          val key = cx * 0x632BE59BD9B4E019L + cy * 0x85157AF5L + cz * 0x9E3779B97F4A7C15L
          if (key != lastKey) {
            lastKey = key; last = (Field.mix64(seed ^ key) >>> 2) | (1L << 33)
          }
          out(i) = last
          i += 1; x += 1
        }
        y += 1
      }
      z += 1
    }
    out
  }
}

/** Closed-form summary of a voxel box: what a correct dense buffer of
  * that box must hold. */
final case class BoxStats(count: Long, sum: Long, hash: Long)

object Expect {
  def stats(f: VoxelField, b: Bbox): BoxStats = {
    val v = f.box(b)
    var sum = 0L; var hash = 0L; var i = 0
    while (i < v.length) { sum += v(i); hash += Field.term(i, v(i)); i += 1 }
    BoxStats(v.length, sum, hash)
  }

  /** Sorted distinct labels of a box. Runs of equal neighbours are
    * collapsed first, so the sort sees roughly one entry per blob
    * crossing. */
  def labelSet(f: VoxelField, b: Bbox): Array[Long] = {
    val v = f.box(b)
    val runs = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < v.length) { if (i == 0 || v(i) != v(i - 1)) runs += v(i); i += 1 }
    val a = runs.result(); java.util.Arrays.sort(a)
    var n = 0; i = 0
    while (i < a.length) { if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }; i += 1 }
    java.util.Arrays.copyOf(a, n)
  }
}

/** Layer geometry and the writers that generate layers through the
  * engine's own write path. */
object Layers {
  val Chunk: Vec3 = Vec3(64, 64, 64)
  val CsegBlock: Vec3 = Vec3(8, 8, 8)

  def imgMeta(size: Vec3): VolumeMeta = VolumeMeta("image", "uint8", 1,
    Seq(ScaleMeta("8_8_40", "raw", Seq(8, 8, 40), Chunk, size, Vec3(0, 0, 0))))

  def segMeta(size: Vec3, sharding: Option[ShardingSpec] = None): VolumeMeta =
    VolumeMeta("segmentation", "uint64", 1,
      Seq(ScaleMeta("8_8_40", "compressed_segmentation", Seq(8, 8, 40), Chunk,
        size, Vec3(0, 0, 0), csegBlockSize = Some(CsegBlock),
        sharding = sharding)))

  /** Sharding for a layer of `size`: 2^preshift chunks per minishard,
    * two minishards per shard, and enough shards to cover the grid. */
  def shardSpec(size: Vec3, preshift: Int = 2): ShardingSpec = {
    val g = size.ceilDiv(Chunk)
    val bits = Morton.bitsFor(g.x) + Morton.bitsFor(g.y) + Morton.bitsFor(g.z)
    ShardingSpec(preshiftBits = preshift, minishardBits = 1,
      shardBits = math.max(bits - preshift - 1, 0),
      minishardIndexEncoding = "gzip", dataEncoding = "gzip")
  }

  /** Chunk rows (gx, gy, gz, payload) of a whole layer, generated
    * executor-side. `encode` turns a chunk's F-order voxels into the
    * payload. */
  def chunkRows(spark: SparkSession, f: VoxelField, size: Vec3,
      encode: (Array[Long], Vec3) => Array[Byte]): DataFrame = {
    val grid = size.ceilDiv(Chunk)
    val bounds = Bbox(Vec3(0, 0, 0), size)
    val n = grid.x * grid.y * grid.z
    import spark.implicits._
    spark.range(0, n, 1, math.min(n, 64L).toInt).map { id =>
      val g = Vec3(id % grid.x, (id / grid.x) % grid.y, id / (grid.x * grid.y))
      val cb = Geom.chunkBbox(g, bounds, Chunk)
      (g.x, g.y, g.z, encode(f.box(cb), cb.size))
    }.toDF("gx", "gy", "gz", "payload")
  }

  val rawU8: (Array[Long], Vec3) => Array[Byte] =
    (v, _) => Codec.encodeRawFromLongs(v, 1)
  val cseg: (Array[Long], Vec3) => Array[Byte] =
    (v, s) => Cseg.encode(v, s, CsegBlock, 8)

  def writeImg(spark: SparkSession, dir: String, f: ImgField, size: Vec3): Unit = {
    val meta = imgMeta(size)
    PrecomputedIO.writeInfo(dir, meta)
    PrecomputedIO.writeChunks(chunkRows(spark, f, size, rawU8), dir, meta, 0,
      codec = Some("gzip"))
  }

  /** The seg layer, and optionally a sharded copy of the same voxels. */
  def writeSeg(spark: SparkSession, dir: String, f: SegField, size: Vec3,
      shardedDir: Option[String] = None): Unit = {
    val meta = segMeta(size)
    val rows = chunkRows(spark, f, size, cseg).cache()
    try {
      PrecomputedIO.writeInfo(dir, meta)
      PrecomputedIO.writeChunks(rows, dir, meta, 0, codec = Some("gzip"))
      shardedDir.foreach { sd =>
        val smeta = segMeta(size, Some(shardSpec(size)))
        PrecomputedIO.writeInfo(sd, smeta)
        ShardedIO.writeSharded(rows, sd, smeta, 0)
      }
    } finally rows.unpersist()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(p).iterator.asScala.toVector.reverse
      all.foreach(q => Files.deleteIfExists(q))
    }

  def deleteTree(p: String): Unit = deleteTree(Paths.get(p))
}
