package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Explode, ScalaUDF}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.DecodeVoxels
import graft.ops.{ChunkEngine, Derived}
import graft.sources.{N5IO, PrecomputedIO}

/** Differential spec for the cutout decode stage: `decodeToVoxels`
  * over seeded chunk rows, in every encoding it dispatches, must give
  * exactly `Geom.clipRows` over the decoded block of each chunk, in
  * chunk order and then z-major, x-fastest order, for unaligned,
  * edge-crossing, empty and single-voxel boxes. Every grid cutout
  * (precomputed, N5, zarr2, OME-zarr2, zarr3 unsharded and sharded, the
  * chunk table) must plan that one generator.
  */
class DecodeVoxelsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  // a 13x9x7 volume at a non-zero, partly negative offset in 5x4x3
  // chunks: every axis ends in a clamped edge chunk (compresso, which
  // needs chunk x and y in multiples of 4, gets 12x8x7 in 4x4x3)
  private val chunkSize = Vec3(5, 4, 3)
  private val bounds = Bbox(Vec3(3, -2, 1), Vec3(16, 7, 8))
  private def grid(e: Enc): Seq[Bbox] =
    Geom.gridpoints(e.volume, e.volume, e.chunk)
      .map(g => Geom.chunkBbox(g, e.volume, e.chunk))

  private val boxes = Seq(
    "unaligned interior" -> Bbox(Vec3(4, -1, 2), Vec3(14, 5, 6)),
    "edge-crossing" -> Bbox(Vec3(0, -5, 0), Vec3(20, 3, 9)),
    "whole volume" -> bounds,
    "single voxel" -> Bbox(Vec3(9, 3, 5), Vec3(10, 4, 6)),
    "outside the volume" -> Bbox(Vec3(100, 100, 100), Vec3(110, 110, 110)),
    "zero width" -> Bbox(Vec3(5, 0, 2), Vec3(5, 3, 4)))

  /** Seeded voxels for one chunk: a few repeated labels (what cseg and
    * compresso palettes see) under the bit `mask`, plus 0 and the mask
    * itself, the extremes of the dtype. */
  private def voxels(seed: Long, n: Int, mask: Long): Array[Long] = {
    val r = new java.util.Random(seed)
    val palette = Array.fill(6)(r.nextLong() & mask)
    Array.tabulate(n) { i =>
      if (i == 0) 0L else if (i == 1) mask
      else palette(r.nextInt(palette.length))
    }
  }

  private case class Enc(name: String, encoding: String, dtb: Int,
      encode: (Array[Long], Vec3) => Array[Byte],
      csegBlock: Option[Vec3] = None, chunk: Vec3 = chunkSize,
      volume: Bbox = bounds, labelMask: Long = 0L) {
    def mask: Long =
      if (labelMask != 0L) labelMask else if (dtb == 8) -1L else (1L << 8 * dtb) - 1
  }

  private val encodings = Seq(
    Enc("raw u8", "raw", 1, (v, _) => Codec.encodeRawFromLongs(v, 1)),
    Enc("raw u16", "raw", 2, (v, _) => Codec.encodeRawFromLongs(v, 2)),
    Enc("raw u32", "raw", 4, (v, _) => Codec.encodeRawFromLongs(v, 4)),
    Enc("raw u64", "raw", 8, (v, _) => Codec.encodeRawFromLongs(v, 8)),
    Enc("cseg u32", "compressed_segmentation", 4,
      (v, bs) => Cseg.encode(v, bs, Vec3(4, 2, 2), 4), Some(Vec3(4, 2, 2))),
    Enc("cseg u64", "compressed_segmentation", 8,
      (v, bs) => Cseg.encode(v, bs, Vec3(8, 8, 8), 8)),
    Enc("compresso", "compresso", 4, (v, bs) => Compresso.encode(v, bs, 4),
      // compresso v1 stores labels below 2^32 - 7
      chunk = Vec3(4, 4, 3), volume = Bbox(Vec3(3, -2, 1), Vec3(15, 6, 8)),
      labelMask = 0x7fffffffL),
    Enc("png8", "png", 1,
      (v, bs) => Codec.encodePng(v.map(_.toByte), bs.x.toInt)),
    Enc("png16", "png", 2, (v, bs) => Codec.encodePng16(v, bs.x.toInt)),
    Enc("npz", "npz", 4, (v, bs) => Codec.encodeNpz(v, bs, 4)))

  private val rawU32 = encodings.find(_.name == "raw u32").get

  private def scaleOf(e: Enc): ScaleMeta = ScaleMeta(key = "1_1_1",
    encoding = e.encoding, resolution = Seq(1, 1, 1), chunkSize = e.chunk,
    size = e.volume.size, voxelOffset = e.volume.minpt,
    csegBlockSize = e.csegBlock)

  /** Chunk rows as the scan gives them, and each chunk's block. */
  private def chunkRows(blocks: Seq[(Bbox, Array[Byte])]) = {
    val s = spark
    import s.implicits._
    blocks.map { case (b, p) =>
      (b.minpt.x, b.minpt.y, b.minpt.z, b.maxpt.x, b.maxpt.y, b.maxpt.z, p)
    }.toDF("x0", "y0", "z0", "x1", "y1", "z1", "payload").coalesce(1)
  }

  private def check(label: String, chunks: org.apache.spark.sql.DataFrame,
      blocks: Seq[(Bbox, Array[Long])], scale: ScaleMeta, dtb: Int,
      background: Long): Unit =
    for ((boxName, box) <- boxes) {
      val got = PrecomputedIO.decodeToVoxels(chunks, box, scale, dtb, background)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val want = blocks.flatMap { case (b, vox) =>
        Geom.clipRows(vox, b.minpt, b.size, box)
      }
      assert(got.length == want.length, s"$label / $boxName: row count")
      assert(got == want, s"$label / $boxName: rows differ")
      if (boxName == "single voxel") assert(got.length == 1)
      if (boxName.startsWith("outside") || boxName == "zero width")
        assert(got.isEmpty)
    }

  test("decodeToVoxels equals clipRows over the decoded blocks in every " +
      "encoding, in order") {
    for ((e, k) <- encodings.zipWithIndex) {
      val blocks = grid(e).zipWithIndex.map { case (b, j) =>
        val bs = b.size
        (b, voxels(k * 1000L + j, (bs.x * bs.y * bs.z).toInt, e.mask))
      }
      val chunks = chunkRows(blocks.map { case (b, v) => (b, e.encode(v, b.size)) })
      check(e.name, chunks, blocks, scaleOf(e), e.dtb, 0L)
    }
  }

  test("a null payload decodes to the background value") {
    val e = rawU32
    // every other chunk is missing (fill_missing's null payload)
    val blocks = grid(e).zipWithIndex.map { case (b, j) =>
      val n = (b.size.x * b.size.y * b.size.z).toInt
      (b, if (j % 2 == 0) voxels(j, n, e.mask) else Array.fill(n)(7L))
    }
    val chunks = chunkRows(blocks.zipWithIndex.map { case ((b, v), j) =>
      (b, if (j % 2 == 0) e.encode(v, b.size) else null)
    })
    check("null payload", chunks, blocks, scaleOf(e), 4, 7L)
  }

  /** Every plan node, AQE's final plan included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** `df`'s rows are exactly `want`, and its executed plan emits them
    * from a `DecodeVoxels` generator with no ScalaUDF and no Explode. */
  private def assertOneEmitter(name: String, df: DataFrame,
      want: Set[(Long, Long, Long, Long)]): Unit = {
    val got = GridFixtures.rows(df)
    assert(got.length == want.size && got.toSet == want, s"$name: rows")
    val plan = df.queryExecution.executedPlan
    val all = nodes(plan)
    assert(all.exists {
      case g: GenerateExec => g.generator.isInstanceOf[DecodeVoxels]
      case _ => false
    }, s"$name: no decode_voxels Generate in plan:\n$plan")
    val exprs = all.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]),
      s"$name: ScalaUDF in plan:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[Explode]),
      s"$name: Explode in plan:\n$plan")
  }

  test("a cutout's executed plan has no ScalaUDF and no Explode between " +
      "the chunk decode and the row buffer") {
    val dir = Files.createTempDirectory("decode_voxels_spec").toString
    val meta = VolumeMeta(layerType = "segmentation", dataType = "uint32",
      numChannels = 1, scales = Seq(scaleOf(rawU32)))
    PrecomputedIO.writeInfo(dir, meta)
    val s = spark
    import s.implicits._
    val blocks = grid(rawU32).zipWithIndex.map { case (b, j) =>
      (b, voxels(j, (b.size.x * b.size.y * b.size.z).toInt, rawU32.mask))
    }
    val rows = Geom.gridpoints(bounds, bounds, chunkSize).zip(blocks).map {
      case (g, (_, v)) => (g.x, g.y, g.z, Codec.encodeRawFromLongs(v, 4))
    }
    PrecomputedIO.writeChunks(rows.toDF("gx", "gy", "gz", "payload"), dir,
      meta, 0)
    val box = boxes.head._2
    assertOneEmitter("precomputed", PrecomputedIO.cutoutVoxels(spark, dir, box),
      blocks.flatMap { case (b, v) => Geom.clipRows(v, b.minpt, b.size, box) }.toSet)

    // the grid readers, one absent block (1, 1, 1) in every format
    val r = new java.util.Random(5)
    val palette = Array.fill(9)(r.nextLong() & 0xffffffffL)
    val fx = new GridFixtures(spark, s"$dir/grid", Vec3(13, 9, 7),
      Vec3(4, 4, 3), 4, 3L, Set(Vec3(1, 1, 1)),
      p => palette(((p.x * 7 + p.y * 3 + p.z) % palette.length).toInt))
    val gbox = Bbox(Vec3(1, 2, 1), Vec3(12, 9, 6))
    for ((name, cut) <- fx.cutouts)
      assertOneEmitter(name, cut(gbox), fx.expect(gbox))
    fx.dropAbsentN5Blocks()
    assertOneEmitter("n5 fillMissing",
      N5IO.cutoutVoxels(spark, fx.n5, gbox, fillMissing = true),
      fx.expect(gbox, absentAs = 0L))

    // the chunk table, chunk (1, 0, 0) missing
    val table = for (gz <- 0L to 1L; gy <- 0L to 1L; gx <- 0L to 1L
        if (gx, gy, gz) != ((1L, 0L, 0L))) yield {
      val lo = Vec3(gx, gy, gz) * Derived.chunkSize
      (gx, gy, gz, Codec.encodeRawFromLongs(Array.tabulate(
        (Derived.CsX * Derived.CsY * Derived.CsZ).toInt)(i => lo.x + lo.y + i), 8))
    }
    val cbox = Bbox(Vec3(5, 3, 2), Vec3(27, 20, 13))
    val want = for (z <- 2L until 13L; y <- 3L until 20L; x <- 5L until 27L)
      yield {
        val g = Vec3(x / Derived.CsX, y / Derived.CsY, z / Derived.CsZ)
        val lo = g * Derived.chunkSize
        val i = (x - lo.x) + Derived.CsX * ((y - lo.y) + Derived.CsY * (z - lo.z))
        (x, y, z, if (g == Vec3(1, 0, 0)) 0L else lo.x + lo.y + i)
      }
    assertOneEmitter("chunk table", ChunkEngine.cutoutVoxels(
      table.toDF("gx", "gy", "gz", "payload"), cbox), want.toSet)
  }
}
