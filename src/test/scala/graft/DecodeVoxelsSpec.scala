package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Explode, ScalaUDF}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, GenerateExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.{CollectBridge, DecodeVoxelsExec}
import org.apache.spark.sql.types.DoubleType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.{ContainsGateRule, DecodeVoxels}
import graft.ops.{ChunkEngine, Derived}
import graft.sources.{N5IO, NgScan, PrecomputedIO}

/** Differential spec for the cutout decode stage: `decodeToVoxels`
  * over seeded chunk rows, in every encoding it dispatches, must give
  * exactly `Geom.clipRows` over the decoded block of each chunk, in
  * chunk order and then z-major, x-fastest order, for unaligned,
  * edge-crossing, empty and single-voxel boxes. Every grid cutout
  * (precomputed, N5, zarr2, OME-zarr2, zarr3 unsharded and sharded, the
  * chunk table) must plan that one generator, and every stored grid
  * format must read through the one `neuroglancer` chunk scan.
  *
  * In every session a directly collected generator runs as a
  * [[DecodeVoxelsExec]], whose collect ships clipped chunk blocks:
  * every collect path through it must give the generic path's
  * (`queryExecution.toRdd`) rows, in order.
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
    * compresso palettes see) under the bit `mask` with the bits `force`
    * set, plus the extremes `force` and `mask`. */
  private def voxels(seed: Long, n: Int, mask: Long, force: Long = 0L): Array[Long] = {
    val r = new java.util.Random(seed)
    val palette = Array.fill(6)(r.nextLong() & mask | force)
    Array.tabulate(n) { i =>
      if (i == 0) force else if (i == 1) mask
      else palette(r.nextInt(palette.length))
    }
  }

  private case class Enc(name: String, encoding: String, dtb: Int,
      encode: (Array[Long], Vec3) => Array[Byte],
      csegBlock: Option[Vec3] = None, chunk: Vec3 = chunkSize,
      volume: Bbox = bounds, labelMask: Long = 0L, force: Long = 0L) {
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
    Enc("npz", "npz", 4, (v, bs) => Codec.encodeNpz(v, bs, 4)),
    // values that need more than their dtype's width, and labels >= 2^63
    Enc("npz u64 words under a u32 dtype", "npz", 4,
      (v, bs) => Codec.encodeNpz(v, bs, 8), labelMask = -1L),
    Enc("raw u64 top-bit", "raw", 8, (v, _) => Codec.encodeRawFromLongs(v, 8),
      force = Long.MinValue),
    Enc("cseg u64 top-bit", "compressed_segmentation", 8,
      (v, bs) => Cseg.encode(v, bs, Vec3(8, 8, 8), 8), force = Long.MinValue))

  private val rawU32 = encodings.find(_.name == "raw u32").get

  private def scaleOf(e: Enc): ScaleMeta = ScaleMeta(key = "1_1_1",
    encoding = e.encoding, resolution = Seq(1, 1, 1), chunkSize = e.chunk,
    size = e.volume.size, voxelOffset = e.volume.minpt,
    csegBlockSize = e.csegBlock)

  /** Chunk rows as the scan gives them, and each chunk's block. */
  private def chunkRows(blocks: Seq[(Bbox, Array[Byte])], s: SparkSession = spark) = {
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
      val blocks = blocksOf(e, k)
      val chunks = chunkRows(blocks.map { case (b, v) => (b, e.encode(v, b.size)) })
      check(e.name, chunks, blocks, scaleOf(e), e.dtb, 0L)
    }
  }

  /** Seeded decoded blocks of every chunk of `e`'s volume. */
  private def blocksOf(e: Enc, k: Int): Seq[(Bbox, Array[Long])] =
    grid(e).zipWithIndex.map { case (b, j) =>
      val bs = b.size
      (b, voxels(k * 1000L + j, (bs.x * bs.y * bs.z).toInt, e.mask, e.force))
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

  /** Every plan node, AQE's final plan and its query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** `df`'s rows are exactly `want`, and its executed plan emits them
    * from a `DecodeVoxels` generator with no ScalaUDF and no Explode.
    * With `oneScan` (every stored grid format), the plan is a
    * [[DecodeVoxelsExec]] root over a `neuroglancer` BatchScanExec, with
    * no RDD scan and no Exchange: no second chunk pipeline. */
  private def assertOneEmitter(name: String, df: DataFrame,
      want: Set[(Long, Long, Long, Long)], oneScan: Boolean = true): Unit = {
    val got = GridFixtures.rows(df)
    assert(got.length == want.size && got.toSet == want, s"$name: rows")
    val plan = df.queryExecution.executedPlan
    val all = nodes(plan)
    assert(all.exists {
      case g: GenerateExec => g.generator.isInstanceOf[DecodeVoxels]
      case _: DecodeVoxelsExec => true
      case _ => false
    }, s"$name: no decode_voxels Generate in plan:\n$plan")
    val exprs = all.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]),
      s"$name: ScalaUDF in plan:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[Explode]),
      s"$name: Explode in plan:\n$plan")
    if (oneScan) {
      assert(plan.isInstanceOf[DecodeVoxelsExec],
        s"$name: plan root is not DecodeVoxelsExec:\n$plan")
      assert(all.exists {
        case b: BatchScanExec => b.scan.isInstanceOf[NgScan]
        case _ => false
      }, s"$name: no neuroglancer BatchScanExec in plan:\n$plan")
      assert(!all.exists(n => n.isInstanceOf[RDDScanExec] ||
        n.isInstanceOf[ExternalRDDScanExec[_]] || n.isInstanceOf[Exchange]),
        s"$name: RDD scan or Exchange in plan:\n$plan")
    }
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
      table.toDF("gx", "gy", "gz", "payload"), cbox), want.toSet, oneScan = false)
  }

  /** `df` plans a [[DecodeVoxelsExec]] root, and its `executeCollect`,
    * `executeCollectIterator` (rows and count) and `Dataset.collect()`
    * each give the generic path's (`queryExecution.toRdd`) rows, in
    * order. Returns those rows and whether `Dataset.collect()` shipped
    * blocks. */
  private def assertBlockCollect(name: String, df: DataFrame): (Seq[Seq[Any]], Boolean) = {
    val exec = df.queryExecution.executedPlan match {
      case d: DecodeVoxelsExec => d
      case p => fail(s"$name: plan root is not DecodeVoxelsExec:\n$p")
    }
    val schema = df.schema
    val generic = df.queryExecution.toRdd.map(_.toSeq(schema)).collect().toSeq
    val collected = exec.executeCollect().toSeq.map(_.toSeq(schema))
    val (n, it) = CollectBridge.collectIterator(exec)
    val streamed = it.map(_.toSeq(schema)).toSeq
    val viaDataset = df.collect().toSeq.map(_.toSeq)
    assert(collected == generic, s"$name: executeCollect")
    assert(n == generic.length && streamed == generic, s"$name: executeCollectIterator")
    assert(viaDataset == generic, s"$name: Dataset.collect")
    // Dataset.collect resets the plan's metrics first: they count it alone
    assert(exec.metrics("numOutputRows").value == generic.length,
      s"$name: numOutputRows")
    (generic, exec.metrics("blockBytes").value > 0)
  }

  private def tuples(rows: Seq[Seq[Any]]): Seq[(Long, Long, Long, Long)] =
    rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
      r(2).asInstanceOf[Long], r(3).asInstanceOf[Long]))

  test("the block collect gives the generic path's rows in order: every " +
      "encoding, null payloads, top-bit labels and wide backgrounds") {
    val nullChunks = Seq(
      // (input, the background its null payloads read as)
      rawU32 -> 7L,
      encodings.find(_.name == "raw u8").get -> ((1L << 32) + 7L),
      encodings.find(_.name == "cseg u64 top-bit").get -> (Long.MinValue + 3L))
    val inputs = encodings.zipWithIndex.map { case (e, k) => (e, k, None) } ++
      nullChunks.map { case (e, bg) => (e, 99, Some(bg)) }
    for ((e, k, bg) <- inputs) {
      val blocks = blocksOf(e, k)
      // with a background, every other chunk is missing
      val chunks = chunkRows(blocks.zipWithIndex.map { case ((b, v), j) =>
        (b, if (bg.isDefined && j % 2 == 1) null else e.encode(v, b.size))
      })
      for ((boxName, box) <- boxes) {
        val name = s"${e.name}${bg.fold("")(b => s" nulls as $b")} / $boxName"
        val (rows, shipped) = assertBlockCollect(name, PrecomputedIO.decodeToVoxels(
          chunks, box, scaleOf(e), e.dtb, bg.getOrElse(0L)))
        assert(shipped, s"$name: no blocks shipped")
        val want = blocks.zipWithIndex.flatMap { case ((b, v), j) =>
          val vox = if (bg.isDefined && j % 2 == 1) Array.fill(v.length)(bg.get) else v
          Geom.clipRows(vox, b.minpt, b.size, box)
        }
        assert(tuples(rows) == want, s"$name: rows")
      }
    }
  }

  test("the block collect builds blocks of more rows than one row slice") {
    // two 80x64x16 chunks (81920 voxels each, past the 65536 rows the
    // driver builds in one array, and 640 KiB of uint64 values, past
    // the 512 KiB the writer buffers): raw uint64, and one missing as 7
    val cs = Vec3(80, 64, 16)
    val vol = Bbox(Vec3(0, 0, 0), Vec3(160, 64, 16))
    val r = new java.util.Random(5)
    val blocks = Seq(Vec3(0, 0, 0), Vec3(1, 0, 0)).map { g =>
      (Geom.chunkBbox(g, vol, cs), Array.fill(81920)(r.nextLong()))
    }
    val chunks = chunkRows(Seq(blocks(0)._1 -> Codec.encodeRawFromLongs(blocks(0)._2, 8),
      blocks(1)._1 -> null))
    val scale = ScaleMeta(key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = cs, size = vol.size, voxelOffset = vol.minpt)
    for (box <- Seq(vol, Bbox(Vec3(3, 1, 2), Vec3(150, 63, 15)))) {
      val (rows, shipped) = assertBlockCollect(s"$box",
        PrecomputedIO.decodeToVoxels(chunks, box, scale, 8, 7L))
      assert(shipped, s"$box: no blocks shipped")
      val want = Geom.clipRows(blocks(0)._2, blocks(0)._1.minpt, cs, box) ++
        Geom.clipRows(Array.fill(81920)(7L), blocks(1)._1.minpt, cs, box)
      assert(tuples(rows) == want, s"$box: rows")
    }
  }

  test("float and channel stages plan the node but collect the generic way") {
    val e = rawU32
    val r = new java.util.Random(3)
    val box = boxes.head._2
    val floats = grid(e).map { b =>
      (b, Array.fill((b.size.x * b.size.y * b.size.z).toInt)(r.nextGaussian()))
    }
    val fchunks = chunkRows(floats.map { case (b, v) =>
      (b, Codec.encodeRawFloatsFromDoubles(v, 4)) })
    val (frows, fshipped) = assertBlockCollect("float", DecodeVoxels.stage(fchunks,
      DecodeVoxels(DecodeVoxels.chunkCols, "raw", 4, box, valueType = DoubleType)))
    assert(!fshipped, "float: blocks shipped")
    val fwant = floats.flatMap { case (b, v) =>
      Geom.clipRows(v.indices.map(_.toLong).toArray, b.minpt, b.size, box)
        .map { case (x, y, z, i) => Seq(x, y, z, v(i.toInt).toFloat.toDouble) }
    }
    assert(frows == fwant, "float: rows")

    // three uint8 planes per chunk, channels 0 and 2 requested
    val planes = grid(e).map { b =>
      (b, Array.fill(3 * (b.size.x * b.size.y * b.size.z).toInt)(r.nextInt(256).toLong))
    }
    val cchunks = chunkRows(planes.map { case (b, v) =>
      (b, Codec.encodeRawFromLongs(v, 1)) })
    val (crows, cshipped) = assertBlockCollect("channels", DecodeVoxels.stage(cchunks,
      DecodeVoxels(DecodeVoxels.chunkCols, "raw", 1, box, channels = Seq(0, 2),
        planes = 3)))
    assert(!cshipped, "channels: blocks shipped")
    val cwant = planes.flatMap { case (b, v) =>
      val n = v.length / 3
      Geom.clipRows(Array.tabulate(n)(_.toLong), b.minpt, b.size, box).flatMap {
        case (x, y, z, i) => Seq(0, 2).map(c => Seq(x, y, z, c.toLong, v(c * n + i.toInt)))
      }
    }
    assert(crows == cwant, "channels: rows")
  }

  test("a fresh session plans the three cutouts as DecodeVoxelsExec, and " +
      "a label filter over each gates below the decode with the same rows") {
    val dir = Files.createTempDirectory("decode_voxels_exec").toString
    // neither GraftFunctions.register nor the extension
    val fresh = spark.newSession()
    val k = Long.MinValue + 9L // a top-bit label of the fixture's palette
    for ((name, cut, want) <- GridFixtures.threeCutouts(spark, dir)) {
      val (rows, shipped) = assertBlockCollect(name, cut(fresh))
      assert(shipped, s"$name: no blocks shipped")
      assert(rows.length == want.size && tuples(rows).toSet == want, s"$name: rows")

      val filtered = cut(fresh).filter(col("label") === k)
      val plan = filtered.queryExecution.optimizedPlan.toString
      val gen = plan.linesIterator.indexWhere(_.contains("Generate"))
      val gate = plan.linesIterator.indexWhere(_.contains(ContainsGateRule.GateName))
      assert(gen >= 0 && gate > gen, s"$name: gate not below Generate:\n$plan")
      val keep = want.filter(_._4 == k)
      assert(keep.nonEmpty, s"$name: label $k absent from the cutout")
      assert(GridFixtures.rows(filtered).toSet == keep, s"$name: filtered rows")
    }
  }

  test("an AQE-wrapped cutout (the chunk table's join) ships blocks on " +
      "Dataset.collect, and both collects give the generic rows") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val table = (for (gz <- 0L to 1L; gy <- 0L to 1L; gx <- 0L to 1L
        if (gx, gy, gz) != ((1L, 0L, 0L))) yield (gx, gy, gz,
      Codec.encodeRawFromLongs(Array.tabulate(
        (Derived.CsX * Derived.CsY * Derived.CsZ).toInt)(i => gx + 3 * gz + i), 8)))
      .toDF("gx", "gy", "gz", "payload")
    val df = ChunkEngine.cutoutVoxels(table, Bbox(Vec3(5, 3, 2), Vec3(27, 20, 13)))
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], s"plan root:\n$plan")
    val schema = df.schema
    val generic = df.queryExecution.toRdd.map(_.toSeq(schema)).collect().toSeq
    assert(generic.length == 22 * 17 * 11)
    assert(df.collect().toSeq.map(_.toSeq) == generic, "Dataset.collect")
    val exec = nodes(plan).collectFirst { case d: DecodeVoxelsExec => d }
    assert(exec.isDefined, s"no DecodeVoxelsExec in the final plan:\n$plan")
    assert(exec.get.metrics("blockBytes").value > 0, "Dataset.collect shipped no blocks")
    val (n, it) = CollectBridge.collectIterator(plan)
    assert(n == generic.length && it.map(_.toSeq(schema)).toSeq == generic,
      "executeCollectIterator")
  }
}
