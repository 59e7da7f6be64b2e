package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThan, LessThan}
import org.apache.spark.sql.types.Decimal
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.sources.{ChunkLayout, Neuroglancer, NgScanBuilder, PrecomputedIO, ShardedIO}

/** The `neuroglancer` scan applies every chunk-key filter it accepts
  * exactly, so Spark keeps no post-scan `Filter` for it: over a
  * precomputed layer whose voxel offset is not zero and whose last chunk
  * on each axis is clamped, unsharded and sharded, and over the same
  * unaligned volume (at the origin) as N5, zarr2 C and F, OME-zarr2,
  * zarr3 and sharded zarr3 ([[GridFixtures]]; zarr's edge chunks are
  * full-size), each accepted form returns the rows of an unfiltered scan
  * filtered in Scala; the executed plan keeps a `FilterExec` only for
  * the filters the scan did not accept; and a cutout with a new bbox
  * compiles no code.
  */
class NgPushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("ng_pushdown_spec").toString
  private val offset = Vec3(5, 3, 9)
  private val dims = Vec3(13, 11, 7)
  private val cs = Vec3(4, 4, 3) // 4x3x3 grid: every last chunk clamped
  private val bounds = Bbox(offset, offset + dims)
  private val seeded = new scala.util.Random(20261019)
  private val src = Array.fill((dims.x * dims.y * dims.z).toInt)(
    seeded.nextLong() & 0xffffffffL)
  private def value(x: Long, y: Long, z: Long): Long = {
    val p = Vec3(x, y, z) - offset
    src((p.x + dims.x * (p.y + dims.y * p.z)).toInt)
  }

  private val meta = VolumeMeta(layerType = "segmentation",
    dataType = "uint32", numChannels = 1, scales = Seq(ScaleMeta(
      key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = cs, size = dims, voxelOffset = offset)))
  private val sharding = ShardingSpec(preshiftBits = 0, minishardBits = 1,
    shardBits = 2, minishardIndexEncoding = "gzip", dataEncoding = "gzip")

  /** A grid the scan reads: its directory, voxel bounds, values and
    * cutout. */
  private case class Layer(name: String, path: String, bounds: Bbox,
      value: Vec3 => Long, cutout: Bbox => DataFrame)
  private var layers: Seq[Layer] = Nil

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    import s.implicits._
    val chunks = Geom.gridpoints(bounds, bounds, cs).map { g =>
      val cb = Geom.chunkBbox(g, bounds, cs)
      val vox = for (z <- cb.minpt.z until cb.maxpt.z;
        y <- cb.minpt.y until cb.maxpt.y; x <- cb.minpt.x until cb.maxpt.x)
        yield value(x, y, z)
      (g.x, g.y, g.z, Codec.encodeRawFromLongs(vox.toArray, 4))
    }.toDF("gx", "gy", "gz", "payload")
    val precomputed = Seq("unsharded", "sharded").map { name =>
      val path = s"$dir/$name"
      Layer(name, path, bounds, p => value(p.x, p.y, p.z),
        PrecomputedIO.cutoutVoxels(spark, path, _))
    }
    PrecomputedIO.writeInfo(precomputed(0).path, meta)
    PrecomputedIO.writeChunks(chunks, precomputed(0).path, meta, 0)
    val sm = meta.copy(scales = Seq(meta.scale(0).copy(sharding = Some(sharding))))
    PrecomputedIO.writeInfo(precomputed(1).path, sm)
    ShardedIO.writeSharded(chunks, precomputed(1).path, sm, 0)
    val fx = new GridFixtures(spark, s"$dir/grid", dims, cs, 4, 0L, Set.empty,
      p => value(p.x + offset.x, p.y + offset.y, p.z + offset.z))
    layers = precomputed ++ fx.cutouts.filter(_._1 != "precomputed").map {
      case (name, cut) => Layer(name, fx.dirs(name), fx.bounds, fx.voxel, cut)
    }
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private val keyCols = Seq("gx", "gy", "gz", "x0", "y0", "z0", "x1", "y1", "z1")

  /** Chunk rows: the nine key columns and the payload bytes. */
  private def chunkRows(df: DataFrame): Seq[(Seq[Long], Seq[Byte])] =
    df.select((keyCols :+ "payload").map(col): _*).collect().toSeq.map(r =>
      (keyCols.indices.map(r.getLong), r.getAs[Array[Byte]](9).toSeq))

  /** Equal multisets of chunk rows; the clue names the keys that
    * differ, not the payload bytes. */
  private def assertRows(got: Seq[(Seq[Long], Seq[Byte])],
      want: Seq[(Seq[Long], Seq[Byte])], what: String): Unit = {
    val same = got.length == want.length && got.toSet == want.toSet
    assert(same, s"$what: missing ${(want.toSet -- got).map(_._1)}, " +
      s"extra ${(got.toSet -- want).map(_._1)}, ${got.length} rows, " +
      s"${want.length} wanted")
  }

  private def filters(df: DataFrame): Seq[FilterExec] =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f }

  private def cmp(c: String, op: String, v: Long): (Column, Long => Boolean) =
    op match {
      case "=" => (col(c) === v, _ == v)
      case "<" => (col(c) < v, _ < v)
      case "<=" => (col(c) <= v, _ <= v)
      case ">" => (col(c) > v, _ > v)
      case ">=" => (col(c) >= v, _ >= v)
    }

  test("every accepted form returns exactly the rows of a Scala filter, " +
      "with no FilterExec above the scan") {
    // (column, operator) of each accepted form, on every axis
    val forms = Seq("gx", "gy", "gz").flatMap(c =>
        Seq("=", "<", "<=", ">", ">=").map(c -> _)) ++
      Seq("x1", "y1", "z1").flatMap(c => Seq(">", ">=").map(c -> _)) ++
      Seq("x0", "y0", "z0").flatMap(c => Seq("<", "<=").map(c -> _))
    val rnd = new scala.util.Random(7)
    for (Layer(name, layer, bounds, _, _) <- layers) {
      val grid = bounds.size.ceilDiv(cs)
      val all = chunkRows(PrecomputedIO.readChunks(spark, layer))
      assert(all.length == grid.x * grid.y * grid.z, name)
      for ((c, op) <- forms) {
        val ax = "xyz".indexOf(c.head) max "xyz".indexOf(c.last)
        // the axis' ends (the clamped last chunk ends at bounds max),
        // one past each, and three seeded values in between
        val (lo, hi) =
          if (c.head == 'g') (0L, grid.toArray(ax))
          else (bounds.minpt.toArray(ax), bounds.maxpt.toArray(ax))
        val values = (Seq(lo - 1, lo, hi - 1, hi, hi + 1) ++
          Seq.fill(3)(lo + rnd.nextInt((hi - lo).toInt))).distinct
        for (v <- values) {
          val (pred, test) = cmp(c, op, v)
          val df = PrecomputedIO.readChunks(spark, layer).filter(pred)
          val want = all.filter(r => test(r._1(keyCols.indexOf(c))))
          assertRows(chunkRows(df), want, s"$name: $c $op $v")
          assert(filters(df).isEmpty, s"$name: $c $op $v\n" +
            df.queryExecution.executedPlan)
          Neuroglancer.requirePushedFilters(df)
        }
      }
    }
  }

  test("seeded bbox-overlap conjunctions return the overlapping chunks " +
      "and the cutout's voxels") {
    val rnd = new scala.util.Random(11)
    def box(bounds: Bbox): Bbox = {
      def span(lo: Long, n: Long) = {
        val a = lo - 2 + rnd.nextInt((n + 3).toInt)
        (a, a + 1 + rnd.nextInt((n + 2).toInt))
      }
      val Seq((x0, x1), (y0, y1), (z0, z1)) = Seq(
        span(bounds.minpt.x, dims.x), span(bounds.minpt.y, dims.y),
        span(bounds.minpt.z, dims.z))
      Bbox(Vec3(x0, y0, z0), Vec3(x1, y1, z1))
    }
    for (Layer(name, layer, bounds, value, cutout) <- layers) {
      val boxes = Seq(Bbox(bounds.maxpt - Vec3(1, 1, 1), bounds.maxpt + Vec3(3, 3, 3)),
        bounds) ++ Seq.fill(6)(box(bounds))
      val all = chunkRows(PrecomputedIO.readChunks(spark, layer))
      for (b <- boxes) {
        val (lo, hi) = (b.minpt.toArray, b.maxpt.toArray)
        val df = PrecomputedIO.readChunks(spark, layer).filter(
          (0 until 3).map(a => col(s"${"xyz"(a)}1") > lo(a) &&
            col(s"${"xyz"(a)}0") < hi(a)).reduce(_ && _))
        val want = all.filter { case (k, _) => (0 until 3).forall(a =>
          k(6 + a) > lo(a) && k(3 + a) < hi(a)) }
        assertRows(chunkRows(df), want, s"$name $b")
        assert(filters(df).isEmpty, s"$name $b")
        val c = b.intersection(bounds)
        val expect = (for (z <- c.minpt.z until c.maxpt.z;
            y <- c.minpt.y until c.maxpt.y; x <- c.minpt.x until c.maxpt.x)
          yield (x, y, z, value(Vec3(x, y, z)))).toSet
        val vox = cutout(b).select("x", "y", "z", "label").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val same = vox.length == expect.size && vox.toSet == expect
        assert(same, s"$name cutout $b: ${vox.length} voxels, " +
          s"${expect.size} wanted, ${(expect -- vox).size} missing")
      }
    }
  }

  test("a FilterExec holds only the filters the scan did not accept") {
    for (Layer(name, layer, _, _, _) <- layers) {
      val all = chunkRows(PrecomputedIO.readChunks(spark, layer))
      val df = PrecomputedIO.readChunks(spark, layer)
        .filter(col("gx") >= 1 && col("x0") < 13 && length(col("payload")) > 0)
      val fs = filters(df)
      assert(fs.length == 1, s"$name\n${df.queryExecution.executedPlan}")
      assert(fs.head.condition.references.map(_.name).toSet == Set("payload"),
        s"$name: ${fs.head.condition}")
      val want = all.filter { case (k, p) => k(0) >= 1 && k(3) < 13 && p.nonEmpty }
      assert(want.nonEmpty, name)
      assertRows(chunkRows(df), want, name)
    }
  }

  test("only integral literals are accepted; a fractional one stays post-scan") {
    val layer = layers(0).path
    for (v <- Seq[Any](1.5, 1.5f, new java.math.BigDecimal("1.5"),
        Decimal(BigDecimal("1.5")))) {
      val b = new NgScanBuilder(ChunkLayout.open(layer, 0, fillMissing = false))
      val rest = b.pushFilters(Array(GreaterThan("gx", v), LessThan("x0", 13L)))
      assert(rest.toSeq == Seq(GreaterThan("gx", v)), s"$v")
      assert(b.pushedFilters().toSeq == Seq(LessThan("x0", 13L)), s"$v")
    }
    for (v <- Seq[Any](1.toByte, 1.toShort, 1, 1L)) {
      val b = new NgScanBuilder(ChunkLayout.open(layer, 0, fillMissing = false))
      assert(b.pushFilters(Array(GreaterThan("gx", v))).isEmpty, s"$v")
    }
    // a fractional comparison in a query, whatever form it reaches the
    // scan in, returns the rows of the Scala filter
    val all = chunkRows(PrecomputedIO.readChunks(spark, layer))
    val df = PrecomputedIO.readChunks(spark, layer).filter(col("gx") > 1.5)
    assertRows(chunkRows(df), all.filter(_._1(0) > 1.5), "gx > 1.5")
  }

  test("after one warm-up, a cutout or a chunk-key frame with new " +
      "literals compiles no code") {
    def compiles(run: => Any): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    for (Layer(name, layer, bounds, _, cutout) <- layers) {
      val cut = (b: Bbox) => cutout(b).collect()
      val origin = bounds.minpt
      cut(Bbox(origin + Vec3(1, 1, 1), origin + Vec3(6, 5, 4)))
      val b = Bbox(origin + Vec3(2, 3, 1), origin + Vec3(11, 9, 6))
      var rows: Array[org.apache.spark.sql.Row] = null
      assert(compiles { rows = cut(b) } == 0, s"$name cutout")
      assert(rows.length == b.volume, name)
      val frame = (g: Long) => PrecomputedIO.readChunks(spark, layer)
        .filter(col("gx") === g && col("y1") > bounds.minpt.y + g).collect()
      frame(1)
      assert(compiles(frame(2)) == 0, s"$name chunk frame")
    }
  }
}
