package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Bbox, Codec, ScaleMeta, Vec3, VolumeMeta}
import graft.functions.ContainsGateRule
import graft.ops.RealLayerQueries
import graft.sources.PrecomputedIO

/** ContainsGateRule: the optimizer rule that rewrites
  * `cutout.filter(label === K)` to probe each encoded payload with a
  * codec contains() gate before decode. Asserts (a) results are
  * byte-identical with the rule on and off, (b) the gate actually
  * lands in the optimized plan, (c) a no-match label returns empty
  * through the gated plan, (d) non-equality filters are untouched,
  * (e) a missing chunk read with fill_missing gates as its background.
  */
class GateRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    RealLayerQueries.ensure(spark, sfDir)
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  /** The gate sits below the decode Generate in `df`'s optimized plan. */
  private def assertGateBelowGenerate(name: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan.toString
    val gateLine = plan.linesIterator.indexWhere(
      _.contains(ContainsGateRule.GateName))
    val genLine = plan.linesIterator.indexWhere(_.contains("Generate"))
    assert(genLine >= 0 && gateLine > genLine,
      s"$name: gate not below Generate (gen=$genLine gate=$gateLine):\n$plan")
  }

  private def cutoutFiltered(label: Long) =
    PrecomputedIO.cutoutVoxels(spark, RealLayerQueries.LayerCsegDir,
        Bbox(Vec3(0, 0, 0),
          Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ)))
      .filter(col("label") === label)

  test("gate injects below the decode and preserves results") {
    val without = cutoutFiltered(7L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(without.nonEmpty, "label 7 must exist in the fixture")

    ContainsGateRule.install(spark)
    val df = cutoutFiltered(7L)
    // the gate must sit BELOW the generate (gating chunk rows, not
    // voxel rows)
    assertGateBelowGenerate("cseg", df)

    val withRule = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(withRule == without)
  }

  test("no-match label returns empty through the gated plan") {
    ContainsGateRule.install(spark)
    assert(cutoutFiltered(999999L).count() == 0)
  }

  test("IN-list filters gate on any-of membership") {
    val base = PrecomputedIO.cutoutVoxels(spark, RealLayerQueries.LayerCsegDir,
      Bbox(Vec3(0, 0, 0),
        Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ)))
    val without = base.filter(col("label").isin(7L, 9L, 999999L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    ContainsGateRule.install(spark)
    val df = base.filter(col("label").isin(7L, 9L, 999999L))
    assert(df.queryExecution.optimizedPlan.toString
      .contains(ContainsGateRule.GateName))
    val withRule = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(withRule == without && withRule.nonEmpty)
  }

  test("non-equality filters are left untouched") {
    ContainsGateRule.install(spark)
    val df = PrecomputedIO.cutoutVoxels(spark, RealLayerQueries.LayerCsegDir,
        Bbox(Vec3(0, 0, 0), Vec3(16, 16, 8)))
      .filter(col("label") > 3L)
    assert(!df.queryExecution.optimizedPlan.toString
      .contains(ContainsGateRule.GateName))
    assert(df.count() > 0)
  }

  test("fill_missing: a missing chunk gates as its background value") {
    val dir = java.nio.file.Files.createTempDirectory("gate_fill").toString
    val meta = VolumeMeta(layerType = "segmentation", dataType = "uint32",
      numChannels = 1, scales = Seq(ScaleMeta(key = "1_1_1",
        encoding = "raw", resolution = Seq(1, 1, 1), chunkSize = Vec3(4, 4, 4),
        size = Vec3(8, 8, 8), voxelOffset = Vec3(0, 0, 0))))
    PrecomputedIO.writeInfo(dir, meta)
    val s = spark
    import s.implicits._
    // stored labels are 1..5; the background K = 42 is in no object
    val rows = for (gz <- 0L to 1L; gy <- 0L to 1L; gx <- 0L to 1L) yield
      (gx, gy, gz, Codec.encodeRawFromLongs(
        Array.tabulate(64)(i => (i + gx + 2 * gy + 4 * gz) % 5 + 1), 4))
    PrecomputedIO.writeChunks(rows.toDF("gx", "gy", "gz", "payload"), dir,
      meta, 0, compress = Some(false))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "1_1_1", "4-8_0-4_4-8"))
    val box = Bbox(Vec3(1, 1, 1), Vec3(7, 7, 7))
    def filtered = PrecomputedIO.cutoutVoxels(spark, dir, box,
        fillMissing = true, background = 42L)
      .filter(col("label") === 42L)
    def voxels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = (for (z <- 4L to 6L; y <- 1L to 3L; x <- 4L to 6L)
      yield (x, y, z, 42L)).toSet

    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules.filterNot(_ == ContainsGateRule)
    try assert(voxels(filtered) == want)
    finally spark.experimental.extraOptimizations = rules

    ContainsGateRule.install(spark)
    val df = filtered
    assertGateBelowGenerate("fill_missing", df)
    assert(voxels(df) == want)
  }

  test("grid cutouts gate like precomputed: zarr2, sharded zarr3, N5 " +
      "fill_missing and the chunk table") {
    import graft.ops.{ChunkEngine, Derived}
    import graft.sources.{N5IO, Zarr2IO, Zarr3IO}
    val s = spark
    import s.implicits._
    val big = java.lang.Long.parseUnsignedLong("9223372036854775813") // 2^63+5
    val fill = 5L
    // uint64 words, a top-bit label among the stored ones; shard
    // (1, 1, 0) is absent whole and block (0, 0, 1) is a Missing slot
    val palette = Array(1L, 2L, 3L, fill, big)
    val absent = Set(Vec3(2, 2, 0), Vec3(3, 2, 0), Vec3(2, 2, 1),
      Vec3(3, 2, 1), Vec3(0, 0, 1))
    val fx = new GridFixtures(spark,
      java.nio.file.Files.createTempDirectory("gate_grid").toString,
      Vec3(13, 9, 7), Vec3(4, 4, 4), 8, fill, absent,
      p => palette(((p.x * 5 + p.y * 3 + p.z * 2) % palette.length).toInt))
    fx.dropAbsentN5Blocks()
    val table = (for (gz <- 0L to 1L; gy <- 0L to 1L; gx <- 0L to 1L
        if (gx, gy, gz) != ((0L, 1L, 0L))) yield (gx, gy, gz,
      Codec.encodeRawFromLongs(Array.tabulate(
        (Derived.CsX * Derived.CsY * Derived.CsZ).toInt)(i =>
          palette((i + gx + gy + gz).toInt % palette.length)), 8)))
      .toDF("gx", "gy", "gz", "payload")
    val box = Bbox(Vec3(1, 2, 1), Vec3(12, 9, 7))
    // (name, cutout, the value its absent blocks read as, its rows if
    // known)
    type Rows = Set[(Long, Long, Long, Long)]
    val cutouts: Seq[(String, () => DataFrame, Long, Option[Rows])] = Seq(
      ("zarr2", () => Zarr2IO.cutoutVoxels(spark, fx.zarr2C, box), fill,
        Some(fx.expect(box))),
      ("zarr3 sharded", () => Zarr3IO.cutoutVoxels(spark, fx.zarr3Sharded, box),
        fill, Some(fx.expect(box))),
      ("n5 fill_missing", () => N5IO.cutoutVoxels(spark, fx.n5, box,
        fillMissing = true), 0L, Some(fx.expect(box, absentAs = 0L))),
      ("chunk table", () => ChunkEngine.cutoutVoxels(table,
        Bbox(Vec3(3, 5, 2), Vec3(29, 27, 13))), 0L, None))
    def tuples(df: DataFrame) = GridFixtures.rows(df).toSet
    for ((name, cut, bg, want) <- cutouts) {
      val filters = Seq(col("label") === 2L, col("label") === big,
        col("label") === bg, col("label") === 999L,
        col("label").isin(1L, big, 999L))
      val rules = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = rules.filterNot(_ == ContainsGateRule)
      val without =
        try filters.map(f => tuples(cut().filter(f)))
        finally spark.experimental.extraOptimizations = rules
      // the absent blocks read as bg, so `label = bg` must return them
      val all = tuples(cut())
      want.foreach(w => assert(all == w, name))
      assert(without(2) == all.filter(_._4 == bg) && without(2).nonEmpty,
        s"$name: label = background")
      assert(without(1).nonEmpty, s"$name: the top-bit label")

      ContainsGateRule.install(spark)
      for ((f, off) <- filters.zip(without)) {
        val df = cut().filter(f)
        assertGateBelowGenerate(s"$name $f", df)
        assert(tuples(df) == off, s"$name $f: rows differ with the rule on")
      }
    }
    // the word width the grid readers emit
    assert(Codec.rawContains(Codec.encodeRawFromLongs(Array(1L, big), 8), 8, big))
  }

  test("with the decode strategy installed, label === K still gates below " +
      "the decode and returns the same rows") {
    import graft.sources.Zarr2IO
    import org.apache.spark.sql.graftshim.DecodeVoxelsExec
    val big = java.lang.Long.parseUnsignedLong("9223372036854775813") // 2^63+5
    val palette = Array(1L, 2L, 5L, big)
    val fx = new GridFixtures(spark,
      java.nio.file.Files.createTempDirectory("gate_strategy").toString,
      Vec3(13, 9, 7), Vec3(4, 4, 4), 8, 5L, Set(Vec3(1, 1, 0)),
      p => palette(((p.x * 5 + p.y * 3 + p.z * 2) % palette.length).toInt))
    val box = Bbox(Vec3(1, 2, 1), Vec3(12, 9, 7))
    val full = Bbox(Vec3(0, 0, 0),
      Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ))
    val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
      "cseg label 7" -> (s => PrecomputedIO.cutoutVoxels(s,
        RealLayerQueries.LayerCsegDir, full).filter(col("label") === 7L)),
      "cseg no-match" -> (s => PrecomputedIO.cutoutVoxels(s,
        RealLayerQueries.LayerCsegDir, full).filter(col("label") === 999999L)),
      "zarr2 top-bit" -> (s => Zarr2IO.cutoutVoxels(s, fx.zarr2C, box)
        .filter(col("label") === big)),
      "zarr2 fill" -> (s => Zarr2IO.cutoutVoxels(s, fx.zarr2C, box)
        .filter(col("label") === 5L)))
    val plain = spark.newSession()
    ContainsGateRule.install(plain)
    val withStrategy = spark.newSession()
    ContainsGateRule.install(withStrategy)
    graft.functions.GraftFunctions.register(withStrategy)
    for ((name, cut) <- cases) {
      val want = GridFixtures.rows(cut(plain))
      val df = cut(withStrategy)
      assertGateBelowGenerate(name, df)
      assert(df.queryExecution.executedPlan.collectFirst {
        case d: DecodeVoxelsExec => d }.isDefined, s"$name: no DecodeVoxelsExec")
      assert(GridFixtures.rows(df) == want, s"$name: rows differ")
    }
  }
}
