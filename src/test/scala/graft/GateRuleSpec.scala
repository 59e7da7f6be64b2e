package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Bbox, Codec, ScaleMeta, Vec3, VolumeMeta}
import graft.functions.{ContainsGateRule, DecodeVoxelsStrategy}
import graft.ops.RealLayerQueries
import graft.sources.PrecomputedIO

/** ContainsGateRule: the optimizer rule that rewrites
  * `cutout.filter(label === K)` to probe each encoded payload with a
  * codec contains() gate before decode. Every cutout's decode stage
  * adds it to its session, so each "rule off" reference runs in a
  * session that excludes it by name and is checked to carry no gate.
  * Asserts (a) results are byte-identical with the rule on and off,
  * (b) the gate actually lands in the optimized plan, (c) a no-match
  * label returns empty through the gated plan, (d) non-equality
  * filters are untouched, (e) a missing chunk read with fill_missing
  * gates as its background, (f) concurrent first cutouts install the
  * rule and the decode strategy once each.
  */
class GateRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  /** `spark`'s context with the gate rule excluded. */
  private var off: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    RealLayerQueries.ensure(spark, sfDir)
    off = spark.newSession()
    off.conf.set("spark.sql.optimizer.excludedRules",
      "graft.functions.ContainsGateRule")
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

  private def voxels(df: DataFrame) = GridFixtures.rows(df).toSet

  /** The rows of `cut` in the session without the rule, whose
    * optimized plan must hold no gate. */
  private def ungated(name: String, cut: SparkSession => DataFrame) = {
    val df = cut(off)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains(ContainsGateRule.GateName),
      s"$name: gate in the rule-off reference:\n$plan")
    voxels(df)
  }

  private val csegVolume = Bbox(Vec3(0, 0, 0),
    Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ))

  private def cutoutFiltered(label: Long, s: SparkSession = spark) =
    PrecomputedIO.cutoutVoxels(s, RealLayerQueries.LayerCsegDir, csegVolume)
      .filter(col("label") === label)

  test("gate injects below the decode and preserves results") {
    val without = ungated("cseg", cutoutFiltered(7L, _))
    assert(without.nonEmpty, "label 7 must exist in the fixture")

    val df = cutoutFiltered(7L)
    // the gate must sit BELOW the generate (gating chunk rows, not
    // voxel rows)
    assertGateBelowGenerate("cseg", df)

    assert(voxels(df) == without)
  }

  test("no-match label returns empty through the gated plan") {
    val df = cutoutFiltered(999999L)
    assertGateBelowGenerate("no-match", df)
    assert(df.count() == 0)
  }

  test("IN-list filters gate on any-of membership") {
    def cut(s: SparkSession) =
      PrecomputedIO.cutoutVoxels(s, RealLayerQueries.LayerCsegDir, csegVolume)
        .filter(col("label").isin(7L, 9L, 999999L))
    val without = ungated("IN-list", cut)
    val df = cut(spark)
    assert(df.queryExecution.optimizedPlan.toString
      .contains(ContainsGateRule.GateName))
    val withRule = voxels(df)
    assert(withRule == without && withRule.nonEmpty)
  }

  test("non-equality filters are left untouched") {
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
    def filtered(s: SparkSession) = PrecomputedIO.cutoutVoxels(s, dir, box,
        fillMissing = true, background = 42L)
      .filter(col("label") === 42L)
    val want = (for (z <- 4L to 6L; y <- 1L to 3L; x <- 4L to 6L)
      yield (x, y, z, 42L)).toSet

    assert(ungated("fill_missing", filtered) == want)

    val df = filtered(spark)
    assertGateBelowGenerate("fill_missing", df)
    assert(voxels(df) == want)
  }

  test("grid cutouts gate like precomputed: zarr2, sharded zarr3, N5 " +
      "fill_missing and the chunk table") {
    import graft.ops.{ChunkEngine, Derived}
    import graft.sources.{N5IO, Zarr2IO, Zarr3IO}
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
    val tableRows = for (gz <- 0L to 1L; gy <- 0L to 1L; gx <- 0L to 1L
        if (gx, gy, gz) != ((0L, 1L, 0L))) yield (gx, gy, gz,
      Codec.encodeRawFromLongs(Array.tabulate(
        (Derived.CsX * Derived.CsY * Derived.CsZ).toInt)(i =>
          palette((i + gx + gy + gz).toInt % palette.length)), 8))
    def table(s: SparkSession) = {
      import s.implicits._
      tableRows.toDF("gx", "gy", "gz", "payload")
    }
    val box = Bbox(Vec3(1, 2, 1), Vec3(12, 9, 7))
    // (name, cutout, the value its absent blocks read as, its rows if
    // known)
    type Rows = Set[(Long, Long, Long, Long)]
    val cutouts: Seq[(String, SparkSession => DataFrame, Long, Option[Rows])] = Seq(
      ("zarr2", s => Zarr2IO.cutoutVoxels(s, fx.zarr2C, box), fill,
        Some(fx.expect(box))),
      ("zarr3 sharded", s => Zarr3IO.cutoutVoxels(s, fx.zarr3Sharded, box),
        fill, Some(fx.expect(box))),
      ("n5 fill_missing", s => N5IO.cutoutVoxels(s, fx.n5, box,
        fillMissing = true), 0L, Some(fx.expect(box, absentAs = 0L))),
      ("chunk table", s => ChunkEngine.cutoutVoxels(table(s),
        Bbox(Vec3(3, 5, 2), Vec3(29, 27, 13))), 0L, None))
    for ((name, cut, bg, want) <- cutouts) {
      val filters = Seq(col("label") === 2L, col("label") === big,
        col("label") === bg, col("label") === 999L,
        col("label").isin(1L, big, 999L))
      val without = filters.map(f => ungated(s"$name $f", s => cut(s).filter(f)))
      // the absent blocks read as bg, so `label = bg` must return them
      val all = voxels(cut(spark))
      want.foreach(w => assert(all == w, name))
      assert(without(2) == all.filter(_._4 == bg) && without(2).nonEmpty,
        s"$name: label = background")
      assert(without(1).nonEmpty, s"$name: the top-bit label")

      for ((f, ref) <- filters.zip(without)) {
        val df = cut(spark).filter(f)
        assertGateBelowGenerate(s"$name $f", df)
        assert(voxels(df) == ref, s"$name $f: rows differ with the rule on")
      }
    }
    // the word width the grid readers emit
    assert(Codec.rawContains(Codec.encodeRawFromLongs(Array(1L, big), 8), 8, big))
  }

  test("with the decode strategy installed, label === K still gates below " +
      "the decode and returns the same rows") {
    // every session installs the strategy now: a fresh one, with
    // neither GraftFunctions.register nor the extension, against the
    // rule-off reference; under the filter the decode plans Spark's
    // GenerateExec, since only a collected root plans the node
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
    val fresh = spark.newSession()
    for ((name, cut) <- cases) {
      val want = ungated(name, cut)
      val df = cut(fresh)
      assertGateBelowGenerate(name, df)
      assert(df.queryExecution.executedPlan.collectFirst {
        case d: DecodeVoxelsExec => d }.isEmpty, s"$name: DecodeVoxelsExec under a filter")
      assert(voxels(df) == want, s"$name: rows differ")
    }
  }

  test("concurrent first cutouts in a fresh session install the decode " +
      "strategy and the gate rule once each, and return the serial rows") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    import graft.functions.DecodeVoxels
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    /** `body` on `threads` threads at once, each after its own `prep`
      * and a shared barrier. */
    def race[P, T](prep: => P)(body: P => T): Seq[T] = {
      val start = new CyclicBarrier(threads)
      (1 to threads).map(_ => pool.submit(new Callable[T] {
        def call(): T = { val p = prep; start.await(); body(p) }
      })).map(_.get(5, TimeUnit.MINUTES))
    }
    def assertOnce(s: SparkSession, what: String): Unit = {
      val x = s.experimental
      assert(x.extraStrategies.count(_ == DecodeVoxelsStrategy) == 1,
        s"$what: ${x.extraStrategies}")
      assert(x.extraOptimizations.count(_ == ContainsGateRule) == 1,
        s"$what: ${x.extraOptimizations}")
    }
    try {
      val serial = GridFixtures.rows(cutoutFiltered(7L))
      assert(serial.nonEmpty)
      val fresh = spark.newSession()
      val runs = race(())(_ => GridFixtures.rows(cutoutFiltered(7L, fresh)))
      assertOnce(fresh, "collected cutouts")
      runs.zipWithIndex.foreach { case (rows, i) =>
        assert(rows == serial, s"thread $i: rows differ from the serial run")
      }
      // threads that meet right before their first stage call install
      // at the same moment far more often than whole cutouts do
      for (round <- 1 to 50) {
        val s = spark.newSession()
        race {
          import s.implicits._
          Seq((0L, 0L, 0L, 1L, 1L, 1L, Array[Byte](7)))
            .toDF("x0", "y0", "z0", "x1", "y1", "z1", "payload")
        } { chunks => DecodeVoxels.stage(chunks, DecodeVoxels(
          DecodeVoxels.chunkCols, "raw", 1, Bbox(Vec3(0, 0, 0), Vec3(1, 1, 1))))
        }
        assertOnce(s, s"round $round")
      }
    } finally pool.shutdownNow()
  }
}
