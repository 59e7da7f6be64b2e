package graft

import org.apache.spark.sql.SparkSession
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
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains(ContainsGateRule.GateName),
      s"gate missing from optimized plan:\n$plan")
    // the gate must sit BELOW the generate (gating chunk rows, not
    // voxel rows): it appears after the explode line in the plan tree
    val gateLine = plan.linesIterator.indexWhere(
      _.contains(ContainsGateRule.GateName))
    val genLine = plan.linesIterator.indexWhere(_.contains("Generate"))
    assert(genLine >= 0 && gateLine > genLine,
      s"gate not below Generate (gen=$genLine gate=$gateLine):\n$plan")

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
    val plan = df.queryExecution.optimizedPlan.toString
    val gateLine = plan.linesIterator.indexWhere(
      _.contains(ContainsGateRule.GateName))
    val genLine = plan.linesIterator.indexWhere(_.contains("Generate"))
    assert(genLine >= 0 && gateLine > genLine,
      s"gate not below Generate (gen=$genLine gate=$gateLine):\n$plan")
    assert(voxels(df) == want)
  }
}
