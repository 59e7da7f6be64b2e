package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.core._

/** Derived tables mapping the driver's TPC-H-ish testdata onto the
  * volumetric data model (SURVEY.md §1): lineitem rows become voxels of
  * a synthetic 64x64x32 volume with chunk size 16x16x8 (grid 4x4x4),
  * labels from part keys. Every derivation is mirrored verbatim in the
  * DuckDB oracle CTEs below so each operator is checkable.
  */
object Derived {
  // volume geometry (shared constants)
  val VolX = 64L; val VolY = 64L; val VolZ = 32L
  val CsX = 16L; val CsY = 16L; val CsZ = 8L
  val GridX = 4L; val GridY = 4L; val GridZ = 4L
  val volumeBounds: Bbox = Bbox(Vec3(0, 0, 0), Vec3(VolX, VolY, VolZ))
  val chunkSize: Vec3 = Vec3(CsX, CsY, CsZ)

  /** Floor division for non-negative small ints (exact under double). */
  def idiv(c: Column, n: Long): Column = floor(c / lit(n)).cast("long")

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.ts normalized to epoch MICROS (long), across testdata
    * drops: INT64-nanos files surface as LongType (via the sessions'
    * legacy nanosAsLong conf) while TIMESTAMP(us) files surface as a
    * (NTZ) timestamp. Session tz is pinned to UTC, so the naive
    * timestamp cast preserves the exact wall-clock epoch that DuckDB's
    * `epoch_ns(ts) // 1000` computes on the same file. Integral ops
    * only — long `/` is double-backed and epoch nanos exceed 2^53.
    */
  def tsMicros(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** Voxel table: one row per lineitem; position + uint label + value
    * in integer cents (exact across engines).
    */
  def voxels(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").select(
      (col("l_orderkey") % 64).cast("long").as("x"),
      (col("l_partkey") % 64).cast("long").as("y"),
      (col("l_suppkey") % 32).cast("long").as("z"),
      (col("l_partkey") % 1000).cast("long").as("label"),
      round(col("l_quantity") * 100).cast("long").as("v"))

  val VoxelsCte: String =
    """voxels AS (
      |  SELECT l_orderkey % 64 AS x, l_partkey % 64 AS y,
      |         l_suppkey % 32 AS z, l_partkey % 1000 AS label,
      |         CAST(round(l_quantity * 100) AS BIGINT) AS v
      |  FROM lineitem)""".stripMargin

  /** Voxels with chunk-grid coordinates attached. */
  def voxelChunks(s: SparkSession, dir: String): DataFrame =
    voxels(s, dir)
      .withColumn("gx", idiv(col("x"), CsX))
      .withColumn("gy", idiv(col("y"), CsY))
      .withColumn("gz", idiv(col("z"), CsZ))

  val VoxelChunksCte: String = VoxelsCte +
    """,
      |vchunks AS (
      |  SELECT *, x // 16 AS gx, y // 16 AS gy, z // 8 AS gz FROM voxels)""".stripMargin

  /** Request bboxes derived from orders rows (12-ish per thousand). */
  def boxes(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(col("o_orderkey") % 997 < 12)
      .select(
        col("o_orderkey").as("id"),
        (col("o_orderkey") % 40).cast("long").as("x0"),
        (col("o_custkey") % 40).cast("long").as("y0"),
        (col("o_orderkey") % 24).cast("long").as("z0"),
        (col("o_orderkey") % 40 + 1 + col("o_custkey") % 24).cast("long").as("x1"),
        (col("o_custkey") % 40 + 1 + col("o_orderkey") % 20).cast("long").as("y1"),
        (col("o_orderkey") % 24 + 1 + col("o_custkey") % 8).cast("long").as("z1"))

  val BoxesCte: String =
    """boxes AS (
      |  SELECT o_orderkey AS id,
      |         o_orderkey % 40 AS x0, o_custkey % 40 AS y0, o_orderkey % 24 AS z0,
      |         o_orderkey % 40 + 1 + o_custkey % 24 AS x1,
      |         o_custkey % 40 + 1 + o_orderkey % 20 AS y1,
      |         o_orderkey % 24 + 1 + o_custkey % 8 AS z1
      |  FROM orders WHERE o_orderkey % 997 < 12)""".stripMargin

  // ---- UDFs wrapping the pure core library (graft.core) ----

  val mortonUdf = udf((gx: Long, gy: Long, gz: Long, nx: Long, ny: Long, nz: Long) =>
    Morton.encode(Vec3(gx, gy, gz), Vec3(nx, ny, nz)))

  val gridpointsUdf = udf(
    (x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long) =>
      Geom.gridpoints(Bbox(Vec3(x0, y0, z0), Vec3(x1, y1, z1)),
          volumeBounds, chunkSize)
        .map(g => (g.x, g.y, g.z)))

  val chunkNameUdf = udf((gx: Long, gy: Long, gz: Long) =>
    Geom.chunkBbox(Vec3(gx, gy, gz), volumeBounds, chunkSize).toFilename)

  val expandUdf = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long) => {
    val b = Bbox(Vec3(x0, y0, z0), Vec3(x1, y1, z1)).expandToChunkSize(chunkSize)
    (b.minpt.x, b.minpt.y, b.minpt.z, b.maxpt.x, b.maxpt.y, b.maxpt.z)
  })

  val shrinkUdf = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long) => {
    val b = Bbox(Vec3(x0, y0, z0), Vec3(x1, y1, z1)).shrinkToChunkSize(chunkSize)
    (b.minpt.x, b.minpt.y, b.minpt.z, b.maxpt.x, b.maxpt.y, b.maxpt.z)
  })

  val mipUdf = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long) => {
    val b = Geom.bboxToMip(Bbox(Vec3(x0, y0, z0), Vec3(x1, y1, z1)),
      Seq(Vec3(2, 2, 1), Vec3(2, 2, 1), Vec3(2, 2, 2)))
    (b.minpt.x, b.minpt.y, b.minpt.z, b.maxpt.x, b.maxpt.y, b.maxpt.z)
  })

  val grapheneSpec: GrapheneLabelSpec =
    GrapheneLabelSpec(layerBits = 8, spatialBitCount = _ => 10)

  val grapheneEncodeUdf = udf((layer: Int, x: Long, y: Long, z: Long, segid: Long) =>
    grapheneSpec.encode(layer, x, y, z, segid))

  val grapheneDecodeUdf = udf((label: Long) => grapheneSpec.decode(label))

  // Column-level graphene label codec — the same bit layout as
  // grapheneSpec (layer 8 bits, 10 spatial bits/axis, 26 segid bits)
  // as pure Catalyst arithmetic, so the iterative frontier joins
  // (j5/j6 families) never break their whole-stage-codegen span on a
  // ScalaUDF eval boundary. f9 deliberately keeps the kernel UDF:
  // there GrapheneLabelSpec itself is the operator under test, and
  // its oracle pins this arithmetic against the kernel's. Unlike the
  // kernel's encode() these don't range-check x/y/z — callers derive
  // them mod-bounded (an out-of-range coordinate would bleed into the
  // layer bits, which f9's UDF/oracle pairing would catch).
  private val GCt = grapheneSpec.spatialBitCount(0) // constant per spec
  private val GSb = 64 - grapheneSpec.layerBits - 3 * GCt

  def grapheneEncodeCol(layer: Column, x: Column, y: Column, z: Column,
      segid: Column): Column =
    shiftleft(layer.cast("long"), 64 - grapheneSpec.layerBits)
      .bitwiseOR(shiftleft(x, GSb + 2 * GCt))
      .bitwiseOR(shiftleft(y, GSb + GCt))
      .bitwiseOR(shiftleft(z, GSb))
      .bitwiseOR(segid.bitwiseAND(lit((1L << GSb) - 1)))

  def grapheneDecodeCol(label: Column): Column = {
    val mask = (1L << GCt) - 1L
    struct(
      shiftrightunsigned(label, 64 - grapheneSpec.layerBits).as("_1"),
      shiftrightunsigned(label, GSb + 2 * GCt).bitwiseAND(lit(mask)).as("_2"),
      shiftrightunsigned(label, GSb + GCt).bitwiseAND(lit(mask)).as("_3"),
      shiftrightunsigned(label, GSb).bitwiseAND(lit(mask)).as("_4"),
      label.bitwiseAND(lit((1L << GSb) - 1)).as("_5"))
  }

  val parseFilenameUdf = udf((name: String) => {
    val b = Bbox.fromFilename(name)
    (b.minpt.x, b.minpt.y, b.minpt.z, b.maxpt.x, b.maxpt.y, b.maxpt.z)
  })
}
