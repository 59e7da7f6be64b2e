package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.sources.{N5IO, PrecomputedIO, Zarr3IO}

/** Differential spec of every format's missing-chunk rule, each read
  * through the one `neuroglancer` chunk scan over one unaligned volume
  * ([[GridFixtures]], 13x11x7 in 4x4x3 blocks, fill value 3) whose
  * blocks (0, 1, 0), (2, 2, 2) and (3, 2, 2) are absent:
  *  - precomputed unsharded: the read raises, or under `fill_missing`
  *    the chunk is a null payload read as the background;
  *  - precomputed sharded: an absent chunk gives no row (cloud-volume
  *    raises EmptyVolumeException or fills instead);
  *  - zarr2, OME-zarr2, zarr3: an absent key is a null payload read as
  *    fill_value; sharded zarr3 likewise for an absent shard object
  *    (blocks (2, 2, 2) and (3, 2, 2) are all of shard (1, 1, 1)) and a
  *    Missing index slot (block (0, 1, 0));
  *  - N5: the read raises `missing N5 block`, or under `fillMissing`
  *    the block is a null payload on its clamped cell read as 0.
  */
class MissingChunkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var fx: GridFixtures = _
  private val dir = Files.createTempDirectory("missing_chunk_spec").toString
  private val absent = Set(Vec3(0, 1, 0), Vec3(2, 2, 2), Vec3(3, 2, 2))
  private val box = Bbox(Vec3(1, 2, 1), Vec3(12, 11, 7))
  /** The cell of block (0, 1, 0) alone. */
  private val firstAbsent = Bbox(Vec3(0, 4, 0), Vec3(4, 8, 3))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new java.util.Random(12)
    val palette = Array.fill(7)(r.nextLong() & 0xffffffffL)
    fx = new GridFixtures(spark, dir, Vec3(13, 11, 7), Vec3(4, 4, 3), 4, 3L,
      absent, p => palette(((p.x * 5 + p.y * 3 + p.z) % palette.length).toInt))
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def grid: Set[Vec3] = Geom.gridpoints(fx.bounds, fx.bounds, fx.block).toSet

  /** The scan's rows of the grid at `path`: grid point -> (chunk bbox,
    * payload). */
  private def scanRows(path: String, fillMissing: Boolean = false)
      : Map[Vec3, (Bbox, Array[Byte])] =
    PrecomputedIO.readChunks(spark, path, fillMissing = fillMissing)
      .select("gx", "gy", "gz", "x0", "y0", "z0", "x1", "y1", "z1", "payload")
      .collect().map { r =>
        Vec3(r.getLong(0), r.getLong(1), r.getLong(2)) ->
          (Bbox(Vec3(r.getLong(3), r.getLong(4), r.getLong(5)),
            Vec3(r.getLong(6), r.getLong(7), r.getLong(8))), r.getAs[Array[Byte]](9))
      }.toMap

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** `run` fails with a `T` whose message holds `text`. */
  private def raises[T <: Throwable](text: String)(run: => Any)(
      implicit ct: scala.reflect.ClassTag[T]): Unit = {
    val e = intercept[Exception](run)
    assert(causes(e).exists(c => ct.runtimeClass.isInstance(c) &&
      c.getMessage != null && c.getMessage.contains(text)),
      causes(e).map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" | "))
  }

  test("zarr2, OME-zarr2 and zarr3: an absent key, an absent zarr3 shard " +
      "and a Missing slot are null payloads read as fill_value") {
    val sharded = Paths.get(fx.zarr3Sharded, "c")
    assert(!Files.exists(sharded.resolve("1/1/1")), "shard (1, 1, 1) was written")
    val idx = Zarr3IO.readShardIndex(sharded.resolve("0/0/0"),
      Zarr3IO.readMeta(fx.zarr3Sharded))
    // inner (0, 1, 0) of a 2x2x2 shard: C-order slot (0 * 2 + 1) * 2 + 0
    assert(idx(2)._1 == -1L, "block (0, 1, 0) is not a Missing slot")
    for (name <- Seq("zarr2 C", "zarr2 F", "ome-zarr2", "zarr3", "zarr3 sharded")) {
      val rows = scanRows(fx.dirs(name))
      assert(rows.keySet == grid, s"$name: every chunk yields a row")
      assert(rows.filter(_._2._2 == null).keySet == absent, s"$name: null payloads")
      val cut = GridFixtures.rows(fx.cutouts.toMap.apply(name)(box))
      assert(cut.length == fx.expect(box).size && cut.toSet == fx.expect(box),
        s"$name: absent blocks read as fill_value")
    }
  }

  test("precomputed unsharded: an absent chunk raises, or is a null " +
      "payload read as the background under fill_missing") {
    raises[java.io.FileNotFoundException]("missing chunk 0-4_4-8_0-3")(
      PrecomputedIO.cutoutVoxels(spark, fx.precomputed, firstAbsent).collect())
    val rows = scanRows(fx.precomputed, fillMissing = true)
    assert(rows.keySet == grid)
    assert(rows.filter(_._2._2 == null).keySet == absent)
    for (bg <- Seq(3L, 0L)) {
      val cut = GridFixtures.rows(PrecomputedIO.cutoutVoxels(spark, fx.precomputed,
        box, fillMissing = true, background = bg))
      assert(cut.toSet == fx.expect(box, absentAs = bg), s"background $bg")
    }
  }

  test("precomputed sharded: an absent chunk gives no row, with or " +
      "without fill_missing") {
    val path = fx.precomputedSharded
    val stored = fx.expect(box).filterNot { case (x, y, z, _) =>
      absent(Vec3(x / 4, y / 4, z / 3)) }
    for (fill <- Seq(false, true)) {
      assert(scanRows(path, fill).keySet == grid -- absent, s"fill_missing=$fill")
      val cut = GridFixtures.rows(PrecomputedIO.cutoutVoxels(spark, path, box,
        fillMissing = fill))
      assert(cut.length == stored.size && cut.toSet == stored, s"fill_missing=$fill")
    }
  }

  test("N5: an absent block raises `missing N5 block`, or is a null " +
      "payload on its clamped cell read as 0 under fillMissing") {
    fx.dropAbsentN5Blocks()
    raises[NoSuchElementException]("missing N5 block (0,1,0) in ")(
      N5IO.cutoutVoxels(spark, fx.n5, firstAbsent).collect())
    val rows = scanRows(fx.n5, fillMissing = true)
    assert(rows.keySet == grid)
    assert(rows.filter(_._2._2 == null).keySet == absent)
    assert(rows(Vec3(3, 2, 2))._1 == Bbox(Vec3(12, 8, 6), Vec3(13, 11, 7)),
      "an absent edge block keeps its clamped cell")
    val cut = GridFixtures.rows(N5IO.cutoutVoxels(spark, fx.n5, box, fillMissing = true))
    assert(cut.toSet == fx.expect(box, absentAs = 0L))
  }

  test("the stream and the sink refuse a layer that is not precomputed") {
    raises[IllegalArgumentException]("not a precomputed layer") {
      val q = spark.readStream.format("neuroglancer").option("path", fx.zarr3)
        .load().select("gx", "gy", "gz")
        .writeStream.format("memory").queryName("missing_chunk_zarr3_stream")
        .option("checkpointLocation", s"$dir/ckpt_zarr3")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val chunks: DataFrame = PrecomputedIO.readChunks(spark, fx.zarr3)
      .where(col("payload").isNotNull)
    raises[IllegalArgumentException]("no precomputed info")(
      chunks.write.format("neuroglancer").mode("append").save(fx.zarr2C))
  }
}
