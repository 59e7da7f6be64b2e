package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.sources.{ChunkLayout, PrecomputedIO, Zarr3IO}

/** The one chunk sink ([[ChunkLayout.write]]), the scan run backwards,
  * on every grid format of one unaligned volume ([[GridFixtures]],
  * 13x11x7 in 4x4x3 blocks, fill value 3, blocks (0, 1, 0), (2, 2, 2)
  * and (3, 2, 2) absent) as its forwarders write it: the objects
  * written are exactly those the stored grid points name, a cutout
  * reads the volume back, a scan's rows written through the sink
  * reproduce every object byte for byte, and the elision rules hold.
  */
class ChunkSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var fx: GridFixtures = _
  private val dir = Files.createTempDirectory("chunk_sink_spec").toString
  private val absent = Set(Vec3(0, 1, 0), Vec3(2, 2, 2), Vec3(3, 2, 2))
  private val box = Bbox(Vec3(1, 2, 1), Vec3(12, 11, 7))
  /** Metadata objects, which the chunk sink does not write. */
  private val metaNames =
    Set("info", ".zarray", ".zattrs", "zarr.json", "attributes.json")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new java.util.Random(13)
    val palette = Array.fill(7)(r.nextLong() & 0xffffffffL)
    fx = new GridFixtures(spark, dir, Vec3(13, 11, 7), Vec3(4, 4, 3), 4, 3L,
      absent, p => palette(((p.x * 5 + p.y * 3 + p.z) % palette.length).toInt))
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def grid: Seq[Vec3] = Geom.gridpoints(fx.bounds, fx.bounds, fx.block)

  /** Every format's layout (precomputed absent chunks read as the fill)
    * and the grid points whose chunks it stores. N5 stores every block. */
  private def formats: Seq[(String, ChunkLayout, Seq[Vec3])] = {
    def pre(path: String) = ChunkLayout.precomputed(path,
      PrecomputedIO.readInfo(path), 0, fillMissing = true, background = fx.fill)
    val stored = grid.filterNot(absent)
    Seq(("precomputed", pre(fx.precomputed), stored),
      ("precomputed sharded", pre(fx.precomputedSharded), stored),
      ("n5", ChunkLayout.open(fx.n5, 0, fillMissing = false), grid)) ++
      Seq("zarr2 C", "zarr2 F", "ome-zarr2", "zarr3", "zarr3 sharded").map(name =>
        (name, ChunkLayout.open(fx.dirs(name), 0, fillMissing = false), stored))
  }

  /** The second-stage suffix of a layout's objects: precomputed raw
    * chunks are gzipped. */
  private def suffix(l: ChunkLayout): String =
    if (l.keys == ChunkLayout.Keys.BboxName && l.shards == ChunkLayout.Shards.Unsharded)
      ".gz" else ""

  /** Every file under `root` but the metadata objects, relative to it. */
  private def files(root: String): Set[String] = {
    val base = Paths.get(root)
    Files.walk(base).iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot(p => metaNames(p.getFileName.toString))
      .map(base.relativize(_).toString).toSet
  }

  private def rel(l: ChunkLayout, p: Path): String =
    Paths.get(l.root).relativize(p).toString + suffix(l)

  test("every format writes exactly the objects its stored grid points " +
      "name, and no temporary or stray file") {
    for ((name, l, stored) <- formats) {
      val want = stored.map(g => rel(l, l.objectPath(g))).toSet
      assert(files(l.root) == want, name)
    }
    assert(files(fx.zarr3Sharded) == Set("c/0/0/0", "c/1/0/0", "c/0/1/0",
      "c/1/1/0", "c/0/0/1", "c/1/0/1", "c/0/1/1"),
      "a zarr3 shard object per shard holding a stored block")
  }

  test("a write followed by ChunkLayout.cutout reads the volume back") {
    for ((name, l, _) <- formats) {
      val got = GridFixtures.rows(ChunkLayout.cutout(spark, l, box))
      val want = fx.expect(box).filterNot { case (x, y, z, _) =>
        l.missing == ChunkLayout.Missing.NoRow && absent(Vec3(x / 4, y / 4, z / 3)) }
      assert(got.length == want.size && got.toSet == want, name)
    }
  }

  test("a scan's rows written back through the sink reproduce every " +
      "object byte for byte") {
    for ((name, l, _) <- formats) {
      val copy = s"$dir/copy/${name.replace(' ', '_')}"
      val to = l.copy(root = copy)
      val rows = ChunkLayout.scan(spark, l).where(col("payload").isNotNull)
        .select("gx", "gy", "gz", "payload")
      ChunkLayout.write(rows, to, if (suffix(l).nonEmpty) "gzip" else "none")
      assert(files(copy) == files(l.root), name)
      for (f <- files(copy)) assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(copy, f)), Files.readAllBytes(Paths.get(l.root, f))),
        s"$name: $f")
    }
  }

  test("elision: precomputed deleteBlack, an all-fill zarr3 inner chunk " +
      "is a Missing slot, an absent zarr key stays absent") {
    val s = spark
    import s.implicits._
    val pm = PrecomputedIO.readInfo(fx.precomputed)
    val black = s"$dir/black"
    val zeros = new Array[Byte](4 * 4 * 3 * 4)
    PrecomputedIO.writeInfo(black, pm)
    PrecomputedIO.writeChunks(Seq((0L, 0L, 0L, zeros), (1L, 0L, 0L, zeros.updated(5, 1.toByte)))
      .toDF("gx", "gy", "gz", "payload"), black, pm, 0, deleteBlack = Some(zeros))
    assert(files(s"$black/1_1_1") == Set("4-8_0-4_0-3.gz"))

    // inner (0, 1, 0) of a 2x2x2 shard is absent: C-order slot 2; the
    // shard's y-row 3 lies outside the 3-block grid, so it is all fill
    val idx = Zarr3IO.readShardIndex(Paths.get(fx.zarr3Sharded, "c/0/1/0"),
      Zarr3IO.readMeta(fx.zarr3Sharded))
    assert(Zarr3IO.readShardIndex(Paths.get(fx.zarr3Sharded, "c/0/0/0"),
      Zarr3IO.readMeta(fx.zarr3Sharded))(2) == ((-1L, -1L)))
    assert(Seq(2, 3, 6, 7).map(idx(_)).forall(_ == ((-1L, -1L))))
    assert(Seq(0, 1, 4, 5).map(idx(_)).forall(_._1 >= 0))

    for (name <- Seq("zarr2 C", "zarr2 F", "ome-zarr2", "zarr3")) {
      val l = ChunkLayout.open(fx.dirs(name), 0, fillMissing = false)
      assert(absent.forall(g => !Files.exists(l.objectPath(g))), name)
    }
  }

  test("a put leaves no temporary sibling, replaces the object whole, and " +
      "its temporary name is no chunk name to the stream") {
    val p = Paths.get(dir, "put", "0-4_0-4_0-3.gz")
    ChunkLayout.put(p, Array[Byte](1, 2, 3))
    ChunkLayout.put(p, Array[Byte](4, 5))
    assert(Files.readAllBytes(p).toSeq == Seq[Byte](4, 5))
    assert(Files.list(p.getParent).iterator.asScala.map(_.getFileName.toString)
      .toSeq == Seq("0-4_0-4_0-3.gz"))
    // a failed put (here the move onto a non-empty directory) removes
    // its temporary
    val d = Paths.get(dir, "put2", "0-4_0-4_0-3")
    Files.createDirectories(d.resolve("x"))
    intercept[java.io.IOException](ChunkLayout.put(d, Array[Byte](1)))
    assert(Files.list(d.getParent).iterator.asScala.map(_.getFileName.toString)
      .toSeq == Seq("0-4_0-4_0-3"))
    // the stream's gridOf parses a name with Bbox.fromFilename after
    // stripping a .gz/.br suffix; a put's `.<name>.<hex>` never parses
    for (tmp <- Seq(".0-4_0-4_0-3.gz.1f2e3d", ".0-4_0-4_0-3.1f2e3d"))
      intercept[IllegalArgumentException](
        Bbox.fromFilename(tmp.stripSuffix(".gz").stripSuffix(".br")))
  }
}
