package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.sources.{Neuroglancer, PrecomputedIO}

/** DSv2 `neuroglancer` source behaviors that the oracle rows can't
  * see: planning-time partition pruning, column-pruning-skips-IO,
  * fill_missing semantics, info redirects.
  */
class SourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("ng_spec").toString
  private val layer = s"$dir/layer"

  private val meta = VolumeMeta(
    layerType = "segmentation", dataType = "uint32", numChannels = 1,
    scales = Seq(ScaleMeta(
      key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(4, 4, 4), size = Vec3(10, 8, 4),
      voxelOffset = Vec3(0, 0, 0))))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 3x2x1 grid; label = morton-ish id of the chunk; boundary chunks
    // clamped (x tail 2-wide)
    val s = spark
    import s.implicits._
    val chunks = (for {
      gz <- 0 until 1; gy <- 0 until 2; gx <- 0 until 3
    } yield {
      val cb = Geom.chunkBbox(Vec3(gx, gy, gz), meta.scale(0).bounds,
        meta.scale(0).chunkSize)
      val n = cb.volume.toInt
      (gx.toLong, gy.toLong, gz.toLong,
        Codec.encodeRawFromLongs(Array.fill(n)(gx + 10L * gy), 4))
    }).toDF("gx", "gy", "gz", "payload")
    PrecomputedIO.writeInfo(layer, meta)
    PrecomputedIO.writeChunks(chunks, layer, meta, 0)
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  test("round-trip: written chunk files read back with clamped sizes") {
    val df = PrecomputedIO.readChunks(spark, layer)
    assert(df.count() == 6)
    val tail = df.filter(col("gx") === 2).select("x0", "x1", "payload")
      .collect()
    tail.foreach { r =>
      assert(r.getLong(0) == 8 && r.getLong(1) == 10) // clamped 2-wide
      assert(r.getAs[Array[Byte]](2).length == 2 * 4 * 4 * 4)
    }
  }

  test("gzip second stage actually on disk (.gz objects)") {
    assert(Files.exists(Paths.get(layer, "1_1_1", "0-4_0-4_0-4.gz")))
    assert(!Files.exists(Paths.get(layer, "1_1_1", "0-4_0-4_0-4")))
  }

  test("filter pushdown narrows the planned grid (partition pruning)") {
    val df = PrecomputedIO.readChunks(spark, layer)
      .filter(col("gx") === 2 && col("gy") >= 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("grid=[Vec3(2,1,0)..Vec3(2,1,0)]"), plan)
    assert(df.count() == 1)
  }

  test("bbox-overlap filters (x1 > lo, x0 < hi) prune too") {
    val df = PrecomputedIO.readChunks(spark, layer)
      .filter(col("x1") > 5 && col("x0") < 7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("grid=[Vec3(1,0,0)..Vec3(1,1,0)]"), plan)
    assert(df.count() == 2)
  }

  test("multi-channel cutout prunes the chunk grid at planning time") {
    // same planning-time bbox→grid pruning as the single-channel S4
    // path: a corner bbox over the rgba fixture must plan only chunk
    // (0,0,0), and the channel slice stays inside the decode UDF
    import graft.ops.RealLayerQueries
    RealLayerQueries.ensure(spark, "/root/testdata/sf0.001")
    val df = PrecomputedIO.cutoutVoxelsChannels(spark,
      RealLayerQueries.LayerRgbaDir,
      graft.core.Bbox(Vec3(0, 0, 0), Vec3(8, 8, 8)), Seq(1))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("grid=[Vec3(0,0,0)..Vec3(0,0,0)]"), plan)
  }

  test("column pruning skips chunk IO entirely") {
    // remove one object; metadata-only projection must still succeed
    val victim = Paths.get(layer, "1_1_1", "8-10_4-8_0-4.gz")
    val bytes = Files.readAllBytes(victim)
    Files.delete(victim)
    try {
      val keysOnly = PrecomputedIO.readChunks(spark, layer)
        .select("gx", "gy", "gz")
      assert(keysOnly.collect().length == 6) // no payload -> no file opens
      val withPayload = PrecomputedIO.readChunks(spark, layer)
      val e = intercept[Throwable] {
        withPayload.select("gx", "payload").collect()
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(m => m != null && m.contains("missing chunk")))
      // fill_missing: null payload instead of an error (S15)
      val filled = PrecomputedIO.readChunks(spark, layer, fillMissing = true)
      assert(filled.filter(col("payload").isNull).count() == 1)
    } finally Files.write(victim, bytes)
  }

  test("info redirect following with cycle detection") {
    val a = s"$dir/redir_a"; val b = s"$dir/redir_b"
    Files.createDirectories(Paths.get(a)); Files.createDirectories(Paths.get(b))
    Files.writeString(Paths.get(a, "info"), s"""{"redirect": "$b"}""")
    Files.writeString(Paths.get(b, "info"), VolumeMeta.toJson(meta))
    assert(VolumeMeta.readInfo(a).dataType == "uint32")
    // cycle
    Files.writeString(Paths.get(b, "info"), s"""{"redirect": "$a"}""")
    val e = intercept[IllegalStateException] { VolumeMeta.readInfo(a) }
    assert(e.getMessage.contains("cycle"))
  }

  test("info JSON round-trips through canonical commit") {
    val m2 = VolumeMeta.fromJson(VolumeMeta.toJson(meta))
    assert(m2 == meta)
  }

  test("zarr2/zarr3 absent chunk keys read as fill_value") {
    import graft.sources.{Zarr2IO, Zarr3IO}
    val z3 = s"$dir/zarr3_fill"
    Zarr3IO.writeMeta(z3, Zarr3IO.Zarr3Meta(
      shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
      dataType = "uint16", fillValue = 7, compressor = "none"))
    val r3 = Zarr3IO.cutoutVoxels(spark, z3, Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4)))
      .collect()
    assert(r3.length == 64 && r3.forall(_.getLong(3) == 7))
    val z2 = s"$dir/zarr2_fill"
    Zarr2IO.writeMeta(z2, Zarr2IO.Zarr2Meta(
      shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
      dtype = "<u2", fillValue = 3, compressor = "none"))
    val r2 = Zarr2IO.cutoutVoxels(spark, z2, Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4)))
      .collect()
    assert(r2.length == 64 && r2.forall(_.getLong(3) == 3))
    // N5: absent block is an ERROR unless fillMissing=true (mirrors
    // the reference's EmptyVolumeException / fill_missing escape
    // hatch, n5/image.py:44-52)
    import graft.sources.N5IO
    val n5 = s"$dir/n5_fill"
    N5IO.writeMeta(n5, N5IO.N5Meta(
      dimensions = Vec3(4, 4, 4), blockSize = Vec3(4, 4, 4),
      dataType = "uint16", compression = "raw"))
    val thrown = intercept[org.apache.spark.SparkException] {
      N5IO.cutoutVoxels(spark, n5, Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4)))
        .collect()
    }
    assert(thrown.getMessage.contains("missing N5 block") ||
      Option(thrown.getCause).exists(_.getMessage.contains("missing N5 block")))
    val rn = N5IO.cutoutVoxels(spark, n5, Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4)),
        fillMissing = true)
      .collect()
    assert(rn.length == 64 && rn.forall(_.getLong(3) == 0))
  }

  test("zarr2 big-endian dtype (>u4) round-trips through write + cutout") {
    import graft.sources.Zarr2IO
    val s = spark
    import s.implicits._
    val dir = s"${this.dir}/zarr2_be"
    val m = Zarr2IO.Zarr2Meta(
      shape = Vec3(4, 3, 2), chunkShape = Vec3(4, 3, 2),
      dtype = ">u4", fillValue = 0, compressor = "zlib")
    Zarr2IO.writeMeta(dir, m)
    val vox = (0L until 24L).map(i => i * 1000003L % 4294967296L)
    Zarr2IO.writeChunks(
      Seq((0L, 0L, 0L, vox)).toDF("gx", "gy", "gz", "vox"), dir, m)
    val got = Zarr2IO.cutoutVoxels(spark, dir, Bbox(Vec3(0, 0, 0), Vec3(4, 3, 2)))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3))).toMap
    for (z <- 0L until 2L; y <- 0L until 3L; x <- 0L until 4L)
      assert(got((x, y, z)) == vox((x + 4 * (y + 3 * z)).toInt))
    // the stored chunk really is big-endian: C-order voxel (0,0,1) is
    // vox(12) = 12*1000003; its first byte is the MSB
    val raw = Codec.zlibDecompress(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "0.0.0")))
    val expect = 12L * 1000003L
    assert((raw(4) & 0xffL) == ((expect >> 24) & 0xff))
  }

  test("OME-zarr big-endian dtype (>u4) honors .zarray byte order") {
    // the OME encode/decode paths must use m.byteOrder like the
    // non-OME cutout — hardcoded LE would silently misread BE arrays
    import graft.sources.Zarr2IO
    val s = spark
    import s.implicits._
    val dir = s"${this.dir}/zarr2_ome_be"
    val o = Zarr2IO.Zarr2Ome(
      Zarr2IO.Zarr2Meta(shape = Vec3(4, 3, 2), chunkShape = Vec3(4, 3, 2),
        dtype = ">u4", fillValue = 0, compressor = "zlib", order = "C"),
      timeFrames = Some(2L), channels = None)
    Zarr2IO.writeMetaOme(dir, o)
    val vox = (0L until 24L).map(i => (i + 1) * 1000003L % 4294967296L)
    Zarr2IO.writeChunksOme(
      Seq((0L, 0L, 0L, 0L, 0L, vox), (1L, 0L, 0L, 0L, 0L, vox.map(_ + 5)))
        .toDF("tc", "cc", "gx", "gy", "gz", "vox"), dir, o)
    val got = Zarr2IO.cutoutVoxelsOmeAt(spark, dir,
      Bbox(Vec3(0, 0, 0), Vec3(4, 3, 2)), t = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3))).toMap
    for (z <- 0L until 2L; y <- 0L until 3L; x <- 0L until 4L)
      assert(got((x, y, z)) == vox((x + 4 * (y + 3 * z)).toInt) + 5)
    // the stored bytes really are big-endian: first element's first
    // byte is its MSB
    val raw = Codec.zlibDecompress(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "0.0.0.0")))
    assert((raw(0) & 0xffL) == ((1000003L >> 24) & 0xff))
  }

  test("zarr2 full numcodecs compressor set round-trips (zstd/gzip/bz2/lzma)") {
    import graft.sources.Zarr2IO
    val s = spark
    import s.implicits._
    val vox = (0L until 24L).map(i => i * 7919L % 65536L)
    for (comp <- Seq("zstd", "gzip", "bz2", "lzma")) {
      val dir = s"${this.dir}/zarr2_$comp"
      val m = Zarr2IO.Zarr2Meta(
        shape = Vec3(4, 3, 2), chunkShape = Vec3(4, 3, 2),
        dtype = "<u2", fillValue = 0, compressor = comp)
      Zarr2IO.writeMeta(dir, m)
      assert(Zarr2IO.readMeta(dir).compressor == comp)
      Zarr2IO.writeChunks(
        Seq((0L, 0L, 0L, vox)).toDF("gx", "gy", "gz", "vox"), dir, m)
      val got = Zarr2IO.cutoutVoxels(spark, dir,
        Bbox(Vec3(0, 0, 0), Vec3(4, 3, 2)))
        .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getLong(3))).toMap
      for (z <- 0L until 2L; y <- 0L until 3L; x <- 0L until 4L)
        assert(got((x, y, z)) == vox((x + 4 * (y + 3 * z)).toInt), comp)
    }
  }

  test("declared-but-unsupported layout knobs fail loudly, never misread") {
    import graft.sources.{Zarr2IO, Zarr3IO}
    // zarr2: a numcodecs filter chain transforms bytes before the
    // compressor — ignoring it would decode garbage
    val zf = s"$dir/zarr2_filters"
    Zarr2IO.writeMeta(zf, Zarr2IO.Zarr2Meta(
      shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
      dtype = "<u2", fillValue = 0, compressor = "zlib"))
    val za = Paths.get(zf, ".zarray")
    Files.writeString(za, Files.readString(za).replace(
      "\"filters\" : null",
      "\"filters\" : [ { \"id\" : \"delta\", \"dtype\" : \"<u2\" } ]"))
    val e1 = intercept[IllegalArgumentException](Zarr2IO.readMeta(zf))
    assert(e1.getMessage.contains("filters"))
    // zarr2: a 5-D bare-array read must route to the OME reader
    val z5 = s"$dir/zarr2_5d"
    Zarr2IO.writeMetaOme(z5, Zarr2IO.Zarr2Ome(
      Zarr2IO.Zarr2Meta(shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
        dtype = "<u2", fillValue = 0, compressor = "none"),
      timeFrames = Some(2), channels = Some(2)))
    val e2 = intercept[IllegalArgumentException](Zarr2IO.readMeta(z5))
    assert(e2.getMessage.contains("3-D"))
    assert(Zarr2IO.readMetaOme(z5).timeFrames.contains(2L))
    // zarr3: a v2 chunk_key_encoding would make every key lookup miss
    // and return an all-fill cutout (absent key = fill_value)
    val z3 = s"$dir/zarr3_v2keys"
    Zarr3IO.writeMeta(z3, Zarr3IO.Zarr3Meta(
      shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
      dataType = "uint16", fillValue = 0, compressor = "none"))
    val zj = Paths.get(z3, "zarr.json")
    Files.writeString(zj, Files.readString(zj)
      .replace("\"name\" : \"default\"", "\"name\" : \"v2\""))
    val e3 = intercept[IllegalArgumentException](Zarr3IO.readMeta(z3))
    assert(e3.getMessage.contains("chunk_key_encoding"))
  }

  test("DSv2 sink round-trips (S9 native writer) and honors mip locks") {
    val sink = s"$dir/layer_sink"
    PrecomputedIO.writeInfo(sink, meta)
    // write via the native Spark sink — the full read schema including
    // bbox columns (ignored by the writer; bounds derive from the grid)
    PrecomputedIO.readChunks(spark, layer, fillMissing = true)
      .filter(col("payload").isNotNull)
      .write.format("neuroglancer").mode("append").save(sink)
    val back = PrecomputedIO.readChunks(spark, sink, fillMissing = true)
      .filter(col("payload").isNotNull)
    val orig = PrecomputedIO.readChunks(spark, layer, fillMissing = true)
      .filter(col("payload").isNotNull)
    assert(back.count() == orig.count())
    assert(back.join(orig, Seq("gx", "gy", "gz"))
      .filter(back("payload") === orig("payload")).count() == orig.count())
    // P10: locked mip refuses the write at plan time
    val lockedDir = s"$dir/layer_locked"
    PrecomputedIO.writeInfo(lockedDir,
      meta.copy(scales = Seq(meta.scale(0).copy(locked = true))))
    val e = intercept[IllegalStateException] {
      orig.write.format("neuroglancer").mode("append").save(lockedDir)
    }
    assert(e.getMessage.contains("write-locked"))
    // narrower-typed grid columns are upcast by Spark's V2 analyzer
    // against the table schema (int gx -> long) BEFORE the sink's own
    // plan-time dtype require — so a castable mismatch round-trips
    // and an uncastable one fails analysis, never an executor
    // ClassCastException
    val sink2 = s"$dir/layer_sink_int"
    PrecomputedIO.writeInfo(sink2, meta)
    orig.withColumn("gx", col("gx").cast("int"))
      .write.format("neuroglancer").mode("append").save(sink2)
    val back2 = PrecomputedIO.readChunks(spark, sink2, fillMissing = true)
      .filter(col("payload").isNotNull)
    assert(back2.count() == orig.count())
    // a sharded scale holds shard files, so per-chunk objects written
    // there would never be read back: refused at plan time
    val shardedDir = s"$dir/layer_sink_sharded"
    PrecomputedIO.writeInfo(shardedDir, meta.copy(scales = Seq(
      meta.scale(0).copy(sharding = Some(ShardingSpec(0, 0, 1))))))
    val es = intercept[IllegalArgumentException] {
      orig.write.format("neuroglancer").mode("append").save(shardedDir)
    }
    assert(es.getMessage.contains("ShardedIO.writeSharded"), es.getMessage)
    assert(!Files.exists(Paths.get(shardedDir, "1_1_1")))
  }

  test("reference fixture info parses (test_cv, 5 scales, cseg)") {
    val m = VolumeMeta.fromJson(Files.readString(
      Paths.get("/root/reference/test/test_cv/info")))
    assert(m.dataType == "uint32" && m.scales.size >= 4)
    assert(m.scales.head.encoding == "compressed_segmentation")
    assert(m.scales.head.csegBlockSize.contains(Vec3(8, 8, 8)))
    assert(m.scales.head.chunkSize == Vec3(128, 128, 64))
  }

  test("n5 multiScale pyramid: level selection; non-pyramids rejected") {
    import graft.sources.N5IO
    val g = s"$dir/n5_pyr"
    val mips = Seq(
      N5IO.N5Meta(dimensions = Vec3(8, 8, 8), blockSize = Vec3(4, 4, 4),
        dataType = "uint16", compression = "raw"),
      N5IO.N5Meta(dimensions = Vec3(4, 4, 4), blockSize = Vec3(4, 4, 4),
        dataType = "uint16", compression = "raw"))
    N5IO.writeMetaPyramid(g, mips)
    assert(N5IO.readMeta(g, "s1").dimensions == Vec3(4, 4, 4))
    // absent level: fails loudly, never background
    intercept[IllegalArgumentException](N5IO.cutoutVoxelsMip(spark, g,
      Bbox(Vec3(0, 0, 0), Vec3(2, 2, 2)), mip = 2))
    // a single-scale container is not a pyramid
    val single = s"$dir/n5_single"
    N5IO.writeMeta(single, mips.head)
    intercept[IllegalArgumentException](N5IO.cutoutVoxelsMip(spark, single,
      Bbox(Vec3(0, 0, 0), Vec3(2, 2, 2)), mip = 0))
  }

  test("zarr2 consolidated metadata resolves without member objects") {
    import graft.sources.Zarr2IO
    val g = s"$dir/zarr2_cons"
    val mips = Seq(
      Zarr2IO.Zarr2Ome(Zarr2IO.Zarr2Meta(
        shape = Vec3(8, 8, 8), chunkShape = Vec3(4, 4, 4),
        dtype = "<u2", fillValue = 0, compressor = "none"),
        timeFrames = Some(2L), channels = None),
      Zarr2IO.Zarr2Ome(Zarr2IO.Zarr2Meta(
        shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
        dtype = "<u2", fillValue = 0, compressor = "none"),
        timeFrames = Some(2L), channels = None))
    Zarr2IO.writeMetaOmeGroup(g, mips)
    Zarr2IO.writeConsolidated(g)
    // delete every member metadata object: resolution must go through
    // .zmetadata alone (the consolidation contract)
    Seq(".zattrs", "0/.zarray", "1/.zarray").foreach(f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(g, f)))
    assert(Zarr2IO.omeDatasetPathsConsolidated(g) == Seq("0", "1"))
    val o = Zarr2IO.readMetaOmeConsolidated(g, Some("1"))
    assert(o.meta.shape == Vec3(4, 4, 4) && o.timeFrames.contains(2L))
    // the file-based path must now fail (members are gone) — proving
    // the consolidated read didn't silently use it
    intercept[Exception](Zarr2IO.readMetaOme(g, Some("1")))
    // unsupported consolidated format versions are rejected loudly
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(g, ".zmetadata"),
      """{"zarr_consolidated_format": 2, "metadata": {}}""")
    intercept[IllegalArgumentException](
      Zarr2IO.omeDatasetPathsConsolidated(g))
  }

  test("zarr3 OME-NGFF 0.5 group meta round-trips; non-groups rejected") {
    import graft.sources.Zarr3IO
    val g = s"$dir/zarr3_group"
    val mips = Seq(
      Zarr3IO.Zarr3Meta(shape = Vec3(8, 8, 8), chunkShape = Vec3(4, 4, 4),
        dataType = "uint16", fillValue = 0, compressor = "none",
        spatialOrder = "zyx"),
      Zarr3IO.Zarr3Meta(shape = Vec3(4, 4, 4), chunkShape = Vec3(4, 4, 4),
        dataType = "uint16", fillValue = 0, compressor = "none",
        spatialOrder = "zyx"))
    Zarr3IO.writeMetaGroup(g, mips)
    assert(Zarr3IO.readGroupDatasets(g) == Seq("0", "1"))
    // each level is an ordinary v3 array readable on its own
    assert(Zarr3IO.readMeta(s"$g/1").shape == Vec3(4, 4, 4))
    // the root group node itself is NOT an array — readMeta must not
    // silently treat it as one
    intercept[IllegalArgumentException](Zarr3IO.readMeta(g))
    // and an ARRAY node is not a group
    intercept[IllegalArgumentException](Zarr3IO.readGroupDatasets(s"$g/0"))
    // a group without ome.multiscales attributes has nothing to read
    val bare = s"$dir/zarr3_bare_group"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bare))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(bare, "zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    intercept[IllegalArgumentException](Zarr3IO.readGroupDatasets(bare))
    // consolidated metadata: member zarr.json folded into the root,
    // then the members deleted — resolution must use the root only
    Zarr3IO.writeConsolidatedGroup(g)
    Seq("0", "1").foreach(p => java.nio.file.Files.delete(
      java.nio.file.Paths.get(g, p, "zarr.json")))
    val (paths, metaOf) = Zarr3IO.readConsolidatedGroup(g)
    assert(paths == Seq("0", "1"))
    assert(metaOf("1").shape == Vec3(4, 4, 4))
    intercept[IllegalArgumentException](metaOf("2"))
    // the file-based member read must now fail — proving the
    // consolidated path didn't silently fall back to it
    intercept[Exception](Zarr3IO.readMeta(s"$g/1"))
  }

  test("cross-format cutouts agree voxel-for-voxel on an unaligned volume") {
    // seeded volumes whose extent is a multiple of no block shape; every
    // format stores each, every format's cutout must reproduce it
    // exactly: uint32 values spanning the full unsigned range, and
    // uint64 ones half of which are top-bit (>= 2^63) with a non-zero
    // fill read back from absent blocks (a whole absent zarr3 shard
    // (1, 1, 0) and a Missing inner slot (0, 1, 0))
    val dims = Vec3(13, 11, 7)
    val rnd = new scala.util.Random(20261017)
    val u32 = Array.fill((dims.x * dims.y * dims.z).toInt)(
      rnd.nextLong() & 0xffffffffL)
    val u64 = Array.fill(u32.length)(rnd.nextLong())
    assert(u64.count(_ < 0) > u64.length / 3)
    def at(vals: Array[Long])(p: Vec3): Long =
      vals((p.x + dims.x * (p.y + dims.y * p.z)).toInt)
    val inputs = Seq(
      "uint32" -> new GridFixtures(spark, s"$dir/xf_u32", dims, Vec3(4, 4, 4),
        4, 0L, Set.empty, at(u32)),
      "uint64 top-bit, fill 5" -> new GridFixtures(spark, s"$dir/xf_u64", dims,
        Vec3(4, 4, 4), 8, 5L, Set(Vec3(2, 2, 0), Vec3(3, 2, 0), Vec3(2, 2, 1),
          Vec3(3, 2, 1), Vec3(0, 1, 0)), at(u64)))
    val boxes = Seq(
      Bbox(Vec3(1, 2, 3), Vec3(10, 9, 6)), // unaligned, interior
      Bbox(Vec3(5, 3, 1), Vec3(6, 4, 2)), // one voxel
      Bbox(Vec3(7, 6, 2), Vec3(20, 30, 9)), // crosses the far edges
      Bbox(Vec3(-3, -2, -1), Vec3(3, 5, 4)), // crosses the origin
      Bbox(Vec3(0, 0, 0), dims)) // whole volume
    for ((input, fx) <- inputs; b <- boxes; (name, cut) <- fx.cutouts) {
      val expect = fx.expect(b)
      val rows = GridFixtures.rows(cut(b))
      assert(rows.length == expect.size,
        s"$input $name $b: duplicate or missing rows")
      assert(rows.toSet == expect, s"$input $name $b")
    }
  }

  test("sharded and unsharded copies of one volume read identically " +
      "through one pruned scan, without a shuffle") {
    import graft.sources.{NgInputPartition, NgScan, ShardedIO}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val s = spark
    import s.implicits._
    val dims = Vec3(13, 11, 7)
    val cs = Vec3(4, 4, 4) // 4x3x2 grid, 5-bit morton codes
    val bounds = Bbox(Vec3(0, 0, 0), dims)
    val rnd = new scala.util.Random(20261018)
    val src = Array.fill((dims.x * dims.y * dims.z).toInt)(
      rnd.nextLong() & 0xffffffffL)
    val value = (x: Long, y: Long, z: Long) =>
      src((x + dims.x * (y + dims.y * z)).toInt)
    // 2 minishards x 4 shards: each shard holds 4 to 8 chunks
    val spec = ShardingSpec(preshiftBits = 0, minishardBits = 1,
      shardBits = 2, minishardIndexEncoding = "gzip", dataEncoding = "gzip")
    val um = VolumeMeta(layerType = "segmentation", dataType = "uint32",
      numChannels = 1, scales = Seq(ScaleMeta(key = "1_1_1",
        encoding = "raw", resolution = Seq(1, 1, 1), chunkSize = cs,
        size = dims, voxelOffset = Vec3(0, 0, 0))))
    val sm = um.copy(scales = Seq(um.scale(0).copy(sharding = Some(spec))))
    val grid = sm.scale(0).gridSize
    val shardOf = (g: Vec3) => spec.shardLocation(Morton.encode(g, grid))._1
    def chunks(keep: Vec3 => Boolean) =
      Geom.gridpoints(bounds, bounds, cs).filter(keep).map { g =>
        val cb = Geom.chunkBbox(g, bounds, cs)
        val vox = for (z <- cb.minpt.z until cb.maxpt.z;
          y <- cb.minpt.y until cb.maxpt.y; x <- cb.minpt.x until cb.maxpt.x)
          yield value(x, y, z)
        (g.x, g.y, g.z, Codec.encodeRawFromLongs(vox.toArray, 4))
      }.toDF("gx", "gy", "gz", "payload")
    val unsharded = s"$dir/diff_unsharded"
    PrecomputedIO.writeInfo(unsharded, um)
    PrecomputedIO.writeChunks(chunks(_ => true), unsharded, um, 0)
    val sharded = s"$dir/diff_sharded"
    PrecomputedIO.writeInfo(sharded, sm)
    ShardedIO.writeSharded(chunks(_ => true), sharded, sm, 0)
    assert(Geom.gridpoints(bounds, bounds, cs).groupBy(shardOf)
      .forall(_._2.size > 1), "every shard should hold several chunks")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("x", "y", "z", "label").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (b <- Seq(
        Bbox(Vec3(1, 2, 3), Vec3(10, 9, 6)), // unaligned, interior
        Bbox(Vec3(5, 3, 1), Vec3(6, 4, 2)), // one voxel
        Bbox(Vec3(7, 6, 2), Vec3(20, 30, 9)), // crosses the far edges
        Bbox(Vec3(-3, -2, -1), Vec3(3, 5, 4)))) { // crosses the origin
      val c = b.intersection(bounds)
      val expect = (for (z <- c.minpt.z until c.maxpt.z;
          y <- c.minpt.y until c.maxpt.y; x <- c.minpt.x until c.maxpt.x)
        yield (x, y, z, value(x, y, z))).toSet
      val u = rows(PrecomputedIO.cutoutVoxels(spark, unsharded, b))
      val sh = rows(PrecomputedIO.cutoutVoxels(spark, sharded, b))
      assert(u.length == expect.size && u.toSet == expect, s"unsharded $b")
      assert(sh.length == u.length && sh.toSet == u.toSet, s"sharded $b")
      val cut = ShardedIO.cutoutVoxelsSharded(spark, sharded, b)
      assert(rows(cut).toSet == expect, s"cutoutVoxelsSharded $b")
      val plan = cut.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    }

    // grid-key filters push into the sharded scan, which plans only the
    // pruned chunks, packed so that no shard spans two tasks
    def pruned(layer: String) = Neuroglancer.requirePushedFilters(
      PrecomputedIO.readChunks(spark, layer)
        .filter(col("gx") >= 1 && col("gy") <= 1 && col("gz") === 1))
    def chunkRows(df: org.apache.spark.sql.DataFrame) =
      df.select("gx", "gy", "gz", "payload").collect().map(r =>
        ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getAs[Array[Byte]](3).toSeq)).toMap
    val want = Geom.gridpoints(bounds, bounds, cs)
      .filter(g => g.x >= 1 && g.y <= 1 && g.z == 1).toSet
    // the 6 pruned chunks lie in 2 shards; with one open charged per
    // shard group they estimate ~130 KiB of work, so 32 KiB per task
    // gives each group its own task
    spark.conf.set("spark.graft.scan.minBytesPerTask", (32L << 10).toString)
    try {
      val df = pruned(sharded)
      val parts = df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }.collect { case sc: NgScan => sc.toBatch.planInputPartitions() }
        .flatten.map(_.asInstanceOf[NgInputPartition].chunks
          .map(c => Vec3(c(0), c(1), c(2))).toSeq)
      assert(parts.length > 1, "packing should yield several tasks")
      assert(parts.flatten.toSet == want && parts.flatten.length == want.size)
      val shardSets = parts.map(_.map(shardOf).toSet)
      assert(shardSets.flatten.length == shardSets.flatten.distinct.length,
        s"a shard group was split across tasks: $parts")
      assert(chunkRows(df) == chunkRows(pruned(unsharded)))
    } finally spark.conf.unset("spark.graft.scan.minBytesPerTask")

    // a chunk absent from its shard, or a whole missing shard file,
    // yields no row — with fill_missing and with payload pruned alike
    val sparse = s"$dir/diff_sharded_sparse"
    val gone = (g: Vec3) => shardOf(g) == 3 || g == Vec3(1, 1, 0)
    PrecomputedIO.writeInfo(sparse, sm)
    ShardedIO.writeSharded(chunks(g => !gone(g)), sparse, sm, 0)
    assert(!Files.exists(Paths.get(sparse, "1_1_1", spec.shardFilename(3))))
    val present = Geom.gridpoints(bounds, bounds, cs).filterNot(gone)
      .map(g => (g.x, g.y, g.z)).toSet
    for (fill <- Seq(false, true)) {
      val all = PrecomputedIO.readChunks(spark, sparse, fillMissing = fill)
      assert(chunkRows(all).keySet == present, s"fill_missing=$fill")
      val keys = all.select("gx", "gy", "gz").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(keys.length == present.size && keys.toSet == present,
        s"payload pruned, fill_missing=$fill")
    }
  }

  test("listedNames: a later listing never replaces an earlier one's names") {
    import graft.sources.ScanSizing
    // sibling paths with equal String.hashCode ("Aa" and "BB" collide)
    val root = Files.createTempDirectory("listed")
    val (a, b) = (root.resolve("Aa"), root.resolve("BB"))
    assert(a.toAbsolutePath.toString.hashCode == b.toAbsolutePath.toString.hashCode)
    Files.createDirectories(a); Files.createDirectories(b)
    Files.write(a.resolve("1"), Array[Byte](1))
    Files.write(b.resolve("2"), Array[Byte](2))
    val la = ScanSizing.listedNames(spark, a, _ => true, 0L)
    val lb = ScanSizing.listedNames(spark, b, _ => true, 0L)
    assert(la.collect().toSeq == Seq("1"))
    assert(lb.collect().toSeq == Seq("2"))
  }

  test("listedNames: the name filter sees regular files only") {
    import graft.sources.ScanSizing
    val d = Files.createTempDirectory("listed_numeric")
    Files.write(d.resolve("1"), Array[Byte](1))
    Files.createDirectories(d.resolve("sub"))
    val numeric = ScanSizing.listedNames(spark, d, _.toLong < 8, 0L)
    assert(numeric.collect().toSeq == Seq("1"))
  }
}
