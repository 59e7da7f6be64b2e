package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.{ChunkLayout, PrecomputedIO, ShardedIO}

/** Layer lifecycle operators over the real fixture layer:
  *
  * S16 transfer/transcode (image/__init__.py:607-678 transfer_to,
  * xfer.py:59-493, chunks.transcode:486-600): read the source layer's
  * chunk rows, re-encode each chunk payload to the target encoding in
  * the scan's executor tasks (no voxel-row explosion — one decode +
  * one encode per chunk), write the target layer, read it back. Two
  * pathways covered: raw -> compressed_segmentation re-encode, and
  * unsharded -> sharded re-grouping (the shard-synthesis shuffle).
  *
  * S13 delete (image/__init__.py:484-557): alignment-checked bulk
  * delete of the chunk objects in a bbox; exists summary afterwards.
  *
  * S15 fill_missing (image/rx.py:864-870): deleted chunks read back
  * as background zeros instead of erroring.
  *
  * S17 memory_cutout (image/__init__.py:559-601): a cutout pinned as
  * a cached temp view — Spark's storage layer replaces the mem://
  * throwaway volume.
  *
  * Scale shape: every path is chunk-granular (decode+encode inside the
  * scan task), deletes/writes run in `foreachPartition`, and the only
  * shuffle is the shard-synthesis `groupByKey(shard)` — the same plan
  * a 1000-executor transfer of a petabyte layer needs.
  */
object XferQueries {
  import RealLayerQueries.{ensure, LayerDir, meta, metaCseg, metaSharded,
    CsegBlock, SX, SY, SZ, CX, CY, CZ}

  private val Sidecar =
    s"read_parquet('${RealLayerQueries.VoxelsDir}/*.parquet')"

  /** Chunk-aligned delete region: grid cells gx,gy in {1,2}, gz in {1,2}. */
  private val DeleteBox = Bbox(Vec3(16, 16, 8), Vec3(48, 48, 24))

  private def deleteChunks(s: SparkSession, target: String, bbox: Bbox): Unit = {
    val scale = PrecomputedIO.readInfo(target).scale(0)
    require(bbox == bbox.expandToChunkSize(scale.chunkSize, scale.voxelOffset),
      s"delete bbox $bbox not chunk-aligned") // image/__init__.py:529-533
    val pts = Geom.gridpoints(bbox, scale.bounds, scale.chunkSize)
    import s.implicits._
    s.createDataset(pts.map(g => (g.x, g.y, g.z)))
      .foreachPartition { it: Iterator[(Long, Long, Long)] =>
        it.foreach { case (gx, gy, gz) =>
          val p = PrecomputedIO.chunkPath(target, scale, Vec3(gx, gy, gz))
          Files.deleteIfExists(p)
          Files.deleteIfExists(Paths.get(p.toString + ".gz"))
        }
      }
  }

  val queries: Map[String, Q] = Map(

    // S16 pathway 1: transcode raw -> compressed_segmentation; the
    // chunk stream is re-encoded in-flight (one task per chunk batch)
    // and the new layer is read back through the cseg decode path
    "s16_transcode" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s16_cseg"
        val bounds = meta.scale(0).bounds
        val cs = meta.scale(0).chunkSize
        val bs = CsegBlock
        val transcodeUdf = udf((x0: Long, y0: Long, z0: Long, x1: Long,
            y1: Long, z1: Long, p: Array[Byte]) =>
          Cseg.encode(Codec.decodeRawToLongs(p, 4),
            Vec3(x1 - x0, y1 - y0, z1 - z0), bs, 4))
        PrecomputedIO.writeInfo(target, metaCseg)
        PrecomputedIO.writeChunks(
          PrecomputedIO.readChunks(s, LayerDir)
            .select(col("gx"), col("gy"), col("gz"),
              transcodeUdf(col("x0"), col("y0"), col("z0"),
                col("x1"), col("y1"), col("z1"), col("payload")).as("payload")),
          target, metaCseg, 0)
        PrecomputedIO.cutoutVoxels(s, target, Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
      },
      Some(s"SELECT x, y, z, label FROM $Sidecar")),

    // J4 remap at the CODEC level (chunks.py:395-421 dispatch →
    // cseg.remap): relabel a compressed_segmentation layer by
    // rewriting each chunk's per-block label TABLES inside the scan
    // task — the bit-packed voxel index streams are never rewritten,
    // so a petabyte relabel never decodes, expands to voxels, or
    // re-encodes (one packed-index bit-scan per block recovers table
    // lengths). Even labels move to a new id space; odd labels
    // ride preserve_missing_labels=True (fastremap's keep semantics).
    // The remapped layer reads back voxel-exact through the normal
    // cseg decode path, proving stream integrity survived the
    // in-place table rewrite.
    "j4c_remap_encoded" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_j4c_remap"
        val bs = CsegBlock
        val mapping: Map[Long, Long] =
          (0L until 1000L by 2).map(l => l -> (3000000L + l / 2)).toMap
        val remapUdf = udf((x0: Long, y0: Long, z0: Long, x1: Long,
            y1: Long, z1: Long, p: Array[Byte]) =>
          Cseg.remap(p, Vec3(x1 - x0, y1 - y0, z1 - z0), bs, 4, mapping,
            preserveMissing = true))
        PrecomputedIO.writeInfo(target, metaCseg)
        PrecomputedIO.writeChunks(
          PrecomputedIO.readChunks(s, RealLayerQueries.LayerCsegDir)
            .select(col("gx"), col("gy"), col("gz"),
              remapUdf(col("x0"), col("y0"), col("z0"),
                col("x1"), col("y1"), col("z1"), col("payload"))
                .as("payload")),
          target, metaCseg, 0)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
      },
      Some(s"""SELECT x, y, z,
        |  CASE WHEN label % 2 = 0 THEN 3000000 + label // 2
        |       ELSE label END AS label
        |FROM $Sidecar""".stripMargin)),

    // S16 CROSS-FORMAT transfer: migrate the real precomputed layer
    // to a zarr v3 array in one query — chunk-granular (encoded
    // payloads stream task-side, voxels never shuffle): decode each
    // raw chunk, pad the CLAMPED precomputed edge blocks to zarr's
    // FULL-size fill-padded chunks, write through Zarr3IO, read back
    // voxel-exact through the zarr cutout path. The grids coincide
    // (same chunk size), so this is a narrow map — the general
    // re-gridding case is s16_transfer_rechunk's one-shuffle shape.
    "s16_transfer_zarr3" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s16_zarr3"
        Fixtures.rmTree(target)
        val zm = graft.sources.Zarr3IO.Zarr3Meta(
          shape = Vec3(SX, SY, SZ), chunkShape = Vec3(CX, CY, CZ),
          dataType = "uint32", fillValue = 0L, compressor = "zstd")
        import s.implicits._
        val cs = zm.chunkShape
        val full = PrecomputedIO.readChunks(s, LayerDir)
          .select(col("gx"), col("gy"), col("gz"), col("x0"), col("y0"),
            col("z0"), col("x1"), col("y1"), col("z1"), col("payload"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
            Array[Byte])]
          .map { case (gx, gy, gz, x0, y0, z0, x1, y1, z1, p) =>
            (gx, gy, gz, Codec.decodeRawToLongs(ChunkLayout.fit(p,
              Vec3(x1 - x0, y1 - y0, z1 - z0), cs, 4), 4).toSeq)
          }.toDF("gx", "gy", "gz", "vox")
        graft.sources.Zarr3IO.writeMeta(target, zm)
        graft.sources.Zarr3IO.writeChunks(full, target, zm)
        graft.sources.Zarr3IO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
      },
      Some(s"SELECT x, y, z, label FROM $Sidecar")),

    // S9 as a NATIVE Spark sink: the same chunk stream written through
    // the DSv2 writer (`df.write.format("neuroglancer")`) instead of
    // the foreachPartition helper, then read back voxel-exact. The
    // sink's per-chunk object puts are idempotent (named by bbox), so
    // task retries/speculation are safe without a commit protocol —
    // the object-store write semantics of the reference's upload path
    // (tx.py:35-61).
    "s9_write_sink" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s9_sink"
        PrecomputedIO.writeInfo(target, meta)
        PrecomputedIO.readChunks(s, LayerDir)
          .write.format("neuroglancer").mode("append").save(target)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
      },
      Some(s"SELECT x, y, z, label FROM $Sidecar")),

    // P10: write-lock guard surfaced relationally (metadata.py:840-885
    // lock_mips/locked_mips). A 4-scale layer declares mips 1 and 3
    // locked in its info JSON; each mip takes a one-chunk write attempt
    // through the DSv2 sink. Locked mips must refuse at PLAN time
    // (before any task runs); unlocked mips commit. The row set pairs
    // the info-declared lock flag (re-read from disk, proving the JSON
    // round-trip) with the observed admission — the oracle states the
    // invariant accepted = NOT locked.
    "p10_lock_guard" -> Q(
      (s, dir) => {
        import s.implicits._
        val target = s"${RealLayerQueries.Root}/layer_p10_locks"
        val scales = (0 until 4).map { m =>
          val r = 1 << m
          ScaleMeta(key = s"${r}_${r}_$r", encoding = "raw",
            resolution = Seq(r, r, r), chunkSize = Vec3(8, 8, 8),
            size = Vec3(8, 8, 8), voxelOffset = Vec3(0, 0, 0),
            locked = m % 2 == 1)
        }
        PrecomputedIO.writeInfo(target, VolumeMeta(
          layerType = "segmentation", dataType = "uint32",
          numChannels = 1, scales = scales))
        val fromDisk = PrecomputedIO.readInfo(target)
        val payload = new Array[Byte](8 * 8 * 8 * 4)
        // the sink's table schema includes the bbox columns (ignored
        // by the writer — bounds derive from the grid), like s9
        val oneChunk = Seq((0L, 0L, 0L, 0L, 0L, 0L, 8L, 8L, 8L, payload))
          .toDF("gx", "gy", "gz", "x0", "y0", "z0", "x1", "y1", "z1",
            "payload")
        val rows = (0 until 4).map { m =>
          val accepted =
            try {
              oneChunk.write.format("neuroglancer").mode("append")
                .option("mip", m).save(target)
              1L
            } catch { case _: IllegalStateException => 0L }
          (m.toLong,
            if (fromDisk.lockedMips.contains(m)) 1L else 0L, accepted)
        }
        rows.toDF("mip", "locked", "accepted")
      },
      Some("""SELECT CAST(m AS BIGINT) AS mip,
        |  CAST(m % 2 AS BIGINT) AS locked,
        |  CAST((m + 1) % 2 AS BIGINT) AS accepted
        |FROM (SELECT unnest(range(4)) AS m)""".stripMargin)),

    // S16 pathway 2: unsharded -> sharded transfer — the chunk stream
    // regroups by shard (one shuffle) and each task synthesizes its
    // shard file; read back through the sharded cutout path
    "s16_transfer_sharded" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s16_sharded"
        Fixtures.rmTree(target)
        PrecomputedIO.writeInfo(target, metaSharded)
        ShardedIO.writeSharded(
          PrecomputedIO.readChunks(s, LayerDir)
            .select(col("gx"), col("gy"), col("gz"), col("payload")),
          target, metaSharded, 0)
        ShardedIO.cutoutVoxelsSharded(s, target,
          Bbox(Vec3(3, 5, 2), Vec3(55, 49, 26)))
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 3 AND 54 AND y BETWEEN 5 AND 48
        |  AND z BETWEEN 2 AND 25""".stripMargin)),

    // S14 SHARDED black-chunk elision (test_sharding.py:325
    // test_write_image_shard_empty / :357 _partly_empty): all-black
    // chunks are dropped BEFORE shard synthesis, so a fully-black
    // shard leaves NO file and a partly-black shard omits those
    // labels from its index. The spec here puts one chunk per shard
    // (shardBits = morton width, identity hash), so every elided
    // chunk exercises the missing-shard-file -> label-absent read
    // path end-to-end, and present chunks read back through the
    // normal index + ranged-read path. The oracle keeps only voxels
    // of non-elided chunks.
    "s14b_sharded_black_elision" -> Q(
      (s, dir) => XferQueries.synchronized {
        val target = s"${RealLayerQueries.Root}/layer_s14b"
        Fixtures.rmTree(target)
        // 64x64x32 vol, 16x16x8 chunks -> 4x4x4 grid, 6-bit morton:
        // one chunk per shard
        val spec = ShardingSpec(
          preshiftBits = 0, minishardBits = 0, shardBits = 6,
          hashName = "identity",
          minishardIndexEncoding = "gzip", dataEncoding = "gzip")
        val scaleB = ScaleMeta(
          key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
          chunkSize = Vec3(16, 16, 8), size = Vec3(64, 64, 32),
          voxelOffset = Vec3(0, 0, 0), sharding = Some(spec))
        val metaB = VolumeMeta(layerType = "segmentation",
          dataType = "uint32", numChannels = 1, scales = Seq(scaleB))
        PrecomputedIO.writeInfo(target, metaB)
        import s.implicits._
        val bounds = scaleB.bounds
        val cs = scaleB.chunkSize
        val chunks = s.range(4L * 4 * 4)
          .map { id =>
            val gx = id % 4; val gy = (id / 4) % 4; val gz = id / 16
            (gx, gy, gz)
          }
          // black-chunk elision: every 3rd grid cell is all-background
          // and is dropped before synthesis (delete_black_uploads)
          .filter(g => (g._1 + g._2 + g._3) % 3 != 0)
          .map { case (gx, gy, gz) =>
            val cb = Geom.chunkBbox(Vec3(gx, gy, gz), bounds, cs)
            val bb = java.nio.ByteBuffer.allocate(4 * cb.volume.toInt)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var z = cb.minpt.z
            while (z < cb.maxpt.z) {
              var y = cb.minpt.y
              while (y < cb.maxpt.y) {
                var x = cb.minpt.x
                while (x < cb.maxpt.x) {
                  val idx = (x - cb.minpt.x) + cb.size.x *
                    ((y - cb.minpt.y) + cb.size.y * (z - cb.minpt.z))
                  bb.putInt(4 * idx.toInt,
                    (x * 10000L + y * 100 + z).toInt)
                  x += 1
                }
                y += 1
              }
              z += 1
            }
            (gx, gy, gz, bb.array())
          }.toDF("gx", "gy", "gz", "payload")
        ShardedIO.writeSharded(chunks, target, metaB, 0)
        ShardedIO.cutoutVoxelsSharded(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(64, 64, 32)))
      }: DataFrame,
      Some("""WITH ids AS (SELECT unnest(range(131072)) AS i),
        |v AS (SELECT i % 64 AS x, (i // 64) % 64 AS y, i // 4096 AS z
        |      FROM ids)
        |SELECT x, y, z, x * 10000 + y * 100 + z AS label
        |FROM v
        |WHERE (x // 16 + y // 16 + z // 8) % 3 <> 0""".stripMargin)),

    // S16 pathway 2b, reversed: sharded -> unsharded migration. The
    // reference flips the metadata with to_unsharded (image/
    // __init__.py:855-857 pops the sharding spec) and moves the data
    // with transfer_to; here the neuroglancer scan reads the shards
    // chunk-level (index + coalesced byte-range reads, each shard's
    // chunks planned into one task — never whole-file), and the
    // unsharded sink writes one object per chunk. No shuffle at all:
    // the scan groups chunks by shard at planning time and the writer
    // is embarrassingly parallel — the plan a petabyte un-sharding needs.
    // delete-and-rewrite of a fixed target dir: serialized on the
    // object lock (same discipline as the ensure* builders) so two
    // concurrent invocations can't interleave deletes with writes
    "s16_transfer_unsharded" -> Q(
      (s, dir) => XferQueries.synchronized {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s16_unsharded"
        Fixtures.rmTree(target)
        val metaUnsharded = metaSharded.copy(scales =
          Seq(metaSharded.scale(0).copy(sharding = None)))
        PrecomputedIO.writeInfo(target, metaUnsharded)
        val full = Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ))
        PrecomputedIO.writeChunks(
          ShardedIO.readChunksSharded(s,
              RealLayerQueries.LayerShardedDir, full)
            .select(col("gx"), col("gy"), col("gz"), col("payload")),
          target, metaUnsharded, 0)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(2, 6, 3), Vec3(54, 50, 25)))
      }: DataFrame,
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 2 AND 53 AND y BETWEEN 6 AND 49
        |  AND z BETWEEN 3 AND 24""".stripMargin)),

    // S16 RESHARD: migrate a sharded layer to DIFFERENT shard
    // parameters (to_sharded with a new compute_shard_params result —
    // the re-tune a petabyte layer needs when its shard files grew
    // past the object-store sweet spot). Chunk-level ranged reads
    // from the source shards, ONE regroup shuffle keyed by the NEW
    // spec's shard number, per-task shard synthesis, read back
    // through the sharded cutout path against the new spec. Chunks
    // move once; voxels never explode.
    "s16_reshard" -> Q(
      (s, dir) => XferQueries.synchronized {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s16_reshard"
        Fixtures.rmTree(target)
        // new parameters: 2 shards x 8 minishards (source: 4 x 4)
        val newSpec = ShardingSpec(
          preshiftBits = 0, minishardBits = 3, shardBits = 1,
          hashName = "identity",
          minishardIndexEncoding = "gzip", dataEncoding = "gzip")
        val metaResharded = metaSharded.copy(scales =
          Seq(metaSharded.scale(0).copy(sharding = Some(newSpec))))
        PrecomputedIO.writeInfo(target, metaResharded)
        val full = Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ))
        ShardedIO.writeSharded(
          ShardedIO.readChunksSharded(s,
              RealLayerQueries.LayerShardedDir, full)
            .select(col("gx"), col("gy"), col("gz"), col("payload")),
          target, metaResharded, 0)
        ShardedIO.cutoutVoxelsSharded(s, target,
          Bbox(Vec3(4, 3, 1), Vec3(52, 51, 27)))
      }: DataFrame,
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 4 AND 51 AND y BETWEEN 3 AND 50
        |  AND z BETWEEN 1 AND 26""".stripMargin)),

    // S16 pathway 4: transfer with a DIFFERENT chunk size — the
    // reference's transfer_to(chunk_size=...) re-gridding
    // (xfer.py:59-493 dest_chunk_size). Source chunks 16x16x8 align
    // 2x2x2 into 32x32x16 targets, so the regroup shuffles CHUNK
    // payloads (<= 8 fragments per target, one groupByKey), never
    // exploded voxels — the shape that holds when a petabyte layer
    // rechunks: data moves once, chunk-granular.
    "s16_transfer_rechunk" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s16_rechunk"
        val tcs = Vec3(32, 32, 16)
        val scale0 = meta.scale(0)
        val metaRechunk =
          meta.copy(scales = Seq(scale0.copy(chunkSize = tcs)))
        PrecomputedIO.writeInfo(target, metaRechunk)
        val bounds = scale0.bounds
        import s.implicits._
        val rechunked = PrecomputedIO.readChunks(s, LayerDir)
          .select(col("gx"), col("gy"), col("gz"),
            col("x0"), col("y0"), col("z0"),
            col("x1"), col("y1"), col("z1"), col("payload"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
            Array[Byte])]
          .groupByKey(r => (r._1 / 2, r._2 / 2, r._3 / 2))
          .mapGroups { (key: (Long, Long, Long),
              it: Iterator[(Long, Long, Long, Long, Long, Long, Long, Long,
                Long, Array[Byte])]) =>
            val (tgx, tgy, tgz) = key
            val tb = Geom.chunkBbox(Vec3(tgx, tgy, tgz), bounds, tcs)
            val arr = new Array[Long](tb.volume.toInt)
            it.foreach { case (_, _, _, x0, y0, z0, x1, y1, z1, p) =>
              val vox = Codec.decodeRawToLongs(p, 4)
              val sx = x1 - x0
              val sy = y1 - y0
              var z = z0
              while (z < z1) {
                var y = y0
                while (y < y1) {
                  var x = x0
                  while (x < x1) {
                    arr(((x - tb.minpt.x) + tb.size.x * ((y - tb.minpt.y) +
                      tb.size.y * (z - tb.minpt.z))).toInt) =
                      vox(((x - x0) + sx * ((y - y0) + sy * (z - z0))).toInt)
                    x += 1
                  }
                  y += 1
                }
                z += 1
              }
            }
            (tgx, tgy, tgz, Codec.encodeRawFromLongs(arr, 4,
              java.nio.ByteOrder.LITTLE_ENDIAN))
          }.toDF("gx", "gy", "gz", "payload")
        PrecomputedIO.writeChunks(rechunked, target, metaRechunk, 0)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(4, 6, 3), Vec3(53, 51, 25)))
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 4 AND 52 AND y BETWEEN 6 AND 50
        |  AND z BETWEEN 3 AND 24""".stripMargin)),

    // S16 pathway 3: transfer WITH downsample — the reference's
    // transfer_to builds lower mips in the same pass (xfer.py:59-493 +
    // igneous-style downsample cascade). Scale shape: the 2x2x2 mode
    // pool happens INSIDE each source chunk's decode task (chunk sizes
    // are even, so pool windows never straddle a chunk boundary), and
    // only the 1/8-size pooled blocks shuffle — one groupBy keyed by
    // destination chunk, 8 octant blocks per group, no voxel-row
    // explosion anywhere. This is the igneous downsample-task plan: a
    // petabyte transfer moves an eighth of a petabyte once. Oracle: the
    // same majority vote computed by DuckDB from the voxel sidecar.
    "s16_transfer_downsample" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        val target = s"${RealLayerQueries.Root}/layer_s16_ds"
        val sc1 = meta.scale(1)
        // the (gx/2, gy/2, gz/2) octant keying below is only correct
        // while the mip-1 chunk size equals the mip-0 one, and the
        // boundary-free 2x2x2 pooling needs even chunk dims — fail
        // loudly if a future fixture change breaks either assumption
        require(sc1.chunkSize == Vec3(RealLayerQueries.CX,
          RealLayerQueries.CY, RealLayerQueries.CZ),
          s"octant keying assumes mip-1 chunk size == mip-0 (${sc1.chunkSize})")
        require(RealLayerQueries.CX % 2 == 0 && RealLayerQueries.CY % 2 == 0 &&
          RealLayerQueries.CZ % 2 == 0,
          "2x2x2 pool windows need even chunk dims to stay chunk-local")
        val metaDs = meta.copy(scales = Seq(sc1))
        // narrow per-chunk stage: decode -> mode-pool -> octant block
        val blocks = PrecomputedIO.readChunks(s, LayerDir)
          .select(col("gx"), col("gy"), col("gz"), col("x0"), col("y0"),
            col("z0"), col("x1"), col("y1"), col("z1"), col("payload"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Array[Byte])]
          .map { case (gx, gy, gz, x0, y0, z0, x1, y1, z1, p) =>
            val w = (x1 - x0).toInt; val h = (y1 - y0).toInt
            val d = (z1 - z0).toInt
            val vox = Codec.decodeRawToLongs(p, 4)
            val pw = (w + 1) / 2; val ph = (h + 1) / 2; val pd = (d + 1) / 2
            val out = new Array[Long](pw * ph * pd)
            val mem = new Array[Long](8)
            var pz = 0
            while (pz < pd) {
              var py = 0
              while (py < ph) {
                var px = 0
                while (px < pw) {
                  var n = 0
                  var dz = 0
                  while (dz < 2) {
                    val z = pz * 2 + dz
                    if (z < d) {
                      var dy = 0
                      while (dy < 2) {
                        val y = py * 2 + dy
                        if (y < h) {
                          var dx = 0
                          while (dx < 2) {
                            val x = px * 2 + dx
                            if (x < w) { mem(n) = vox(x + w * (y + h * z)); n += 1 }
                            dx += 1
                          }
                        }
                        dy += 1
                      }
                    }
                    dz += 1
                  }
                  // majority vote, smallest label on ties (matches the
                  // oracle's ORDER BY cnt DESC, label ASC)
                  var best = 0L; var bestCnt = -1
                  var i = 0
                  while (i < n) {
                    val v = mem(i); var c = 0; var j = 0
                    while (j < n) { if (mem(j) == v) c += 1; j += 1 }
                    if (c > bestCnt || (c == bestCnt && v < best)) {
                      best = v; bestCnt = c
                    }
                    i += 1
                  }
                  out(px + pw * (py + ph * pz)) = best
                  px += 1
                }
                py += 1
              }
              pz += 1
            }
            (gx / 2, gy / 2, gz / 2, x0 / 2, y0 / 2, z0 / 2, pw, ph, pd,
              Codec.encodeRawFromLongs(out, 4))
          }.toDF("gx", "gy", "gz", "bx", "by", "bz", "bw", "bh", "bd", "blk")
        // the only shuffle: pooled octant blocks -> destination chunk
        val chunksDs = blocks.groupBy("gx", "gy", "gz")
          .agg(collect_list(struct(col("bx"), col("by"), col("bz"),
            col("bw"), col("bh"), col("bd"), col("blk"))).as("blocks"))
          .as[(Long, Long, Long, Seq[(Long, Long, Long, Int, Int, Int, Array[Byte])])]
          .map { case (gx, gy, gz, bs) =>
            val cb = Geom.chunkBbox(Vec3(gx, gy, gz), sc1.bounds, sc1.chunkSize)
            val wOut = cb.size.x.toInt; val hOut = cb.size.y.toInt
            val arr = new Array[Long](cb.volume.toInt)
            bs.foreach { case (bx, by, bz, bw, bh, bd, blk) =>
              val v = Codec.decodeRawToLongs(blk, 4)
              var z = 0
              while (z < bd) {
                var y = 0
                while (y < bh) {
                  var x = 0
                  while (x < bw) {
                    arr((bx + x - cb.minpt.x).toInt + wOut *
                      ((by + y - cb.minpt.y).toInt + hOut *
                        (bz + z - cb.minpt.z).toInt)) = v(x + bw * (y + bh * z))
                    x += 1
                  }
                  y += 1
                }
                z += 1
              }
            }
            (gx, gy, gz, Codec.encodeRawFromLongs(arr, 4))
          }.toDF("gx", "gy", "gz", "payload")
        PrecomputedIO.writeInfo(target, metaDs)
        PrecomputedIO.writeChunks(chunksDs, target, metaDs, mip = 0)
        PrecomputedIO.cutoutVoxels(s, target, sc1.bounds)
      },
      Some(s"""WITH pooled AS (
        |  SELECT x // 2 AS x, y // 2 AS y, z // 2 AS z, label,
        |         count(*) AS cnt
        |  FROM $Sidecar GROUP BY 1, 2, 3, 4),
        |ranked AS (
        |  SELECT x, y, z, label, row_number() OVER (
        |    PARTITION BY x, y, z ORDER BY cnt DESC, label ASC) AS rn
        |  FROM pooled)
        |SELECT x, y, z, label FROM ranked WHERE rn = 1""".stripMargin)),

    // S13: aligned bulk delete + exists summary over the full grid
    "s13_delete" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s13"
        WriteQueries.cloneLayer(s, target)
        deleteChunks(s, target, DeleteBox)
        // exists probe: the planned grid left-joined against the
        // surviving chunk OBJECTS (object-store listing; the listing
        // is metadata-sized, image/__init__.py:484-513)
        import scala.jdk.CollectionConverters._
        val scale = meta.scale(0)
        val names = Files.list(Paths.get(target, scale.key)).iterator.asScala
          .map(_.getFileName.toString.stripSuffix(".gz")).toSeq
        import s.implicits._
        val present = names.toDF("name")
          .withColumn("b", Derived.parseFilenameUdf(col("name")))
          .select(
            (col("b._1") / CX).cast("long").as("gx"),
            (col("b._2") / CY).cast("long").as("gy"),
            (col("b._3") / CZ).cast("long").as("gz"),
            lit(true).as("present"))
        s.range(4 * 4 * 4).select(
            (col("id") % 4).as("gx"),
            ((col("id") / 4).cast("long") % 4).as("gy"),
            (col("id") / 16).cast("long").as("gz"))
          .join(broadcast(present), Seq("gx", "gy", "gz"), "left")
          .select(col("gx"), col("gy"), col("gz"),
            coalesce(col("present"), lit(false)).as("exists"))
      },
      Some(s"""WITH g AS (SELECT DISTINCT x // $CX AS gx, y // $CY AS gy,
        |    z // $CZ AS gz FROM $Sidecar)
        |SELECT gx, gy, gz,
        |  NOT (gx BETWEEN 1 AND 2 AND gy BETWEEN 1 AND 2
        |       AND gz BETWEEN 1 AND 2) AS "exists"
        |FROM g""".stripMargin)),

    // S15: fill_missing — the deleted region reads back as background
    // zeros through the DSv2 scan's null-payload rows
    "s15_fill_missing" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s15"
        WriteQueries.cloneLayer(s, target)
        deleteChunks(s, target, DeleteBox)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)), fillMissing = true)
      },
      Some(s"""SELECT x, y, z,
        |  CASE WHEN x // $CX BETWEEN 1 AND 2 AND y // $CY BETWEEN 1 AND 2
        |            AND z // $CZ BETWEEN 1 AND 2
        |       THEN 0 ELSE label END AS label
        |FROM $Sidecar""".stripMargin)),

    // S15 background_color variant (test_cloudvolume.py:85-140;
    // image/rx.py background buffers honor the session's
    // background_color, not just 0): the deleted region reads back as
    // the configured background value through the same null-payload
    // path, and the ContainsGateRule credits missing chunks with the
    // background label instead of 0
    "s15b_fill_missing_bg" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s15b"
        WriteQueries.cloneLayer(s, target)
        deleteChunks(s, target, DeleteBox)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)), fillMissing = true,
          background = 7L)
      },
      Some(s"""SELECT x, y, z,
        |  CASE WHEN x // $CX BETWEEN 1 AND 2 AND y // $CY BETWEEN 1 AND 2
        |            AND z // $CZ BETWEEN 1 AND 2
        |       THEN 7 ELSE label END AS label
        |FROM $Sidecar""".stripMargin)),

    // S17: memory cutout — cutout pinned via cache + temp view
    "s17_memory_cutout" -> Q(
      (s, dir) => {
        ensure(s, dir)
        // release the PREVIOUS invocation's pinned cutout before
        // re-pinning: createOrReplaceTempView swaps the view but the
        // old cache entry stays registered in the CacheManager, so a
        // repeated invocation (bench passes, long sessions) would pin
        // one dead cutout per call
        if (s.catalog.tableExists("graft_mem_cutout"))
          try s.catalog.uncacheTable("graft_mem_cutout")
          catch { case _: Exception => () } // view existed but uncached
        val cut = PrecomputedIO.cutoutVoxels(s, LayerDir,
          Bbox(Vec3(8, 4, 6), Vec3(40, 36, 22))).cache()
        cut.createOrReplaceTempView("graft_mem_cutout")
        s.table("graft_mem_cutout")
      },
      Some(s"""SELECT x, y, z, label FROM $Sidecar
        |WHERE x BETWEEN 8 AND 39 AND y BETWEEN 4 AND 35
        |  AND z BETWEEN 6 AND 21""".stripMargin)),
  )
}
