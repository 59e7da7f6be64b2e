package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Bbox, ClipCursor, Codec, Compresso, Vec3}
import graft.sources.{PrecomputedIO, ShardedIO}

/** Golden-fixture parity over the reference's OWN committed compresso
  * layer, /root/reference/test/test_seg_unsharded (every mip is
  * compresso-encoded — info: "encoding": "compresso"). The DuckDB oracle
  * reads golden parquet produced by tools/compresso_oracle_gen.py, an
  * independent numpy decoder that self-verifies by regenerating the
  * boundary-window stream from its decoded labels — so the Scala codec
  * (core/Compresso.scala) is checked against both the reference's real
  * bytes and a second implementation.
  *
  * 100 TB shape notes: chunk files are enumerated at planning time
  * (metadata-sized driver listing, same as the S2 grid math), each task
  * reads + decodes whole chunks; a1 uses the O(metadata) labels() stream
  * scan (no voxel decode), and the counts entry aggregates INSIDE the
  * per-chunk decode (codec-level map-side combine) so the shuffle carries
  * labels-per-chunk rows, never voxels.
  */
object CompressoQueries {

  val RefLayer = "/root/reference/test/test_seg_unsharded"
  val Golden = "/root/repo/src/test/resources/golden"

  /** All chunk files of one mip as (x0, y0, z0, path) rows. */
  private def chunkFiles(s: SparkSession, mip: String): DataFrame = {
    import s.implicits._
    val dir = Paths.get(RefLayer, mip)
    val rows = {
      val st = Files.list(dir)
      try st.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.map(_.toString).filter(_.endsWith(".gz")).toVector.sorted
      finally st.close()
    }.map { p =>
      val name = Paths.get(p).getFileName.toString.stripSuffix(".gz")
      val Array(xs, ys, zs) = name.split("_")
      (xs.split("-")(0).toLong, ys.split("-")(0).toLong,
        zs.split("-")(0).toLong, p)
    }
    s.createDataset(rows).toDF("x0", "y0", "z0", "path")
      .repartition(8) // one decode task per chunk at this fixture size
  }

  private implicit class JIter[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  val queries: Map[String, Q] = Map(

    // S4 cutout over the reference's compresso golden layer at mip
    // 16_16_40, bbox spanning x/y/z chunk borders (8 chunks touched) —
    // decode through the DSv2 scan + codec dispatch, clip to bbox
    // (chunks.py:166-167 compresso.decompress; rx.py cutout stitch)
    "s4_cutout_compresso" -> Q(
      (s, dir) => {
        PrecomputedIO.cutoutVoxels(s, RefLayer,
          Bbox(Vec3(224, 224, 48), Vec3(288, 288, 112)), mip = 1)
      },
      Some(s"""SELECT x, y, z, label
        |FROM read_parquet('$Golden/compresso_cutout.parquet')""".stripMargin)),

    // The reference's progressive z-stack build (download_crackle,
    // image/__init__.py:250-301) re-expressed with the compresso codec
    // (crackle itself stays n/a — C++-only, no spec or library offline):
    // per z-slab of the bbox, download -> renumber to a slab-local dense
    // alphabet (first-seen F-order, the download(renumber=True) step) ->
    // codec-compress the small-alphabet array -> remap the binary's
    // LABEL TABLE back to global ids (Compresso.remapLabels, the
    // crackle.remap analogue: O(metadata), voxels never re-encoded) ->
    // stack. Distributed shape: slabs are independent tasks keyed by
    // chunk-z (the shuffle carries chunk payloads once); each task holds
    // one bbox-by-chunk-z slab — the same working set the reference's
    // per-slab download holds. The entry decodes the stacked members it
    // built and must reproduce the committed layer's voxels exactly
    // (same bbox + oracle as s4_cutout_compresso, so the renumber ->
    // encode -> remap -> decode chain is identity-checked against real
    // reference bytes it never saw as a whole).
    "s4e_zstack_compresso" -> Q(
      (s, dir) => {
        import s.implicits._
        val (bx0, bx1, by0, by1, bz0, bz1) = (224L, 288L, 224L, 288L, 48L, 112L)
        val cdim = 256L
        val czDim = 64L
        chunkFiles(s, "16_16_40")
          .filter(col("x0") < bx1 && col("x0") + cdim > bx0 &&
            col("y0") < by1 && col("y0") + cdim > by0 &&
            col("z0") < bz1 && col("z0") + czDim > bz0)
          .as[(Long, Long, Long, String)]
          .groupByKey(_._3) // z-slab = chunk-z row
          .flatMapGroups { (z0: Long, it: Iterator[(Long, Long, Long, String)]) =>
            val zlo = math.max(bz0, z0)
            val zhi = math.min(bz1, z0 + czDim)
            val (nx, ny, nz) = ((bx1 - bx0).toInt, (by1 - by0).toInt,
              (zhi - zlo).toInt)
            val sub = new Array[Long](nx * ny * nz)
            val slab = Bbox(Vec3(bx0, by0, zlo), Vec3(bx1, by1, zhi))
            it.foreach { case (cx0, cy0, cz0, path) =>
              val (cd, vox) = Compresso.decode(
                Codec.gunzip(Files.readAllBytes(Paths.get(path))))
              val c = new ClipCursor(vox.length, Vec3(cx0, cy0, cz0), cd, slab)
              while (c.next())
                sub(((c.x - bx0) + nx * ((c.y - by0) + ny * (c.z - zlo))).toInt) =
                  vox(c.i)
            }
            // renumber: slab-local dense alphabet, first-seen in F-order
            val fwd = new java.util.LinkedHashMap[Long, Long]()
            val ren = new Array[Long](sub.length)
            var i = 0
            while (i < sub.length) {
              var r = fwd.getOrDefault(sub(i), 0L) // ranks start at 1
              if (r == 0L) {
                r = fwd.size + 1L
                fwd.put(sub(i), r)
              }
              ren(i) = r
              i += 1
            }
            val inv = new java.util.HashMap[Long, Long]()
            fwd.forEach((k, v) => { inv.put(v, k); () })
            val member = Compresso.remapLabels(
              Compresso.encode(ren, graft.core.Vec3(nx, ny, nz)),
              v => inv.get(v))
            // the stack member must reproduce the global labels exactly
            val (_, out) = Compresso.decode(member)
            (0 until out.length).iterator.map { j =>
              val x = j % nx
              val y = (j / nx) % ny
              val z = j / (nx * ny)
              (bx0 + x, by0 + y, zlo + z, out(j))
            }
          }
          .toDF("x", "y", "z", "label")
      },
      Some(s"""SELECT x, y, z, label
        |FROM read_parquet('$Golden/compresso_cutout.parquet')""".stripMargin)),

    // S5 sharded cutout over REAL committed bytes: the reference ships
    // test_cv_sharded as metadata only (info + provenance, no shard
    // data anywhere in its tree), so tools/sharded_golden_gen.py packs
    // the committed 32_32_40 compresso chunks VERBATIM into one shard
    // under test_cv_sharded/info's exact sharding spec (preshift 9,
    // minishard/shard bits 0, identity hash, gzip data + gzip index)
    // with an independent python implementation of the container. This
    // entry reads it through the production sharded path — fixed index
    // -> minishard index -> coalesced ranged reads -> gunzip ->
    // compresso decode (rx.py:39-155, sharding.py:279-820) — against
    // an oracle decoded from the committed UNSHARDED bytes by the
    // independent python decoder, never from the shard.
    "s5c_cutout_sharded_golden" -> Q(
      (s, dir) => ShardedIO.cutoutVoxelsSharded(s, s"$Golden/sharded_seg",
        Bbox(Vec3(128, 192, 120), Vec3(160, 224, 136))),
      Some(s"""SELECT x, y, z, label
        |FROM read_parquet('$Golden/sharded_cutout.parquet')""".stripMargin)),

    // S12/S16 sharded SYNTHESIS of the golden layer — the exact
    // operation that would have produced test_cv_sharded from
    // test_seg_unsharded (transfer_to with a sharded target,
    // image/tx.py + sharding.py:868-983): the committed compresso
    // chunks are read verbatim, shuffled by shard key, synthesized
    // into the shard container by OUR writer under test_cv_sharded's
    // exact spec, and read back through the production ranged path.
    // The oracle is the same independent decode of the committed
    // unsharded bytes as s5c — so writer and reader are both checked
    // against ground truth that neither produced.
    "s16_transfer_sharded_golden" -> Q(
      (s, dir) => CompressoQueries.synchronized {
        import s.implicits._
        val target = "/tmp/graft_fixture/sharded_golden_xfer"
        Fixtures.rmTree(target)
        // the spec-bearing info committed with the python-built layer
        val meta = PrecomputedIO.readInfo(s"$Golden/sharded_seg")
        PrecomputedIO.writeInfo(target, meta)
        val chunks = chunkFiles(s, "32_32_40").as[(Long, Long, Long, String)]
          .map { case (x0, y0, z0, p) =>
            (x0 / 256, y0 / 256, z0 / 64,
              Codec.gunzip(Files.readAllBytes(Paths.get(p))))
          }.toDF("gx", "gy", "gz", "payload")
        ShardedIO.writeSharded(chunks, target, meta, mip = 0)
        ShardedIO.cutoutVoxelsSharded(s, target,
          Bbox(Vec3(128, 192, 120), Vec3(160, 224, 136)))
      },
      Some(s"""SELECT x, y, z, label
        |FROM read_parquet('$Golden/sharded_cutout.parquet')""".stripMargin)),

    // A1 unique over ALL mips of the golden layer via the codec-level
    // labels() stream scan: unique(chunk) == unique(ids) ++
    // unique(explicit locations) exactly, so no voxel is ever decoded
    // (compresso.labels(), chunks.py:388-389). Shuffle carries
    // (mip, label) pairs only.
    "a1_unique_compresso" -> Q(
      (s, dir) => {
        import s.implicits._
        val mips = Seq("8_8_40", "16_16_40", "32_32_40")
        mips.map { mip =>
          chunkFiles(s, mip)
            .select(lit(mip).as("mip"), col("path"))
            .as[(String, String)]
            .flatMap { case (m, p) =>
              Compresso.labels(Codec.gunzip(Files.readAllBytes(Paths.get(p))))
                .map(l => (m, l))
            }
            .toDF("mip", "label")
        }.reduce(_.union(_)).distinct()
      },
      Some(s"""SELECT DISTINCT mip, CAST(label AS BIGINT) AS label
        |FROM read_parquet('$Golden/compresso_labels.parquet')""".stripMargin)),

    // A10-style per-label voxel counts + coordinate sums over mip
    // 32_32_40, aggregated inside the per-chunk decode (the shuffle sees
    // labels x chunks rows, never 33.5M voxel rows) — the stats the
    // reference's image.unique/statistics path computes per cutout
    "a10_counts_compresso" -> Q(
      (s, dir) => {
        import s.implicits._
        chunkFiles(s, "32_32_40").as[(Long, Long, Long, String)]
          .flatMap { case (x0, y0, z0, p) =>
            val (dims, vox) =
              Compresso.decode(Codec.gunzip(Files.readAllBytes(Paths.get(p))))
            val sx = dims.x.toInt; val sy = dims.y.toInt; val sz = dims.z.toInt
            val acc = new java.util.HashMap[Long, Array[Long]]()
            var i = 0
            var z = 0
            while (z < sz) {
              var y = 0
              while (y < sy) {
                var x = 0
                while (x < sx) {
                  val v = vox(i)
                  var a = acc.get(v)
                  if (a == null) { a = new Array[Long](4); acc.put(v, a) }
                  a(0) += 1; a(1) += x0 + x; a(2) += y0 + y; a(3) += z0 + z
                  x += 1; i += 1
                }
                y += 1
              }
              z += 1
            }
            import scala.jdk.CollectionConverters._
            acc.asScala.iterator.map { case (l, a) =>
              (l, a(0), a(1), a(2), a(3))
            }.toVector
          }
          .toDF("label", "n", "sx", "sy", "sz")
          .groupBy("label")
          .agg(sum("n").as("voxels"), sum("sx").as("sum_x"),
            sum("sy").as("sum_y"), sum("sz").as("sum_z"))
      },
      Some(s"""SELECT CAST(label AS BIGINT) AS label, voxels, sum_x, sum_y, sum_z
        |FROM read_parquet('$Golden/compresso_counts.parquet')""".stripMargin)),

    // S16-style transcode: decode a compresso chunk, re-encode with the
    // engine's own compresso encoder, decode back and diff — plus sizes.
    // Proves the write path (chunks.py:107-108 compresso.compress) against
    // the reference's real bytes without asserting encoder byte parity
    // (RLE token choices are encoder-private).
    "s16_transcode_compresso" -> Q(
      (s, dir) => {
        import s.implicits._
        chunkFiles(s, "32_32_40").as[(Long, Long, Long, String)]
          .map { case (x0, y0, z0, p) =>
            val raw = Codec.gunzip(Files.readAllBytes(Paths.get(p)))
            val (dims, vox) = Compresso.decode(raw)
            val re = Compresso.encode(vox, dims)
            val (dims2, vox2) = Compresso.decode(re)
            val same = dims == dims2 && java.util.Arrays.equals(vox, vox2)
            (x0, y0, z0, vox.length.toLong, if (same) 1L else 0L)
          }
          .toDF("x0", "y0", "z0", "voxels", "roundtrip_ok")
      },
      Some("""SELECT x0, y0, z0, CAST(256*256*64 AS BIGINT) AS voxels,
        |  CAST(1 AS BIGINT) AS roundtrip_ok
        |FROM (SELECT CAST(0 AS BIGINT) AS x0, CAST(0 AS BIGINT) AS y0,
        |             CAST(z * 64 AS BIGINT) AS z0
        |      FROM range(8) t(z))""".stripMargin))
  )
}
