package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.PrecomputedIO

/** Write-path operators over the real fixture layer:
  *
  * S10 non-aligned write (image/tx.py:147-191): the paint bbox is not
  * chunk-aligned, so boundary chunks must be read-modify-written —
  * decode the existing chunk, shade the overlap from the new image
  * (F14, image/common.py:176-227), re-encode. Chunks fully inside the
  * paint bbox (the aligned core) are encoded from the new data alone,
  * with no read — the core/shell split (T1) is what makes the write
  * O(shell) in IO, not O(bbox).
  *
  * S11 overwrite-partial (image/tx.py:35-61): same non-aligned bbox,
  * but boundary chunks are padded with background instead of being
  * read first — no read IO at all; voxels outside the paint bbox in
  * touched chunks become background.
  *
  * Both queries write a fresh target layer (originals copied for S10),
  * perform the write, then read the FULL volume back through the DSv2
  * source — the oracle paints the same image over the parquet sidecar
  * in SQL, so a green row proves the whole read-modify-write cycle.
  *
  * Scale shape: one shuffle groups paint voxels by chunk key; shell
  * chunks join existing payloads chunk-to-chunk (no voxel explosion of
  * the existing data); encode happens once per chunk in executor
  * tasks. At 100 TB the same plan holds — the shell is a 2-D surface
  * of the paint volume, so read amplification stays marginal.
  */
object WriteQueries {
  import RealLayerQueries.{ensure, LayerDir, meta, SX, SY, SZ, CX, CY, CZ}

  // deliberately misaligned on every axis
  val Paint: Bbox = Bbox(Vec3(5, 9, 3), Vec3(43, 51, 21))

  /** SQL-expressible paint image value at (x,y,z). */
  private val PaintSql = "9000000 + x + 100 * y + 10000 * z"

  /** Build the paint image as a chunk-grouped DataFrame:
    * (gx, gy, gz, vox: array<struct{x,y,z,label}>).
    */
  private def paintChunks(s: SparkSession): DataFrame = {
    val sz = Paint.size
    s.range(sz.x * sz.y * sz.z).select(
        (col("id") % sz.x + Paint.minpt.x).as("x"),
        ((col("id") / sz.x).cast("long") % sz.y + Paint.minpt.y).as("y"),
        ((col("id") / (sz.x * sz.y)).cast("long") + Paint.minpt.z).as("z"))
      .withColumn("label",
        lit(9000000L) + col("x") + lit(100L) * col("y") + lit(10000L) * col("z"))
      .withColumn("gx", floor(col("x") / CX).cast("long"))
      .withColumn("gy", floor(col("y") / CY).cast("long"))
      .withColumn("gz", floor(col("z") / CZ).cast("long"))
      .groupBy("gx", "gy", "gz")
      .agg(collect_list(struct(col("x"), col("y"), col("z"), col("label")))
        .as("vox"))
  }

  /** Encode one chunk: start from `base` voxels (decoded existing
    * payload, or background zeros), paint the new voxels over it.
    */
  private def shadeEncode(g: Vec3, base: Option[Array[Byte]],
      vox: Seq[Row]): (Long, Long, Long, Array[Byte]) = {
    val cb = Geom.chunkBbox(g, meta.scale(0).bounds, meta.scale(0).chunkSize)
    val w = cb.size.x; val h = cb.size.y
    val arr = base.map(Codec.decodeRawToLongs(_, 4))
      .getOrElse(new Array[Long](cb.volume.toInt))
    vox.foreach { r =>
      val x = r.getLong(0); val y = r.getLong(1); val z = r.getLong(2)
      arr(((x - cb.minpt.x) + w * ((y - cb.minpt.y) + h * (z - cb.minpt.z))).toInt) =
        r.getLong(3)
    }
    (g.x, g.y, g.z, Codec.encodeRawFromLongs(arr, 4))
  }

  /** Copy the fixture layer's chunk objects into a fresh target. */
  private[ops] def cloneLayer(s: SparkSession, target: String): Unit = {
    Fixtures.rmTree(target)
    PrecomputedIO.writeInfo(target, meta)
    // byte-level object copy: the chunk objects are already encoded,
    // so the clone moves bytes as-is — no decode/re-encode round-trip
    // and no scan planning. The listing is metadata-sized (one name
    // per object); the copies fan out to tasks like a distcp.
    val key = meta.scale(0).key
    import scala.jdk.CollectionConverters._
    val names = Files.list(Paths.get(LayerDir, key)).iterator.asScala
      .map(_.getFileName.toString).toSeq
    Files.createDirectories(Paths.get(target, key))
    val (srcDir, dstDir) = (s"$LayerDir/$key", s"$target/$key")
    import s.implicits._
    s.createDataset(names).foreachPartition { it: Iterator[String] =>
      it.foreach { n =>
        Files.copy(Paths.get(srcDir, n), Paths.get(dstDir, n),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  import org.apache.spark.sql.Encoders
  private implicit val chunkEnc:
      org.apache.spark.sql.Encoder[(Long, Long, Long, Array[Byte])] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.BINARY)

  /** S10: clone layer, non-aligned write with core/shell split. */
  private def nonAlignedWrite(s: SparkSession, target: String): Unit = {
    cloneLayer(s, target)
    val cs = meta.scale(0).chunkSize
    val paint = paintChunks(s)
    // core = chunk bbox fully inside the paint bbox: encode from new
    // data only. shell = the rest: join the existing chunk payload.
    val core = Bbox(Paint.minpt, Paint.maxpt).shrinkToChunkSize(cs)
    val isCore =
      col("gx") * CX >= core.minpt.x && (col("gx") + 1) * CX <= core.maxpt.x &&
      col("gy") * CY >= core.minpt.y && (col("gy") + 1) * CY <= core.maxpt.y &&
      col("gz") * CZ >= core.minpt.z && (col("gz") + 1) * CZ <= core.maxpt.z
    val coreChunks = paint.filter(isCore)
      .map { r => shadeEncode(Vec3(r.getLong(0), r.getLong(1), r.getLong(2)),
        None, r.getSeq[Row](3)) }
      .toDF("gx", "gy", "gz", "payload")
    // prune the existing-layer scan to the paint's chunk-expanded
    // bounds so the read side is O(shell), not O(layer) — the bbox
    // pushdown in the DSv2 source skips every untouched chunk file
    val touched = Paint.expandToChunkSize(cs)
    val existing = PrecomputedIO.readChunks(s, target)
      .filter(
        col("x1") > touched.minpt.x && col("x0") < touched.maxpt.x &&
        col("y1") > touched.minpt.y && col("y0") < touched.maxpt.y &&
        col("z1") > touched.minpt.z && col("z0") < touched.maxpt.z)
      .select(col("gx"), col("gy"), col("gz"), col("payload").as("old"))
    val shellChunks = paint.filter(!isCore)
      .join(existing, Seq("gx", "gy", "gz"), "left")
      .map { r => shadeEncode(Vec3(r.getLong(0), r.getLong(1), r.getLong(2)),
        Option(r.getAs[Array[Byte]]("old")), r.getSeq[Row](3)) }
      .toDF("gx", "gy", "gz", "payload")
    PrecomputedIO.writeChunks(coreChunks.unionAll(shellChunks), target, meta, 0)
  }

  /** S11: clone layer, overwrite-partial — every touched chunk is
    * encoded from paint data padded with background; no reads.
    */
  private def overwritePartial(s: SparkSession, target: String): Unit = {
    cloneLayer(s, target)
    val written = paintChunks(s)
      .map { r => shadeEncode(Vec3(r.getLong(0), r.getLong(1), r.getLong(2)),
        None, r.getSeq[Row](3)) }
      .toDF("gx", "gy", "gz", "payload")
    PrecomputedIO.writeChunks(written, target, meta, 0)
  }

  private val Sidecar =
    s"read_parquet('${RealLayerQueries.VoxelsDir}/*.parquet')"
  private val InPaint =
    s"""x >= ${Paint.minpt.x} AND x < ${Paint.maxpt.x}
       | AND y >= ${Paint.minpt.y} AND y < ${Paint.maxpt.y}
       | AND z >= ${Paint.minpt.z} AND z < ${Paint.maxpt.z}""".stripMargin

  val queries: Map[String, Q] = Map(

    "s10_nonaligned_write" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s10"
        nonAlignedWrite(s, target)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
      },
      Some(s"""SELECT x, y, z,
        |  CASE WHEN $InPaint THEN $PaintSql ELSE label END AS label
        |FROM $Sidecar""".stripMargin)),

    "s11_overwrite_partial" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val target = s"${RealLayerQueries.Root}/layer_s11"
        overwritePartial(s, target)
        PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
      },
      // touched chunks outside the paint get background 0; untouched
      // chunks keep their original sidecar values
      Some(s"""WITH g AS (SELECT x, y, z, label,
        |    x // $CX AS gx, y // $CY AS gy, z // $CZ AS gz FROM $Sidecar),
        |touched AS (SELECT DISTINCT x // $CX AS gx, y // $CY AS gy,
        |    z // $CZ AS gz FROM $Sidecar WHERE $InPaint)
        |SELECT x, y, z,
        |  CASE WHEN $InPaint THEN $PaintSql
        |       WHEN EXISTS (SELECT 1 FROM touched t
        |                    WHERE t.gx = g.gx AND t.gy = g.gy AND t.gz = g.gz)
        |         THEN 0
        |       ELSE label END AS label
        |FROM g""".stripMargin)),
  )
}
