package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.functions.DecodeVoxels

/** The chunk-table volume engine (SURVEY.md §1): a volume is a
  * DataFrame of chunk rows `(gx, gy, gz, payload)` where payload is the
  * Fortran-order raw encoding of the chunk's voxels (chunks.py:323-354).
  *
  * `fromVoxels` is the aligned-write path (tx.upload_aligned,
  * image/tx.py:193-260): shuffle voxels to their owning chunk, assemble
  * each dense payload once per chunk. `uniqueLabels` is the marquee
  * read pipeline (A1, frontends/precomputed.py:590-628): scan -> codec
  * `labels()` pushdown per chunk (no voxel-row explosion) -> partial +
  * final distinct.
  *
  * Scale notes: assembly is a single hash shuffle on the chunk key —
  * the same movement a 100 TB ingest needs, and each task only holds
  * its own chunks (chunk payload here is 16*16*8*8B = 16 KiB; real
  * volumes use the same bound). uniqueLabels never materializes a row
  * per voxel: labels are deduped inside the codec, then per-partition,
  * then globally — Spark's partial/final hash aggregate.
  */
object ChunkEngine {
  import Derived._

  val chunkSchema: StructType = StructType(Seq(
    StructField("gx", LongType, nullable = false),
    StructField("gy", LongType, nullable = false),
    StructField("gz", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Aligned write: voxel rows -> dense raw-encoded chunk payloads.
    * Voxel collisions resolve to the max label (deterministic);
    * unwritten voxels get background 0.
    *
    * Scale shape: ONE shuffle — `repartition(chunk key)` +
    * `sortWithinPartitions` + a streaming `mapPartitions` that holds
    * exactly one chunk's voxel array at a time. No `collect_list`
    * aggregation buffer: at real chunk sizes (128^3 x 8 B = 16 MiB) a
    * per-chunk struct list would dominate task memory; the sorted
    * stream assembles each payload in place (the plan the reference's
    * upload_aligned + generate_chunks iterator implies,
    * image/tx.py:193-260).
    */
  def fromVoxels(voxels: DataFrame, dtypeBytes: Int = 8): DataFrame = {
    val s = voxels.sparkSession
    val nVox = (CsX * CsY * CsZ).toInt
    val withChunk = voxels.select(
      idiv(col("x"), CsX).as("gx"), idiv(col("y"), CsY).as("gy"),
      idiv(col("z"), CsZ).as("gz"),
      // F-order voxel index within the chunk: dx + csx*(dy + csy*dz)
      ((col("x") % CsX) + ((col("y") % CsY) + (col("z") % CsZ) * CsY) * CsX)
        .cast("int").as("vidx"),
      col("label"))
    import s.implicits._
    withChunk.as[(Long, Long, Long, Int, Long)]
      .repartition(col("gx"), col("gy"), col("gz"))
      .sortWithinPartitions("gx", "gy", "gz", "vidx")
      .mapPartitions { it =>
        val b = it.buffered
        new Iterator[(Long, Long, Long, Array[Byte])] {
          override def hasNext: Boolean = b.hasNext
          override def next(): (Long, Long, Long, Array[Byte]) = {
            val (gx, gy, gz, _, _) = b.head
            val vox = new Array[Long](nVox)
            while (b.hasNext && b.head._1 == gx && b.head._2 == gy &&
              b.head._3 == gz) {
              val r = b.next()
              // same-vidx collisions arrive adjacent (sorted): max wins
              // — UNSIGNED max, so uint64 labels >= 2^63 (negative as
              // Long) still beat the 0 background (uint64 policy;
              // signed compare would silently drop them)
              if (java.lang.Long.compareUnsigned(r._5, vox(r._4)) > 0)
                vox(r._4) = r._5
            }
            (gx, gy, gz, Codec.encodeRawFromLongs(vox, dtypeBytes))
          }
        }
      }.toDF("gx", "gy", "gz", "payload")
  }

  /** A1 `unique`: distinct labels across chunk payloads via the
    * codec-level labels() pushdown (chunks.labels:362-393).
    */
  def uniqueLabels(chunks: DataFrame, dtypeBytes: Int = 8): DataFrame = {
    val labelsUdf = udf((payload: Array[Byte]) =>
      Codec.rawLabels(payload, dtypeBytes))
    chunks.select(explode(labelsUdf(col("payload"))).as("label")).distinct()
  }

  /** Remap labels inside encoded payloads (J4 at the codec level,
    * chunks.remap:395-421): decode -> map via broadcast -> re-encode.
    */
  def remapPayloads(chunks: DataFrame, mapping: Map[Long, Long],
      preserveMissing: Boolean, dtypeBytes: Int = 8): DataFrame = {
    val s = chunks.sparkSession
    val bc = s.sparkContext.broadcast(mapping)
    val remapUdf = udf((payload: Array[Byte]) => {
      val vox = Codec.decodeRawToLongs(payload, dtypeBytes)
      val m = bc.value
      var i = 0
      while (i < vox.length) {
        vox(i) = m.get(vox(i)) match {
          case Some(nv) => nv
          case None =>
            if (preserveMissing) vox(i)
            else throw new IllegalArgumentException(s"label ${vox(i)} unmapped")
        }
        i += 1
      }
      Codec.encodeRawFromLongs(vox, dtypeBytes)
    })
    chunks.withColumn("payload", remapUdf(col("payload")))
  }

  /** Read back a cutout as voxel rows from the chunk table (S4
    * download path, rx.py:239-379): partition-prune chunks against the
    * request bbox, decode only intersecting chunks in the shared
    * [[DecodeVoxels]] stage, emit voxel rows clipped to the bbox.
    * Chunks absent from the table are background-filled (S15
    * fill_missing, rx.py:864-870): a left join of the request's grid
    * against the chunk table leaves them a null payload.
    */
  def cutoutVoxels(chunks: DataFrame, bbox: Bbox, dtypeBytes: Int = 8): DataFrame = {
    val s = chunks.sparkSession
    import s.implicits._
    // request-scale grid enumeration (metadata-sized, not data-sized)
    val expected = Geom.gridpoints(bbox, volumeBounds, chunkSize)
      .map(g => (g.x, g.y, g.z))
    val pruned = expected.toDF("gx", "gy", "gz")
      .join(chunks, Seq("gx", "gy", "gz"), "left")
    DecodeVoxels.stage(pruned.select(
        (col("gx") * CsX).as("x0"), (col("gy") * CsY).as("y0"),
        (col("gz") * CsZ).as("z0"), ((col("gx") + 1) * CsX).as("x1"),
        ((col("gy") + 1) * CsY).as("y1"), ((col("gz") + 1) * CsZ).as("z1"),
        col("payload")),
      DecodeVoxels(DecodeVoxels.chunkCols, "raw", dtypeBytes, bbox))
  }
}
