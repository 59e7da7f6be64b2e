package graft.sources

import java.io.RandomAccessFile
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Sharded precomputed layer I/O (S5/S6/S12/J3/A7).
  *
  * Image chunks are keyed by compressed morton code of their grid
  * coordinates (rx.py:75-84); morton -> (shard file, minishard) via
  * the sharding spec (sharding.py:154-162). Reads never load whole
  * shards: the fixed index is one bounded range read, each needed
  * minishard index is one range read, and chunk data reads are
  * coalesced into bundles (sharding.py:731-766) — the same access
  * pattern object-store byte-range GETs need at 100 TB.
  *
  * Chunk reads are the `neuroglancer` scan's: it plans each shard's
  * chunks into one task, which reads them with [[readLabels]]. Every
  * other label-keyed object (annotations, skeletons) is read with
  * [[readLabeled]] and written with [[writeLabeled]], sharded or not as
  * the layer's info declares.
  *
  * Write = S12 shard synthesis through the one chunk sink: one shuffle
  * groups each shard's chunks into one task, which assembles the file
  * with ShardCodec.synthesizeShard (sharding.py:868-983), then
  * embarrassingly parallel file assembly.
  */
object ShardedIO {

  /** The one bounded byte-range read of every shard index kind
    * (precomputed minishards, zarr3 `sharding_indexed`), validated
    * against the file itself: index offsets and sizes are UNTRUSTED file
    * bytes (a crc32c catches corruption, not a crafted index), and
    * allocating `len.toInt` straight off a corrupt index is a decode
    * bomb (a 2^40 range truncates to a negative or multi-GB allocation
    * before readFully ever hits EOF) — the same hostile-input rail as
    * Brotli/Draco/Compresso's output ceilings. The range must lie in the
    * file (overflow-safe: `off + len` can wrap negative for an offset
    * near 2^63), fit `maxLen` (a JVM array at most), and be there to
    * read.
    */
  private[sources] def rangedRead(raf: RandomAccessFile, off: Long, len: Long,
      what: String, maxLen: Int = Int.MaxValue): Array[Byte] = {
    val flen = raf.length()
    require(off >= 0 && len >= 0 && off <= flen - len,
      s"corrupt shard index: $what range [$off, +$len) outside the " +
        s"$flen-byte shard file")
    require(len <= maxLen, s"corrupt shard index: $what range [$off, " +
      s"+$len) exceeds the $maxLen-byte single-read ceiling")
    val buf = new Array[Byte](len.toInt)
    raf.seek(off)
    try raf.readFully(buf)
    catch {
      case _: java.io.EOFException => throw new IllegalArgumentException(
        s"corrupt shard: EOF inside $what range [$off, +$len)")
    }
    buf
  }

  /** (minishard, entry) of minishards `msns` of an open shard file: the
    * fixed index, then one bounded read per non-empty minishard index. */
  private def indexEntries(raf: RandomAccessFile, spec: ShardingSpec,
      msns: Seq[Long]): Seq[(Long, ShardCodec.MinishardEntry)] = {
    val fixed = ShardCodec.decodeFixedIndex(
      rangedRead(raf, 0L, ShardCodec.indexLength(spec), "fixed index"), spec)
    msns.flatMap { msn =>
      val (s0, e0) = fixed(msn.toInt)
      if (e0 <= s0) Seq.empty
      else ShardCodec.decodeMinishardIndex(
        rangedRead(raf, s0, e0 - s0, "minishard index"), spec).map(msn -> _)
    }
  }

  /** (label, payload) of each of `labels` stored in the shard files of
    * `dir`, read in the calling task: labels grouped by shard file, each
    * shard read with [[readLabelsRanged]]. An absent label, or one in an
    * unwritten shard, yields nothing (sharding.py:573-579). The task
    * side of [[readLabeled]] and of the scan's sharded chunk reads. */
  def readLabels(dir: String, spec: ShardingSpec,
      labels: Seq[Long]): Iterator[(Long, Array[Byte])] =
    labels.groupBy(spec.shardLocation(_)._1).iterator.flatMap { case (shard, ls) =>
      readLabelsRanged(Paths.get(dir, spec.shardFilename(shard)).toString, spec, ls)
    }

  /** Ranged read of a label set from ONE shard file — fixed index,
    * then only the needed minishard indexes, then data ranges
    * coalesced into bundled reads (sharding.py:731-766). Never loads
    * the whole shard: the executor-side access pattern that survives
    * multi-GB shards (byte-range GETs at 100 TB). Returns (label,
    * payload) for the labels present, gunzipped per the spec's data
    * encoding.
    */
  def readLabelsRanged(shardPath: String, spec: ShardingSpec,
      labels: Seq[Long]): Seq[(Long, Array[Byte])] =
    readLabelsRangedWithOffsets(shardPath, spec, labels)
      .map(t => (t._1, t._3))

  /** Like readLabelsRanged but also returns each record's absolute
    * byte offset in the shard file — the `shard_offset` the sharded
    * multires-mesh reader needs to locate the fragment bytes laid
    * BEFORE the manifest (mesh/multilod.py:206-223,282-284
    * `return_byte_range=True`).
    */
  def readLabelsRangedWithOffsets(shardPath: String, spec: ShardingSpec,
      labels: Seq[Long]): Seq[(Long, Long, Array[Byte])] = {
    val want = labels.toSet
    // a probe may hash to a shard that was never written (e.g. a
    // spatial bbox over an empty cell): the reference treats a missing
    // shard as "label absent" (sharding.py:573-579 returns None), so
    // yield no rows rather than failing the task
    if (!Files.exists(Paths.get(shardPath))) return Seq.empty
    val raf = new RandomAccessFile(shardPath, "r")
    try {
      val entries = indexEntries(raf, spec,
        labels.map(l => spec.shardLocation(l)._2).distinct)
        .map(_._2).filter(e => want.contains(e.label))
      // coalesce adjacent data ranges into bundled reads (S7/W3)
      val ranges = entries.map(e => (e.offset, e.offset + e.size))
      val bundles = ShardIndex.coalesceRanges(ranges)
      val data = bundles.map { case (s0, e0) =>
        (s0, rangedRead(raf, s0, e0 - s0, "data bundle"))
      }
      def slice(off: Long, len: Long): Array[Byte] = {
        val (bs, bbuf) = data.find { case (s0, b) =>
          off >= s0 && off + len <= s0 + b.length }.get
        java.util.Arrays.copyOfRange(bbuf, (off - bs).toInt,
          (off - bs + len).toInt)
      }
      entries.map { e =>
        val raw = slice(e.offset, e.size)
        (e.label, e.offset,
          if (spec.dataEncoding == "gzip") Codec.gunzip(raw) else raw)
      }
    } finally raf.close()
  }

  /** Label `l`'s own object: `dir/<l as an unsigned (uint64) decimal>`. */
  private def labelPath(dir: String, l: Long): Path =
    Paths.get(dir, java.lang.Long.toUnsignedString(l))

  /** The one label-keyed read (annotations by id, relationship or
    * spatial cell, skeletons; ShardReader.get_data or a plain get,
    * sharding.py:670-788): (id, payload) of each of the distinct `ids`
    * stored under `dir`, laid out as the layer's info declares.
    *  - `Some(spec)`: ids grouped by shard file in one shuffle, each
    *    group read by one task with [[readLabels]].
    *  - `None`: each id its own object, read where the id is (no exchange).
    * An absent id, or one in an unwritten shard, yields no row. */
  def readLabeled(ids: Dataset[Long], dir: String,
      sharding: Option[ShardingSpec]): Dataset[(Long, Array[Byte])] = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    sharding match {
      case Some(spec) =>
        ids.groupByKey(spec.shardLocation(_)._1)(Encoders.scalaLong)
          .flatMapGroups((_, it: Iterator[Long]) => readLabels(dir, spec, it.toSeq))(enc)
      case None =>
        ids.flatMap { id =>
          try Some(id -> Files.readAllBytes(labelPath(dir, id)))
          catch { case _: NoSuchFileException => None }
        }(enc)
    }
  }

  /** S12: write chunk rows (gx, gy, gz, payload) as shard files, through
    * the one chunk sink ([[ChunkLayout.write]]): one shuffle groups each
    * shard's chunks, keyed by morton code, into one task, which
    * synthesizes the file whole. */
  def writeSharded(chunks: DataFrame, layerDir: String, meta: VolumeMeta,
      mip: Int): Unit = {
    val scale = meta.scale(mip)
    require(scale.isSharded, s"scale ${scale.key} is not sharded")
    ChunkLayout.write(chunks.select(col("gx"), col("gy"), col("gz"), col("payload")),
      ChunkLayout.precomputed(layerDir, meta, mip, fillMissing = false))
  }

  /** The write half of [[readLabeled]]: rows (label, payload) under
    * `dir`, every object through [[ChunkLayout.put]]. `Some(spec)`
    * groups rows by shard file in one shuffle and synthesizes each shard
    * whole (sharding.py:868-983); `None` puts one object per row. */
  def writeLabeled(rows: DataFrame, dir: String,
      sharding: Option[ShardingSpec]): Unit = {
    Files.createDirectories(Paths.get(dir))
    sharding match {
      case Some(spec) =>
        def shard(r: Row) = spec.shardLocation(r.getLong(0))._1
        ChunkLayout.putGroups(rows, shard)(rs =>
          Some(Paths.get(dir, spec.shardFilename(shard(rs.head))) ->
            ShardCodec.synthesizeShard(spec, rs.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)))))
      case None =>
        rows.foreachPartition { it: Iterator[Row] =>
          it.foreach(r => ChunkLayout.put(labelPath(dir, r.getLong(0)), r.getAs[Array[Byte]](1)))
        }
    }
  }

  /** S6/J3/A7: the minishard-index DataFrame — one row per stored
    * label: (shard_file, minishard, label, offset, size). Only index
    * regions are read (fixed index + minishard index tail), never
    * chunk data.
    */
  def minishardIndexDF(spark: SparkSession, layerDir: String, mip: Int = 0)
      : DataFrame = {
    val meta = PrecomputedIO.readInfo(layerDir)
    val scale = meta.scale(mip)
    val spec = scale.sharding.get
    val dir = Paths.get(layerDir, scale.key)
    import scala.jdk.CollectionConverters._
    val shardFiles = Files.list(dir).iterator.asScala
      .filter(_.toString.endsWith(".shard")).map(_.toString).toSeq.sorted
    import spark.implicits._
    spark.createDataset(shardFiles).flatMap { path =>
      val raf = new RandomAccessFile(path, "r")
      try {
        val name = Paths.get(path).getFileName.toString
        indexEntries(raf, spec, 0L until (1L << spec.minishardBits)).map {
          case (msn, e) => (name, msn, e.label, e.offset, e.size)
        }
      } finally raf.close()
    }.toDF("shard_file", "minishard", "label", "offset", "size")
  }

  /** Chunk rows (same schema as PrecomputedIO.readChunks) of the
    * sharded scale's chunks overlapping `bbox`: the pruned
    * `neuroglancer` scan, which resolves each task's shard groups
    * through the shard indexes. A chunk absent from its shard yields no
    * row. Shared by the S5 cutout and the sharded->unsharded transfer.
    */
  def readChunksSharded(spark: SparkSession, layerDir: String, bbox: Bbox,
      mip: Int = 0): DataFrame =
    PrecomputedIO.chunksIn(spark, layerDir, PrecomputedIO.readInfo(layerDir),
      bbox, mip, fillMissing = false)

  /** S5 sharded cutout: [[PrecomputedIO.cutoutVoxels]], which reads a
    * sharded scale through the same scan.
    */
  def cutoutVoxelsSharded(spark: SparkSession, layerDir: String, bbox: Bbox,
      mip: Int = 0): DataFrame =
    PrecomputedIO.cutoutVoxels(spark, layerDir, bbox, mip)
}
