package cvbench

import java.nio.file.{Files, Path, Paths}
import graft.core._

/** One stored chunk object: its grid point, its voxel box and the bytes
  * as they sit on disk (gzip). */
final case class Stored(grid: Vec3, bbox: Bbox, stored: Array[Byte])

/** What an op touches on disk, worked out by the benchmark from the
  * request and the layer files, never reported by the engine. */
object Objects {
  private def scaleDir(l: LayerRef): Path = Paths.get(l.dir, l.scale.key)

  def gridOf(l: LayerRef, bbox: Bbox): Seq[Vec3] =
    Geom.gridpoints(bbox, l.scale.bounds, l.scale.chunkSize)

  /** shard file name -> (morton label -> grid point) of a request. */
  private def byShard(l: LayerRef, bbox: Bbox): Map[String, Map[Long, Vec3]] = {
    val spec = l.scale.sharding.get
    val grid = l.scale.gridSize
    gridOf(l, bbox).map(g => (Morton.encode(g, grid), g))
      .groupBy { case (m, _) => spec.shardFilename(spec.shardLocation(m)._1) }
      .map { case (f, ms) => f -> ms.toMap }
  }

  /** The stored chunk objects of a request. */
  def read(l: LayerRef, bbox: Bbox): Seq[Stored] = {
    val s = l.scale
    if (!l.sharded) gridOf(l, bbox).map { g =>
      val cb = Geom.chunkBbox(g, s.bounds, s.chunkSize)
      Stored(g, cb, Files.readAllBytes(scaleDir(l).resolve(cb.toFilename + ".gz")))
    } else {
      val spec = s.sharding.get
      byShard(l, bbox).toSeq.flatMap { case (file, want) =>
        val shard = Files.readAllBytes(scaleDir(l).resolve(file))
        ShardCodec.allEntries(shard, spec).collect {
          case (_, e) if want.contains(e.label) =>
            val g = want(e.label)
            Stored(g, Geom.chunkBbox(g, s.bounds, s.chunkSize),
              java.util.Arrays.copyOfRange(shard, e.offset.toInt,
                (e.offset + e.size).toInt))
        }
      }
    }
  }

  def shardsTouched(l: LayerRef, bbox: Bbox): Int =
    if (l.sharded) byShard(l, bbox).size else 0

  /** Bytes a request fetches: whole chunk objects, or for a sharded
    * layer the fixed index, the needed minishard indexes and the chunk
    * records of each shard it touches. */
  def bytesRead(l: LayerRef, bbox: Bbox, objs: Seq[Stored]): Long = {
    val data = objs.map(_.stored.length.toLong).sum
    if (!l.sharded) data
    else {
      val spec = l.scale.sharding.get
      val idx = ShardCodec.indexLength(spec)
      data + byShard(l, bbox).toSeq.map { case (file, want) =>
        val shard = Files.readAllBytes(scaleDir(l).resolve(file))
        val fixed = ShardCodec.decodeFixedIndex(shard.take(idx.toInt), spec)
        val msns = want.keys.map(m => spec.shardLocation(m)._2.toInt).toSet
        idx + msns.toSeq.map { m => fixed(m)._2 - fixed(m)._1 }.sum
      }.sum
    }
  }
}
