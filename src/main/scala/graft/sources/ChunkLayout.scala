package graft.sources

import java.io.RandomAccessFile
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption,
  StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graftshim.ScanShim
import graft.core._
import graft.functions.DecodeVoxels

/** How one stored grid maps onto the `neuroglancer` scan's chunk rows
  * (S1 "multiple on-disk dialects map to one logical model"): the one
  * descriptor [[NgScanBuilder]], [[NgScan]] and [[NgPartitionReader]]
  * read, for precomputed (sharded or not), zarr2/OME-zarr2, zarr3
  * (with `sharding_indexed`) and N5 alike.
  *
  * A row's payload is the chunk after its object-level codecs, in
  * `encoding`: precomputed chunks in the scale's encoding, every other
  * format's as little-endian F-order raw at `dtypeBytes`, so every
  * cutout decodes through the one [[DecodeVoxels]] stage. The one chunk
  * sink ([[ChunkLayout.write]]) takes payloads of the same form and
  * runs the steps backwards ([[objectOf]]).
  *
  * @param dir       the layer or array directory the scan is named by
  * @param label     what the scan's description names after `dir`
  * @param root      directory the chunk objects are named under
  * @param bounds    voxel bounds of the grid; grid point g starts at
  *                  `bounds.minpt + g * chunkSize`
  * @param clamp     edge chunks end at `bounds` (precomputed, N5) rather
  *                  than holding a full, fill-padded chunk (zarr)
  * @param keys      object naming of a grid point
  * @param shards    whether, and how, objects pack several chunks
  * @param missing   what an absent chunk object yields
  * @param steps     object bytes -> payload, in order
  * @param fill      what a null payload (an absent chunk) reads as
  */
final case class ChunkLayout(dir: String, label: String, root: String,
    bounds: Bbox, chunkSize: Vec3, clamp: Boolean, keys: ChunkLayout.Keys,
    shards: ChunkLayout.Shards, missing: ChunkLayout.Missing,
    steps: Seq[ChunkLayout.Step], encoding: String, dtypeBytes: Int,
    fill: Long = 0L, csegBlock: Vec3 = Vec3(8, 8, 8)) {
  import ChunkLayout._

  def gridSize: Vec3 = bounds.size.ceilDiv(chunkSize)

  def chunkBbox(g: Vec3): Bbox =
    if (clamp) Geom.chunkBbox(g, bounds, chunkSize)
    else {
      val lo = bounds.minpt + g * chunkSize
      Bbox(lo, lo + chunkSize)
    }

  /** The object holding the chunk at `g`: its own object, or its shard.
    * `lead` (t/c grid indices) replaces the key head's last entries. */
  def objectPath(g: Vec3, lead: Seq[Long] = Nil): Path = {
    def key(p: Vec3) = keys match {
      case Keys.BboxName => Paths.get(root, chunkBbox(p).toFilename)
      case k: Keys.Grid => Paths.get(root, k.name(p, lead))
    }
    shards match {
      case Shards.Unsharded => key(g)
      case Shards.Minishard(spec) => Paths.get(root, spec.shardFilename(shardOf(g)))
      case Shards.Indexed(per) => key(Vec3(g.x / per.x, g.y / per.y, g.z / per.z))
    }
  }

  /** The shard file a grid point's chunk lives in (-1 unsharded): the
    * partition planner keeps each shard's chunks in one task. */
  def shardOf(g: Vec3): Long = shards match {
    case Shards.Unsharded => -1L
    case Shards.Minishard(spec) => spec.shardLocation(Morton.encode(g, gridSize))._1
    case Shards.Indexed(per) =>
      val s = Vec3(g.x / per.x, g.y / per.y, g.z / per.z)
      val n = gridSize.ceilDiv(per)
      s.x + n.x * (s.y + n.y * s.z)
  }

  /** The decode stage of a cutout of `bbox` over this layout's rows; it
    * clips to `bounds` too, as a full-size edge chunk reaches past them. */
  def decoder(bbox: Bbox): DecodeVoxels = DecodeVoxels(DecodeVoxels.chunkCols,
    encoding, dtypeBytes, if (clamp) bbox else bbox.intersection(bounds),
    csegBlock, fill)

  /** (grid point, payload) of every chunk of `pts` that yields a row;
    * with `needPayload` false no chunk object is opened, except on a
    * precomputed sharded grid, where only the index knows which
    * chunks exist. */
  def read(pts: Seq[Vec3], needPayload: Boolean): Iterator[(Vec3, Array[Byte])] =
    shards match {
      case Shards.Unsharded => pts.iterator.flatMap { g =>
        if (!needPayload) Some(g -> null)
        else (keys match {
          // a precomputed object may carry a second-stage suffix
          case Keys.BboxName => PrecomputedIO.readChunkObject(objectPath(g), chunkSize)
          case _ => Some(objectPath(g)).filter(Files.exists(_)).map(Files.readAllBytes)
        }).fold(absent(g))(o => Some(g -> payload(o, g)))
      }
      case Shards.Minishard(spec) =>
        val byLabel = pts.map(g => Morton.encode(g, gridSize) -> g).toMap
        ShardedIO.readLabels(root, spec, byLabel.keys.toSeq)
          .map { case (l, p) => (byLabel(l), p) }
      case Shards.Indexed(per) =>
        pts.groupBy(shardOf).iterator.flatMap { case (_, gs) =>
          val shard = objectPath(gs.head)
          if (!needPayload) gs.map(_ -> null)
          else if (!Files.exists(shard)) gs.flatMap(absent)
          else {
            val raf = new RandomAccessFile(shard.toFile, "r")
            try {
              val index = Zarr3IO.shardIndex(raf, (per.x * per.y * per.z).toInt)
              gs.flatMap { g =>
                val (off, len) = index(Zarr3IO.innerSlot(
                  Vec3(g.x % per.x, g.y % per.y, g.z % per.z), per))
                if (off == Zarr3IO.MissingSlot) absent(g)
                else Some(g -> payload(ShardedIO.rangedRead(raf, off, len,
                  "zarr3 inner chunk", Codec.MaxDecodedChunkBytes), g))
              }
            } finally raf.close()
          }
        }
    }

  /** The row an absent chunk object yields under [[missing]]. */
  private def absent(g: Vec3): Option[(Vec3, Array[Byte])] = missing match {
    case Missing.Fill => Some(g -> null)
    case Missing.NoRow => None
    // precomputed (bbox-named) and N5, the formats that raise
    case Missing.Raise => throw (keys match {
      case Keys.BboxName => new java.io.FileNotFoundException(
        s"missing chunk ${chunkBbox(g).toFilename} " +
          "(set fill_missing=true to background-fill)")
      case _ => new java.util.NoSuchElementException(
        s"missing N5 block (${g.x},${g.y},${g.z}) in $dir — pass " +
          "fillMissing=true to read absent blocks as background")
    })
  }

  /** A chunk object's bytes -> the row's payload, through [[steps]]. */
  private def payload(obj: Array[Byte], g: Vec3): Array[Byte] = {
    val want = chunkBbox(g).size
    var dims = want
    var b = obj
    steps.foreach {
      case Step.Decompress(c, _) => b = Compressors.decompress(c, b, chunkSize)
      case Step.N5Header =>
        val (d, body) = N5IO.header(b, dtypeBytes)
        // edge blocks carry clamped dims; a header claiming MORE than
        // the block size would paste voxels into the neighbour's cell
        require(d.x <= chunkSize.x && d.y <= chunkSize.y && d.z <= chunkSize.z,
          s"corrupt n5 block ${objectPath(g)}: header dims $d exceed " +
            s"blockSize $chunkSize")
        dims = d
        b = body
      case Step.Frame(slot, _) =>
        val n = (dims.x * dims.y * dims.z).toInt * dtypeBytes
        val off = (slot * n).toInt
        // a short object must fail, not zero-pad: zarr chunks are full-size
        require(b.length >= off + n, s"truncated zarr chunk ${objectPath(g)}: " +
          s"${b.length} bytes, frame needs [$off, ${off + n})")
        if (off != 0 || b.length != n) b = java.util.Arrays.copyOfRange(b, off, off + n)
      case Step.CToF => b = transpose(b, dims, dtypeBytes, cToF = true)
      case Step.SwapBytes => b = swapBytes(b, dtypeBytes)
    }
    if (dims == want) b else fit(b, dims, want, dtypeBytes)
  }

  /** The object holding `chunks` (one chunk unsharded, a shard's chunks
    * sharded) and its bytes: each payload through [[steps]] backwards,
    * then the shard synthesized. A chunk whose payload equals `elide`
    * is not stored: it gets no object unsharded (None), no minishard
    * entry, or a Missing slot in a zarr3 shard. `method` is a
    * precomputed object's second-stage codec and name suffix.
    */
  def objectOf(chunks: Seq[Chunk], method: String = "none",
      elide: Option[Array[Byte]] = None): Option[(Path, Array[Byte])] = {
    val kept = chunks.filterNot(c => elide.exists(java.util.Arrays.equals(_, c.payload)))
    val path = objectPath(chunks.head.g, chunks.head.lead)
    shards match {
      case Shards.Unsharded => kept.headOption.map(c =>
        Paths.get(path.toString + PrecomputedIO.suffix(method)) ->
          Compressors.compress(method, encode(c.payload, c.g)))
      case Shards.Minishard(spec) => Some(path -> ShardCodec.synthesizeShard(spec,
        kept.map(c => Morton.encode(c.g, gridSize) -> encode(c.payload, c.g))))
      case Shards.Indexed(per) => Some(path -> Zarr3IO.shardObject(
        (per.x * per.y * per.z).toInt, kept.map(c => Zarr3IO.innerSlot(
          Vec3(c.g.x % per.x, c.g.y % per.y, c.g.z % per.z), per) -> encode(c.payload, c.g))))
    }
  }

  /** A payload -> the chunk's stored bytes: [[steps]] undone in reverse.
    * The payload of a framed object holds all its frames, t-major. */
  private def encode(payload: Array[Byte], g: Vec3): Array[Byte] = {
    val dims = chunkBbox(g).size
    val frame = (dims.x * dims.y * dims.z).toInt * dtypeBytes
    if (steps.nonEmpty) {
      val frames = steps.collectFirst { case Step.Frame(_, n) => n }.getOrElse(1L)
      require(payload.length == frames * frame, s"chunk ${objectPath(g)}: " +
        s"${payload.length}-byte payload, expected $frames frame(s) of $frame")
    }
    steps.foldRight(payload) {
      case (Step.Decompress(c, blosc), b) => Compressors.compress(c, b, dtypeBytes, blosc)
      case (Step.N5Header, b) => N5IO.withHeader(dims, b)
      case (Step.Frame(_, _), b) => b
      case (Step.CToF, b) => Array.concat(b.grouped(frame)
        .map(transpose(_, dims, dtypeBytes, cToF = false)).toSeq: _*)
      case (Step.SwapBytes, b) => swapBytes(b, dtypeBytes)
    }
  }
}

object ChunkLayout {

  /** Object naming of a grid point. */
  sealed trait Keys extends Serializable
  object Keys {
    /** precomputed: the chunk's clamped bbox, `x0-x1_y0-y1_z0-z1` */
    case object BboxName extends Keys
    /** `head`, then x, y, z (z, y, x if `zyx`), joined by `sep`: zarr2
      * `[t.][c.]x.y.z`, zarr3 `c/[t/][c/]x/y/z`, N5 `s<mip>/x/y/z` */
    final case class Grid(head: Seq[String], sep: String, zyx: Boolean) extends Keys {
      /** `lead` (t/c grid indices) in place of the head's last entries */
      def name(g: Vec3, lead: Seq[Long] = Nil): String = {
        require(lead.size <= head.size, s"${lead.size} lead indices for key head $head")
        (head.dropRight(lead.size) ++ (lead ++ (if (zyx) Seq(g.z, g.y, g.x)
          else Seq(g.x, g.y, g.z))).map(_.toString)).mkString(sep)
      }
    }
  }

  /** Whether, and how, one object packs several chunks. */
  sealed trait Shards extends Serializable
  object Shards {
    case object Unsharded extends Shards
    /** precomputed: chunk morton code -> shard file and minishard */
    final case class Minishard(spec: ShardingSpec) extends Shards
    /** zarr3 `sharding_indexed`: shards of `per` inner chunks, named by
      * their shard grid point, with a trailing (offset, nbytes) index */
    final case class Indexed(per: Vec3) extends Shards
  }

  /** What an absent chunk object yields. */
  sealed trait Missing extends Serializable
  object Missing {
    case object Fill extends Missing // a null payload, read as `fill`
    case object NoRow extends Missing
    case object Raise extends Missing // a failed task
  }

  /** One object-to-payload step; the sink runs each backwards. */
  sealed trait Step extends Serializable
  object Step {
    /** via [[Compressors]]; `blosc` is what a blosc write uses */
    final case class Decompress(codec: String,
        blosc: Compressors.BloscConf = Compressors.BloscConf()) extends Step
    case object N5Header extends Step // strip N5's block header, take its dims
    /** frame `slot` of the object's `of` xyz frames */
    final case class Frame(slot: Long, of: Long) extends Step
    case object CToF extends Step // C-order (x, y, z) to F order
    case object SwapBytes extends Step // big-endian values to little-endian
  }

  /** The layout of precomputed scale `mip` of the layer at `layerDir`
    * (`meta` its info). An absent sharded chunk yields no row; an
    * absent unsharded one raises, or reads as `background` under
    * `fillMissing`. */
  def precomputed(layerDir: String, meta: VolumeMeta, mip: Int,
      fillMissing: Boolean, background: Long = 0L): ChunkLayout = {
    val scale = meta.scale(mip)
    ChunkLayout(layerDir, s"key=${scale.key}", s"$layerDir/${scale.key}",
      scale.bounds, scale.chunkSize, clamp = true, Keys.BboxName,
      scale.sharding.fold[Shards](Shards.Unsharded)(Shards.Minishard(_)),
      if (scale.isSharded) Missing.NoRow
      else if (fillMissing) Missing.Fill else Missing.Raise,
      steps = Nil, scale.encoding, meta.dtypeBytes, background,
      scale.csegBlockSize.getOrElse(Vec3(8, 8, 8)))
  }

  /** The layout of the grid at `dir`, from its own metadata: a
    * precomputed `info` (read first), else a zarr3 array's `zarr.json`,
    * an OME-zarr2 `.zattrs` (level `mip`), a zarr2 `.zarray`, or an N5
    * `attributes.json` (dataset `s<mip>`). Lead t/c axes read at t = 0,
    * c = 0. */
  def open(dir: String, mip: Int, fillMissing: Boolean): ChunkLayout =
    try precomputed(dir, VolumeMeta.readInfo(dir), mip, fillMissing)
    catch {
      case e: NoSuchFileException if !Files.exists(Paths.get(dir, "info")) =>
        def has(f: String) = Files.exists(Paths.get(dir, f))
        if (has("zarr.json")) Zarr3IO.layout(dir, Zarr3IO.readMeta(dir))
        else if (has(".zattrs")) Zarr2IO.omeLayout(dir, 0L, 0L, mip, consolidated = false)
        else if (has(".zarray")) Zarr2IO.layout(dir, Zarr2IO.readMeta(dir))
        else if (has("attributes.json")) N5IO.layout(dir, s"s$mip",
          N5IO.readMeta(dir, s"s$mip"), fillMissing)
        else throw e
    }

  /** Every chunk row of `layout`: the `neuroglancer` scan over it. */
  def scan(spark: SparkSession, layout: ChunkLayout): DataFrame =
    ScanShim.relation(spark, new NgTable(Map("path" -> layout.dir), Some(layout)))

  /** The chunk rows overlapping `bbox`. The scan applies the overlap
    * filter exactly at planning time, so no post-scan `Filter` holds the
    * bbox and the plan's generated code is the same for every request. */
  def chunksIn(spark: SparkSession, layout: ChunkLayout, bbox: Bbox): DataFrame =
    scan(spark, layout)
      .filter(col("x1") > bbox.minpt.x && col("x0") < bbox.maxpt.x &&
        col("y1") > bbox.minpt.y && col("y0") < bbox.maxpt.y &&
        col("z1") > bbox.minpt.z && col("z0") < bbox.maxpt.z)

  /** The one grid cutout plan: voxel rows (x, y, z, label) of `bbox`,
    * the overlapping chunks' rows decoded by the [[DecodeVoxels]] stage. */
  def cutout(spark: SparkSession, layout: ChunkLayout, bbox: Bbox): DataFrame =
    DecodeVoxels.stage(chunksIn(spark, layout, bbox), layout.decoder(bbox))

  /** One chunk to write: lead t/c grid indices, grid point, payload. */
  final case class Chunk(lead: Seq[Long], g: Vec3, payload: Array[Byte])

  /** The one chunk sink, the inverse of the scan: rows (the lead t/c grid
    * indices where the key head names them, then gx, gy, gz, payload),
    * payloads in the form the scan emits, written as `layout`'s objects
    * ([[ChunkLayout.objectOf]]) through the one [[put]]. Unsharded, each
    * row is one object written by its own task (S9, tx.py:314-475);
    * sharded, the rows are grouped by [[ChunkLayout.shardOf]] and each
    * shard is synthesized whole (S12, sharding.py:868-983).
    */
  def write(rows: DataFrame, layout: ChunkLayout, method: String = "none",
      elide: Option[Array[Byte]] = None): Unit = {
    require(Set("gzip", "br", "none")(method),
      s"unsupported chunk compression codec: $method")
    require(method == "none" || layout.keys == Keys.BboxName,
      s"${layout.label}: second-stage $method is for precomputed chunks")
    Files.createDirectories(Paths.get(layout.root))
    def chunkOf(r: Row): Chunk = {
      val n = r.length - 4
      Chunk((0 until n).map(r.getLong), Vec3(r.getLong(n), r.getLong(n + 1),
        r.getLong(n + 2)), r.getAs[Array[Byte]](n + 3))
    }
    if (layout.shards == Shards.Unsharded)
      rows.foreachPartition { it: Iterator[Row] =>
        it.foreach(r => layout.objectOf(Seq(chunkOf(r)), method, elide)
          .foreach { case (p, b) => put(p, b) })
      }
    else putGroups(rows, r => layout.shardOf(chunkOf(r).g))(rs =>
      layout.objectOf(rs.map(chunkOf), method, elide))
  }

  /** Sink rows of the zarr/N5 writers' rows: the lead columns at
    * positions `lead`, the grid point at `g0`, and the F-order voxel
    * longs after it as a little-endian payload of `dtb`-byte values. */
  private[sources] def rawRows(chunks: DataFrame, lead: Seq[Int], g0: Int,
      dtb: Int): DataFrame = {
    val c = chunks.columns.map(chunks.col)
    val raw = udf((v: Array[Long]) => Codec.encodeRawFromLongs(v, dtb))
    chunks.select((lead ++ (g0 to g0 + 2)).map(c) :+ raw(c(g0 + 3)).as("payload"): _*)
  }

  /** `rows` grouped by `key` (one shuffle) and each group put as the
    * object `obj` makes of it. */
  private[sources] def putGroups(rows: DataFrame, key: Row => Long)(
      obj: Seq[Row] => Option[(Path, Array[Byte])]): Unit =
    rows.groupByKey(key)(Encoders.scalaLong)
      .flatMapGroups { (_: Long, it: Iterator[Row]) =>
        obj(it.toSeq).foreach { case (p, b) => put(p, b) }; Iterator.empty[Boolean]
      }(Encoders.scalaBoolean)
      .foreach((_: Boolean) => ())

  /** The one object put: `bytes` go to a dot-prefixed temporary sibling
    * of `p`, which is then renamed onto `p` atomically, so a concurrent
    * reader or directory listing never sees a partly written object. A
    * failed put removes its temporary. Nothing is fsynced, so a crash
    * may still lose the object or leave a temporary, which the stream's
    * `gridOf` ignores. */
  def put(p: Path, bytes: Array[Byte]): Unit = {
    val tmp = p.resolveSibling(s".${p.getFileName}." +
      java.lang.Long.toHexString(java.util.concurrent.ThreadLocalRandom.current.nextLong))
    try {
      try Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      catch {
        case _: NoSuchFileException =>
          Files.createDirectories(p.getParent)
          Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      }
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable =>
        try Files.deleteIfExists(tmp) catch { case d: Exception => e.addSuppressed(d) }
        throw e
    }
  }

  /** `b`, an x-fastest (F) or z-fastest (C) block of `cs` values of
    * `dtb` bytes, in the other order. */
  def transpose(b: Array[Byte], cs: Vec3, dtb: Int, cToF: Boolean): Array[Byte] = {
    val n = cs.x * cs.y * cs.z
    require(b.length == n * dtb,
      s"chunk has ${b.length} bytes, expected $n voxels of $dtb bytes")
    val out = new Array[Byte](b.length)
    var x = 0L
    while (x < cs.x) {
      var y = 0L
      while (y < cs.y) {
        var z = 0L
        while (z < cs.z) {
          val f = ((x + cs.x * (y + cs.y * z)) * dtb).toInt
          val c = ((z + cs.z * (y + cs.y * x)) * dtb).toInt
          val from = if (cToF) c else f
          val to = if (cToF) f else c
          var k = 0
          while (k < dtb) { out(to + k) = b(from + k); k += 1 }
          z += 1
        }
        y += 1
      }
      x += 1
    }
    out
  }

  /** `b`'s values of `dtb` bytes with their byte order reversed (its own
    * inverse). */
  private def swapBytes(b: Array[Byte], dtb: Int): Array[Byte] = {
    require(b.length % dtb == 0, s"payload ${b.length}B not a multiple of $dtb")
    val in = java.nio.ByteBuffer.wrap(b)
    val out = java.nio.ByteBuffer.allocate(b.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dtb match {
      case 1 => out.put(in)
      case 2 => while (in.hasRemaining) out.putShort(in.getShort)
      case 4 => while (in.hasRemaining) out.putInt(in.getInt)
      case 8 => while (in.hasRemaining) out.putLong(in.getLong)
    }
    out.array
  }

  /** An F-order block of `from` values of `dtb` bytes cropped, or
    * zero-padded, to `to`. */
  def fit(b: Array[Byte], from: Vec3, to: Vec3, dtb: Int): Array[Byte] = {
    require(b.length == from.x * from.y * from.z * dtb,
      s"block ${b.length / dtb} voxels != $from")
    val out = new Array[Byte]((to.x * to.y * to.z * dtb).toInt)
    val run = (math.min(from.x, to.x) * dtb).toInt
    for (z <- 0L until math.min(from.z, to.z); y <- 0L until math.min(from.y, to.y))
      System.arraycopy(b, ((from.x * (y + from.y * z)) * dtb).toInt,
        out, ((to.x * (y + to.y * z)) * dtb).toInt, run)
    out
  }
}
