package graft.core

/** Pure geometry core: 3-vectors and axis-aligned bounding boxes.
  *
  * Re-specifies the reference's `lib.py` Vec (lib.py:263-328) and Bbox
  * (lib.py:345-1011) algebra as immutable Scala value classes with the
  * exact floor/ceil semantics the reference uses for chunk-grid
  * alignment (lib.py:794-862) and mip transforms (metadata.py:675-700).
  * No Spark dependencies — Spark expressions wrap these.
  */
final case class Vec3(x: Long, y: Long, z: Long) {
  def +(o: Vec3): Vec3 = Vec3(x + o.x, y + o.y, z + o.z)
  def -(o: Vec3): Vec3 = Vec3(x - o.x, y - o.y, z - o.z)
  def *(o: Vec3): Vec3 = Vec3(x * o.x, y * o.y, z * o.z)
  def *(s: Long): Vec3 = Vec3(x * s, y * s, z * s)
  /** Floor division (toward negative infinity), matching numpy `//`. */
  def floorDiv(o: Vec3): Vec3 =
    Vec3(Math.floorDiv(x, o.x), Math.floorDiv(y, o.y), Math.floorDiv(z, o.z))
  /** Ceil division for non-negative operands. */
  def ceilDiv(o: Vec3): Vec3 =
    Vec3(Geom.ceilDiv(x, o.x), Geom.ceilDiv(y, o.y), Geom.ceilDiv(z, o.z))
  def min(o: Vec3): Vec3 = Vec3(x.min(o.x), y.min(o.y), z.min(o.z))
  def max(o: Vec3): Vec3 = Vec3(x.max(o.x), y.max(o.y), z.max(o.z))
  def toArray: Array[Long] = Array(x, y, z)
}

/** Half-open axis-aligned box [minpt, maxpt). Mirrors lib.py:345-1011. */
final case class Bbox(minpt: Vec3, maxpt: Vec3) {
  def size: Vec3 = maxpt - minpt
  def volume: Long = { val s = size; s.x.max(0) * s.y.max(0) * s.z.max(0) }
  def isEmpty: Boolean = {
    val s = size; s.x <= 0 || s.y <= 0 || s.z <= 0
  }

  /** Elementwise min/max union (Bbox.expand, lib.py:701-707). */
  def union(o: Bbox): Bbox = Bbox(minpt.min(o.minpt), maxpt.max(o.maxpt))

  /** Intersection; may be empty (lib.py:447-458). */
  def intersection(o: Bbox): Bbox =
    Bbox(minpt.max(o.minpt), maxpt.min(o.maxpt))

  def intersects(o: Bbox): Boolean = !intersection(o).isEmpty

  def contains(p: Vec3): Boolean =
    p.x >= minpt.x && p.x < maxpt.x &&
      p.y >= minpt.y && p.y < maxpt.y &&
      p.z >= minpt.z && p.z < maxpt.z

  /** Inclusive-boundary overlap test (lib.py:889-895 overlaps_bbox;
    * used by overlaps_roi, metadata.py:702-722).
    */
  def overlapsBbox(o: Bbox): Boolean =
    !(maxpt.x < o.minpt.x || maxpt.y < o.minpt.y || maxpt.z < o.minpt.z ||
      o.maxpt.x < minpt.x || o.maxpt.y < minpt.y || o.maxpt.z < minpt.z)

  def containsBbox(o: Bbox): Boolean =
    o.minpt.x >= minpt.x && o.maxpt.x <= maxpt.x &&
      o.minpt.y >= minpt.y && o.maxpt.y <= maxpt.y &&
      o.minpt.z >= minpt.z && o.maxpt.z <= maxpt.z

  /** Grow outward to chunk boundaries relative to `offset`
    * (Bbox.expand_to_chunk_size, lib.py:794-820).
    */
  def expandToChunkSize(chunkSize: Vec3, offset: Vec3 = Vec3(0, 0, 0)): Bbox = {
    val lo = ((minpt - offset).floorDiv(chunkSize)) * chunkSize + offset
    val hi = ((maxpt - offset).ceilDiv(chunkSize)) * chunkSize + offset
    Bbox(lo, hi)
  }

  /** Shrink inward to chunk boundaries (lib.py:822-842). */
  def shrinkToChunkSize(chunkSize: Vec3, offset: Vec3 = Vec3(0, 0, 0)): Bbox = {
    val lo = ((minpt - offset).ceilDiv(chunkSize)) * chunkSize + offset
    val hi = ((maxpt - offset).floorDiv(chunkSize)) * chunkSize + offset
    Bbox(lo, lo.max(hi))
  }

  /** Round each face to the nearest chunk boundary (lib.py:844-862). */
  def roundToChunkSize(chunkSize: Vec3, offset: Vec3 = Vec3(0, 0, 0)): Bbox = {
    def roundAxis(v: Long, cs: Long, off: Long): Long = {
      val rel = v - off
      // round-half-up to nearest multiple of cs
      Math.floorDiv(2 * rel + cs, 2 * cs) * cs + off
    }
    Bbox(
      Vec3(roundAxis(minpt.x, chunkSize.x, offset.x),
           roundAxis(minpt.y, chunkSize.y, offset.y),
           roundAxis(minpt.z, chunkSize.z, offset.z)),
      Vec3(roundAxis(maxpt.x, chunkSize.x, offset.x),
           roundAxis(maxpt.y, chunkSize.y, offset.y),
           roundAxis(maxpt.z, chunkSize.z, offset.z)))
  }

  /** Neuroglancer chunk filename "x0-x1_y0-y1_z0-z1" (lib.py:584-601). */
  def toFilename: String =
    s"${minpt.x}-${maxpt.x}_${minpt.y}-${maxpt.y}_${minpt.z}-${maxpt.z}"
}

object Bbox {
  /** Reference-exact intersection (lib.py:447-470): the classmethod
    * returns the ZERO box when the (strict) intersects test fails,
    * unlike the instance-method algebra above which may return an
    * inverted box. Used by autocrop (datasource/__init__.py:73-79).
    */
  def intersectionZero(a: Bbox, b: Bbox): Bbox = {
    val strictOverlap =
      a.minpt.x < b.maxpt.x && a.maxpt.x > b.minpt.x &&
        a.minpt.y < b.maxpt.y && a.maxpt.y > b.minpt.y &&
        a.minpt.z < b.maxpt.z && a.maxpt.z > b.minpt.z
    if (!strictOverlap) Bbox(Vec3(0, 0, 0), Vec3(0, 0, 0))
    else Bbox(a.minpt.max(b.minpt), a.maxpt.min(b.maxpt))
  }

  private val FilenameRe =
    """(-?\d+)-(-?\d+)_(-?\d+)-(-?\d+)_(-?\d+)-(-?\d+)""".r

  /** Parse "x0-x1_y0-y1_z0-z1" (lib.py:520-534). */
  def fromFilename(s: String): Bbox = s match {
    case FilenameRe(x0, x1, y0, y1, z0, z1) =>
      Bbox(Vec3(x0.toLong, y0.toLong, z0.toLong),
           Vec3(x1.toLong, y1.toLong, z1.toLong))
    case _ => throw new IllegalArgumentException(s"bad chunk filename: $s")
  }
}

/** The voxels of the F-order block at `lo` of shape `bs` that lie
  * inside `clip`, as a pull cursor: each [[next]] moves to the next
  * one, z-major with x fastest, and exposes its coordinates and its
  * index `i` into the block. This is the one definition of a cutout's
  * clip bounds and voxel order. `n` is the decoded voxel count; with
  * `planes` stacked planes (channel-slowest layouts) it must be exactly
  * `planes` block volumes, so a short, oversized or mis-shaped chunk
  * fails here as an IllegalArgumentException, never as an index error
  * or as voxels pasted into a neighbour's cell.
  *
  * `lox until hix` (and likewise y, z) is the clipped window the walk
  * covers; it is meaningful only when [[size]] > 0.
  */
final class ClipCursor(n: Int, lo: Vec3, bs: Vec3, clip: Bbox, planes: Int = 1) {
  private val vol = bs.x * bs.y * bs.z
  require(n == vol * planes,
    s"decoded block has $n voxels; shape $bs at $lo needs ${vol * planes}")
  val lox: Long = math.max(lo.x, clip.minpt.x)
  val hix: Long = math.min(lo.x + bs.x, clip.maxpt.x)
  val loy: Long = math.max(lo.y, clip.minpt.y)
  val hiy: Long = math.min(lo.y + bs.y, clip.maxpt.y)
  val loz: Long = math.max(lo.z, clip.minpt.z)
  val hiz: Long = math.min(lo.z + bs.z, clip.maxpt.z)
  private val empty = lox >= hix || loy >= hiy || loz >= hiz

  /** Clipped voxel count (0 when the block misses `clip`). */
  val size: Long = if (empty) 0L else (hix - lox) * (hiy - loy) * (hiz - loz)

  private var rowsLeft = if (empty) 0L else (hiy - loy) * (hiz - loz)
  var x: Long = hix
  var y: Long = loy - 1
  var z: Long = loz
  var i: Int = 0

  def next(): Boolean =
    if (x + 1 < hix) { x += 1; i += 1; true }
    else if (rowsLeft > 0) {
      rowsLeft -= 1
      y += 1
      if (y == hiy) { y = loy; z += 1 }
      x = lox
      i = ((x - lo.x) + bs.x * ((y - lo.y) + bs.y * (z - lo.z))).toInt
      true
    } else false
}

object Geom {
  /** Ceil division for non-negative denominators. */
  def ceilDiv(a: Long, b: Long): Long = Math.floorDiv(a + b - 1, b)

  /** Grid points (chunk coords) covering `bbox` clamped to
    * `volumeBounds`, relative to the volume's voxel offset
    * (image/common.py:157-174 gridpoints).
    * Returns chunk coordinates (gx, gy, gz) in z-major iteration order.
    */
  def gridpoints(bbox: Bbox, volumeBounds: Bbox, chunkSize: Vec3): Seq[Vec3] = {
    val clamped = bbox.intersection(volumeBounds)
    if (clamped.isEmpty) return Seq.empty
    val lo = (clamped.minpt - volumeBounds.minpt).floorDiv(chunkSize)
    val hi = (clamped.maxpt - volumeBounds.minpt - Vec3(1, 1, 1))
      .floorDiv(chunkSize)
    for {
      gz <- lo.z to hi.z
      gy <- lo.y to hi.y
      gx <- lo.x to hi.x
    } yield Vec3(gx, gy, gz)
  }

  /** Chunk bbox (in voxel space, clamped to volume bounds) for a grid
    * point (image/common.py:137-155 chunknames).
    */
  def chunkBbox(grid: Vec3, volumeBounds: Bbox, chunkSize: Vec3): Bbox = {
    val lo = volumeBounds.minpt + grid * chunkSize
    val hi = lo + chunkSize
    Bbox(lo, hi.min(volumeBounds.maxpt))
  }

  /** The [[ClipCursor]] walk collected as (x, y, z, value) rows, into
    * one array sized up front from the clipped extent: the reference the
    * `DecodeVoxels` generator is tested against (no cutout calls it).
    */
  def clipRows(vox: Array[Long], lo: Vec3, bs: Vec3, clip: Bbox)
      : Seq[(Long, Long, Long, Long)] = {
    val c = new ClipCursor(vox.length, lo, bs, clip)
    val out = new Array[(Long, Long, Long, Long)](c.size.toInt)
    var k = 0
    while (c.next()) {
      out(k) = (c.x, c.y, c.z, vox(c.i))
      k += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** All chunk filenames covering bbox (image/common.py:137-155). */
  def chunknames(bbox: Bbox, volumeBounds: Bbox, chunkSize: Vec3): Seq[String] =
    gridpoints(bbox, volumeBounds, chunkSize)
      .map(g => chunkBbox(g, volumeBounds, chunkSize).toFilename)

  /** Downsample a point to a coarser mip by per-axis factor
    * (metadata.py:675-679 point_to_mip): floor(p * res_ratio).
    */
  def pointToMip(p: Vec3, factor: Vec3): Vec3 = p.floorDiv(factor)

  /** F8 find_closest_divisor (lib.py:170-204): per axis, the divisor
    * of n closest to the target; ties resolve to the FIRST encountered
    * in the reference's enumeration order (i then n/i for i ascending),
    * because its comparison is strict `<`.
    */
  def findClosestDivisor(toDivide: Vec3, closestTo: Vec3): Vec3 = {
    def one(n: Long, ct: Long): Long = {
      var best = n
      var minDist = n
      var i = 1L
      while (i * i <= n) {
        if (n % i == 0) {
          if (math.abs(i - ct) < minDist) { minDist = math.abs(i - ct); best = i }
          val j = n / i
          if (j != i && math.abs(j - ct) < minDist) {
            minDist = math.abs(j - ct); best = j
          }
        }
        i += 1
      }
      best
    }
    Vec3(one(toDivide.x, closestTo.x), one(toDivide.y, closestTo.y),
      one(toDivide.z, closestTo.z))
  }

  /** P1 slice reification for one axis (lib.py:618-699 reify_slices
    * with autocrop): None start/stop bind to the bounds, scalars become
    * unit slices upstream, autocrop clamps into [lo, hi]; negative
    * steps are rejected like the reference. Returns (start, stop, step).
    */
  def reifySlice(start: Option[Long], stop: Option[Long], step: Option[Long],
      lo: Long, hi: Long): (Long, Long, Long) = {
    val st = step.getOrElse(1L)
    require(st > 0, s"Negative step sizes are not supported. Got: $st")
    def clamp(v: Long): Long = math.max(lo, math.min(v, hi))
    (clamp(start.getOrElse(lo)), clamp(stop.getOrElse(hi)), st)
  }

  /** bbox_to_mip (metadata.py:680-700): iterative per-level floor/floor
    * of min and ceil of max — NOT a single divide; each level divides by
    * that level's factor step and floors/ceils, which diverges from a
    * one-shot divide when intermediate values are not multiples.
    */
  def bboxToMip(b: Bbox, steps: Seq[Vec3]): Bbox = {
    var lo = b.minpt
    var hi = b.maxpt
    steps.foreach { f =>
      lo = lo.floorDiv(f)
      hi = hi.ceilDiv(f)
    }
    Bbox(lo, hi)
  }

  /** Scan-task sizing (optimization guide §6, input split size): how
    * many partitions a scan of `nChunks` stored objects of about
    * `estBytes` each should use. Each task must amortize its launch
    * cost over at least `minBytesPerTask` of estimated work — objects
    * are additionally charged `openCostBytes` apiece, the many-tiny-
    * files analogue of Spark's `files.openCostInBytes` — so a
    * kilobyte-scale fixture grid decodes in ONE task instead of 32
    * launch-dominated ones (measured: a 32-task scan stage of 8 KiB
    * chunks carries ~40 ms of launch/run floor per task and ~8 s of
    * phantom task_ms per entry at bench scale). The capacity cap keeps
    * >= 64 objects per task once the grid dwarfs the core count,
    * which reproduces the previous parallelism-only rule at real
    * scales: a 100 TB layer's byBytes term is astronomically larger
    * than the cap, so production plans are unchanged.
    */
  def scanPartitions(nChunks: Long, estBytes: Long, parallelism: Int,
      minBytesPerTask: Long = 1L << 20,
      openCostBytes: Long = 64L << 10): Int = {
    if (nChunks <= 0) 1
    else {
      val work = nChunks * (math.max(estBytes, 0L) +
        math.max(openCostBytes, 1L))
      val byBytes = math.max(1L, work / math.max(minBytesPerTask, 1L))
      val cap = math.max(parallelism.toLong, nChunks / 64)
      math.max(1L, math.min(nChunks, math.min(byBytes, cap))).toInt
    }
  }
}
