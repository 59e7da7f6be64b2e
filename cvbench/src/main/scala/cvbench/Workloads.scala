package cvbench

import scala.util.Random
import graft.core._

/** A workload generates its layers in `Workloads.Parts` equal parts (one
  * set-up each, timed separately) and then yields its op sequence. All
  * inputs derive from the seed. */
trait Workload {
  def setup(runner: Runner, part: Int): Unit
  def ops(): Iterator[Op]
  /** Length of the repeating op-kind pattern; a traced run traces every
    * other whole cycle, so traced and untraced ops have the same mix. */
  def cycle: Int
  /** Whole cycles every untraced run completes, however long that takes,
    * so each run has at least `minCycles * cycle` samples and op_tail_ms
    * is always taken at the same percentile (see Main.tail). */
  def minCycles: Int
  /** The generated layers the workload reads, for the
    * stored-bytes-per-voxel-byte ratio. */
  def layers: Seq[LayerRef]
}

object Log {
  /** Set-up progress on stderr; stdout carries only the result. */
  def time[T](what: String)(f: => T): T = {
    val t = System.nanoTime()
    val r = f
    System.err.println(f"cvbench: $what%s ${(System.nanoTime() - t) / 1e9}%.2f s")
    r
  }
}

object Workloads {
  val Parts = 3
  val names: Seq[String] = Seq("cutout_bulk", "lookup_small")

  def apply(name: String, root: String, seed: Long): Workload = name match {
    case "cutout_bulk" => new CutoutBulk(root, seed)
    case "lookup_small" => new LookupSmall(root, seed)
  }

  /** Draws in [0, 1) from the golden-ratio sequence with a seeded start:
    * every prefix is spread evenly, so a short run sees the same size
    * mix as a long one. */
  final class Spread(rng: Random) {
    private val start = rng.nextDouble()
    private var k = 0
    def next(): Double = {
      k += 1
      val u = start + k * 0.6180339887498949
      u - math.floor(u)
    }
  }

  /** n points in [0, 1)^d, a Latin hypercube: along every axis each of
    * the n equal strata holds exactly one point, with seeded order and
    * jitter. A run that uses all n gets the same spread along each axis
    * whatever the seed, so runs differ less by chance. */
  def strata(rng: Random, n: Int, d: Int): Iterator[Array[Double]] = {
    val perms = Array.fill(d)(rng.shuffle((0 until n).toVector))
    Vector.tabulate(n)(i => Array.tabulate(d)(j => (perms(j)(i) + rng.nextDouble()) / n))
      .iterator
  }
}

/** Unaligned 1-4 Mvox cutouts from uint8 raw+gzip and uint64 cseg+gzip
  * layers, plus chunk-aligned region uniques. Each op gets a slot of
  * 3x3x3 chunks to itself, so no chunk is read twice in a run. An
  * untraced run always uses all 18 slots per layer: 9 cycles, 36 ops. */
final class CutoutBulk(root: String, seed: Long) extends Workload {
  private val SlotEdge = 192L
  private val Slots = Vec3(3, 2, 1)
  /** The op cycle. An assumed mix, not a measured one (cvbench/README.md,
    * "Assumed traffic"): 2 img cutouts : 1 seg cutout : 1 seg unique. */
  private val Mix = Seq("img", "seg", "img", "unique")
  private val size = Slots * SlotEdge
  private val img = Array.ofDim[LayerRef](Workloads.Parts)
  private val seg = Array.ofDim[LayerRef](Workloads.Parts)
  private val rng = new Random(seed)
  private var nextId = 0
  private def id(): Int = { nextId += 1; nextId - 1 }

  private def slotOrigin(s: Int): Vec3 =
    Vec3(s % Slots.x, (s / Slots.x) % Slots.y, s / (Slots.x * Slots.y)) * SlotEdge

  def setup(runner: Runner, part: Int): Unit = {
    val f = ImgField(Field.sub(seed, 100 + part))
    val g = SegField(Field.sub(seed, 200 + part))
    val d = s"$root/p$part"
    Log.time(s"part $part img")(Layers.writeImg(runner.spark, s"$d/img", f, size))
    Log.time(s"part $part seg")(Layers.writeSeg(runner.spark, s"$d/seg", g, size))
    img(part) = LayerRef(s"$d/img", f, Layers.imgMeta(size))
    seg(part) = LayerRef(s"$d/seg", g, Layers.segMeta(size))
    // warm-up on a small layer pair of its own, so the walk's chunks
    // are all first reads
    Log.time(s"part $part warm-up") {
      val ws = Vec3(128, 128, 128)
      Layers.writeImg(runner.spark, s"$d/warm_img", f, ws)
      Layers.writeSeg(runner.spark, s"$d/warm_seg", g, ws)
      val wi = LayerRef(s"$d/warm_img", f, Layers.imgMeta(ws))
      val wg = LayerRef(s"$d/warm_seg", g, Layers.segMeta(ws))
      val w = Bbox(Vec3(40, 37, 29), Vec3(100, 101, 90))
      runner.run(Cutout(-1, "img_cutout", wi, w))
      runner.run(Cutout(-1, "seg_cutout", wg, w))
      runner.run(Unique(-1, wg, Bbox(Vec3(0, 0, 0), ws)))
    }
  }

  /** A cutout in the slot at `origin` from a point u in [0, 1)^6: voxel
    * count log-uniform in [1, 4] Mvox, near-cubic aspect, offset anywhere
    * in the slot (so it crosses 8 to 27 chunks). */
  private def cutoutBox(origin: Vec3, u: Array[Double]): Bbox = {
    val v = 1e6 * math.pow(4, u(0))
    val base = math.cbrt(v)
    def clamp(x: Double) = math.max(48L, math.min(SlotEdge - 4, math.round(x)))
    val sx = clamp(base * (0.85 + 0.3 * u(1)))
    val sy = clamp(base * (0.85 + 0.3 * u(2)))
    val sz = clamp(v / (sx * sy))
    def off(s: Long, w: Double) = 1 + (w * (SlotEdge - s - 1)).toLong
    val lo = origin + Vec3(off(sx, u(3)), off(sy, u(4)), off(sz, u(5)))
    Bbox(lo, lo + Vec3(sx, sy, sz))
  }

  def cycle: Int = Mix.size
  // img takes one slot per "img", seg one per "seg" or "unique"
  def minCycles: Int = Workloads.Parts * (Slots.x * Slots.y * Slots.z).toInt /
    Mix.count(_ == "img")
  def layers: Seq[LayerRef] = (img ++ seg).toSeq

  def ops(): Iterator[Op] = {
    val nSlots = (Slots.x * Slots.y * Slots.z).toInt
    def pool(): Iterator[(Int, Int)] = rng.shuffle(for {
      p <- 0 until Workloads.Parts; s <- 0 until nSlots } yield (p, s)).iterator
    val imgSlots = pool(); val segSlots = pool()
    // img cutouts use every img slot; seg cutouts and uniques share the
    // seg slots in the ratio of the mix
    val nSeg = Workloads.Parts * nSlots * Mix.count(_ == "seg") /
      Mix.count(k => k == "seg" || k == "unique")
    val imgSt = Workloads.strata(rng, Workloads.Parts * nSlots, 6)
    val segSt = Workloads.strata(rng, nSeg, 6)
    val pattern = Iterator.continually(Mix).flatten
    pattern.map {
      case "img" if imgSlots.hasNext =>
        val (p, s) = imgSlots.next()
        Some(Cutout(id(), "img_cutout", img(p), cutoutBox(slotOrigin(s), imgSt.next())))
      case "seg" if segSlots.hasNext =>
        val (p, s) = segSlots.next()
        Some(Cutout(id(), "seg_cutout", seg(p), cutoutBox(slotOrigin(s), segSt.next())))
      case "unique" if segSlots.hasNext =>
        val (p, s) = segSlots.next()
        val lo = slotOrigin(s) + Vec3(0, 64L * rng.nextInt(2), 64L * rng.nextInt(2))
        Some(Unique(id(), seg(p), Bbox(lo, lo + Vec3(192, 128, 128))))
      case _ => None
    }.takeWhile(_.isDefined).map(_.get)
  }
}

/** The three layers of one lookup part: img, seg and its sharded copy. */
final case class LookupPart(img: LayerRef, seg: LayerRef, sharded: LayerRef)

/** Small requests against a bounded hot set: 16-32 voxel cutouts,
  * single-voxel lookups and cutouts from a sharded copy of seg, with
  * regions drawn from a Zipf distribution over a few dozen hot
  * chunk-sized regions. */
final class LookupSmall(root: String, seed: Long) extends Workload {
  private val size = Vec3(384, 384, 128)
  // Traffic shape. Assumed, not measured (cvbench/README.md, "Assumed
  // traffic"): hot regions per set-up (48 in all), the Zipf exponent of
  // region popularity, and the op cycle, whose kinds come 2 img cutouts
  // : 2 seg cutouts : 2 sharded cutouts : 1 img point : 1 seg point.
  private val HotPerPart = 16
  private val ZipfS = 1.1
  private val Kinds = Seq("img_cutout", "seg_cutout", "img_point", "sharded_cutout",
    "img_cutout", "seg_point", "sharded_cutout", "seg_cutout")
  private val parts = Array.ofDim[LookupPart](Workloads.Parts)
  private val rng = new Random(seed)

  def setup(runner: Runner, part: Int): Unit = {
    val f = ImgField(Field.sub(seed, 300 + part))
    val g = SegField(Field.sub(seed, 400 + part))
    val d = s"$root/p$part"
    Layers.writeImg(runner.spark, s"$d/img", f, size)
    Layers.writeSeg(runner.spark, s"$d/seg", g, size, Some(s"$d/seg_sharded"))
    parts(part) = LookupPart(LayerRef(s"$d/img", f, Layers.imgMeta(size)),
      LayerRef(s"$d/seg", g, Layers.segMeta(size)),
      LayerRef(s"$d/seg_sharded", g,
        Layers.segMeta(size, Some(Layers.shardSpec(size)))))
    val p = parts(part)
    val w = Bbox(Vec3(3, 5, 7), Vec3(30, 27, 25))
    Seq(p.img, p.seg, p.sharded).foreach(l => runner.run(Cutout(-1, "warm", l, w)))
  }

  def cycle: Int = Kinds.size
  def minCycles: Int = 10
  def layers: Seq[LayerRef] = parts.toSeq.flatMap(p => Seq(p.img, p.seg, p.sharded))

  def ops(): Iterator[Op] = {
    // hot regions are whole chunks; each request starts anywhere inside
    // its region, so how many chunks a request crosses does not depend
    // on which regions the seed made hot
    val g = size.ceilDiv(Layers.Chunk)
    val regions = rng.shuffle(for {
      p <- 0 until Workloads.Parts
      c <- rng.shuffle((0L until (g.x - 1) * (g.y - 1) * (g.z - 1)).toVector).take(HotPerPart)
    } yield (p, Vec3(c % (g.x - 1), (c / (g.x - 1)) % (g.y - 1),
      c / ((g.x - 1) * (g.y - 1))) * Layers.Chunk))
    val w = regions.indices.map(k => 1.0 / math.pow(k + 1, ZipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def region(): (Int, Vec3) =
      regions(math.min(cdf.indexWhere(_ >= rng.nextDouble()) max 0, regions.size - 1))
    // one size sequence per op kind, so each kind's sizes are spread
    // evenly whatever the seed
    val edges = Seq("img_cutout", "seg_cutout", "sharded_cutout")
      .map(_ -> new Workloads.Spread(rng)).toMap
    def box(origin: Vec3, edge: => Long): Bbox = {
      val lo = origin + Vec3(rng.nextInt(64), rng.nextInt(64), rng.nextInt(64))
      Bbox(lo, lo + Vec3(edge, edge, edge))
    }
    Iterator.from(0).map { i =>
      val (p, a) = region()
      val pt = parts(p)
      def edge(k: String) = 16L + (17 * edges(k).next()).toLong
      Kinds(i % Kinds.size) match {
        case k @ "img_cutout" => Cutout(i, k, pt.img, box(a, edge(k)))
        case k @ "seg_cutout" => Cutout(i, k, pt.seg, box(a, edge(k)))
        case k @ "sharded_cutout" => Cutout(i, k, pt.sharded, box(a, edge(k)))
        case k @ "img_point" => Cutout(i, k, pt.img, box(a, 1))
        case k @ "seg_point" => Cutout(i, k, pt.seg, box(a, 1))
      }
    }
  }
}
