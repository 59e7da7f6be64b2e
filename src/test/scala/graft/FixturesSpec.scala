package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Bbox, Geom, Vec3}
import graft.ops.{FixtureLog, Fixtures}

/** The fixture protocol every `ensure*` builder runs under: the rebuild
  * guard's skip/rebuild contract, the derived-fixture nonce rule and the
  * voxel-to-block gather, all in a fresh temp root (never the shared
  * fixture tree).
  */
class FixturesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("fixtures_spec").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Fixtures.rmTree(root)
  }

  private var cases = 0
  /** A fresh directory per test. */
  private def dir(): String = {
    cases += 1
    val d = s"$root/case$cases"
    Files.createDirectories(Paths.get(d))
    d
  }

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))
  private def read(p: String): String = Files.readString(Paths.get(p))
  private def touch(p: String): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.writeString(Paths.get(p), "x")
  }

  test("a matching marker skips the build") {
    val d = dir(); val marker = s"$d/.built_from"
    var runs = 0
    Fixtures.guard(marker, "s1", wipe = Seq(s"$d/tree")) { runs += 1 }
    Fixtures.guard(marker, "s1", wipe = Seq(s"$d/tree")) { runs += 1 }
    assert(runs == 1)
    assert(read(marker) == "s1")
  }

  test("a different stamp wipes the old tree, runs the body, then writes the marker") {
    val d = dir(); val marker = s"$d/.built_from"; val tree = s"$d/tree"
    Fixtures.guard(marker, "s1", wipe = Seq(tree)) { touch(s"$tree/a/b/old") }
    assert(exists(s"$tree/a/b/old"))
    var sawOld = true; var sawMarker = true
    Fixtures.guard(marker, "s2", wipe = Seq(tree)) {
      sawOld = exists(tree)
      sawMarker = exists(marker)
      touch(s"$tree/new")
    }
    assert(!sawOld, "the old tree is gone before the body runs")
    assert(!sawMarker, "the marker is written only after the body returns")
    assert(read(marker) == "s2")
    assert(exists(s"$tree/new") && !exists(s"$tree/a"))
  }

  test("a body that throws leaves no marker, so the next call rebuilds") {
    val d = dir(); val marker = s"$d/.built_from"; val req = s"$d/tree/info"
    intercept[IllegalStateException] {
      Fixtures.guard(marker, "s1") { throw new IllegalStateException("boom") }
    }
    assert(!exists(marker))
    var runs = 0
    Fixtures.guard(marker, "s1") { runs += 1 }
    assert(runs == 1 && read(marker) == "s1")
    // a current stamp whose required path is gone: the failed rebuild
    // must not leave the old, matching marker behind either
    intercept[IllegalStateException] {
      Fixtures.guard(marker, "s1", requires = Seq(req)) {
        throw new IllegalStateException("boom")
      }
    }
    assert(!exists(marker))
    Fixtures.guard(marker, "s1", requires = Seq(req)) { runs += 1; touch(req) }
    assert(runs == 2)
  }

  test("a missing required path forces a rebuild") {
    val d = dir(); val marker = s"$d/.built_from"; val req = s"$d/tree/info"
    var runs = 0
    def ensure(): Unit =
      Fixtures.guard(marker, "s1", wipe = Seq(s"$d/tree"), requires = Seq(req)) {
        runs += 1; touch(req)
      }
    ensure(); ensure()
    assert(runs == 1)
    Files.delete(Paths.get(req))
    ensure()
    assert(runs == 2 && exists(req))
  }

  test("FixtureLog records exactly the rebuilds") {
    val d = dir(); val marker = s"$d/.built_from"
    val t0 = System.nanoTime()
    Seq("s1", "s1", "s2", "s2", "s2", "s1").foreach(st =>
      Fixtures.guard(marker, st) {})
    val logged = FixtureLog.rebuildsSince(t0).filter(_ == marker)
    assert(logged.size == 3)
  }

  test("a derived fixture rebuilds after its source rebuilds (the nonce rule)") {
    val d = dir()
    val (srcMarker, srcInfo) = (s"$d/src/.built_from", s"$d/src/layer/info")
    val derivedMarker = s"$d/.built_derived_from"
    var srcRuns = 0; var derivedRuns = 0
    def ensureSrc(): Unit =
      Fixtures.guard(srcMarker, "sf@1|v1|", wipe = Seq(s"$d/src"),
          requires = Seq(srcInfo), nonce = true) { srcRuns += 1; touch(srcInfo) }
    def ensureDerived(): Unit = {
      ensureSrc()
      Fixtures.guard(derivedMarker, Fixtures.stampOf(srcMarker) + "|d1",
          wipe = Seq(s"$d/derived")) { derivedRuns += 1 }
    }
    ensureDerived(); ensureDerived()
    assert((srcRuns, derivedRuns) == ((1, 1)))
    val firstBuild = Fixtures.stampOf(srcMarker)
    assert(firstBuild.startsWith("sf@1|v1|") && firstBuild.length > "sf@1|v1|".length)
    Files.delete(Paths.get(srcInfo)) // the source alone rebuilds ...
    ensureSrc()
    assert(srcRuns == 2 && Fixtures.stampOf(srcMarker) != firstBuild)
    ensureDerived() // ... and the derived fixture follows it
    assert((srcRuns, derivedRuns) == ((2, 2)))
    ensureDerived()
    assert(derivedRuns == 2)
  }

  test("a guard waits for another JVM's build under the lock, then skips it") {
    val d = dir(); val marker = s"$d/.built_from"
    val (ready, built) = (s"$d/ready", s"$d/tree/built")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-Xmx128m", "-cp",
      System.getProperty("java.class.path"), FixtureLockHolder.getClass.getName.stripSuffix("$"),
      marker, "s1", ready, built).inheritIO().start()
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!exists(ready) && child.isAlive && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(exists(ready), "the child JVM never started its build")
      var runs = 0
      Fixtures.guard(marker, "s1", wipe = Seq(s"$d/tree")) { runs += 1 }
      assert(runs == 0, "the guard rebuilt while another JVM was building")
      assert(read(marker) == "s1" && read(built) == "child")
      assert(child.waitFor() == 0)
    } finally child.destroyForcibly()
  }

  test("rmTree deletes a nested tree and ignores a missing one") {
    val d = dir()
    touch(s"$d/t/a/b/c"); touch(s"$d/t/d")
    Fixtures.rmTree(s"$d/t")
    assert(!exists(s"$d/t"))
    Fixtures.rmTree(s"$d/t")
    Fixtures.rmTree(s"$d/never")
  }

  // a 13x9x7 volume in 5x4x3 blocks: every axis ends in an edge block,
  // and about a third of the positions have no row at all
  private val size = Vec3(13, 9, 7)
  private val block = Vec3(5, 4, 3)
  private val rows: Map[Vec3, Long] = {
    val rnd = new scala.util.Random(20261019L)
    (for (z <- 0L until size.z; y <- 0L until size.y; x <- 0L until size.x
        if rnd.nextInt(3) != 0)
      yield Vec3(x, y, z) -> (1L + rnd.nextInt(1 << 20))).toMap +
      (Vec3(12, 8, 6) -> 7L) // the far corner, so its edge block exists
  }

  /** The block at grid `g` read position by position, x fastest. */
  private def expected(g: Vec3, extent: Bbox): Seq[Long] =
    for (z <- extent.minpt.z until extent.maxpt.z;
        y <- extent.minpt.y until extent.maxpt.y;
        x <- extent.minpt.x until extent.maxpt.x)
      yield rows.getOrElse(Vec3(x, y, z), 0L)

  private def gathered(clampTo: Option[Vec3]): Map[Vec3, Seq[Long]] = {
    val s = spark
    import s.implicits._
    val df = rows.toSeq.map { case (p, l) => (p.x, p.y, p.z, l) }
      .toDF("x", "y", "z", "label")
    Fixtures.gather(df, block, clampTo)
      .as[(Long, Long, Long, Array[Long])].collect()
      .map { case (gx, gy, gz, v) => Vec3(gx, gy, gz) -> v.toSeq }.toMap
  }

  private val cells: Seq[Vec3] = {
    val bounds = Bbox(Vec3(0, 0, 0), size)
    Geom.gridpoints(bounds, bounds, block).filter { g =>
      val cb = Geom.chunkBbox(g, bounds, block)
      rows.keys.exists(cb.contains)
    }
  }

  test("gather equals a per-voxel read of clamped blocks") {
    val got = gathered(Some(size))
    val bounds = Bbox(Vec3(0, 0, 0), size)
    assert(got.keySet == cells.toSet)
    cells.foreach { g =>
      assert(got(g) == expected(g, Geom.chunkBbox(g, bounds, block)), s"block $g")
    }
    assert(got(Vec3(2, 2, 2)).size == 3 * 1 * 1) // the corner edge block
  }

  test("gather equals a per-voxel read of full-size padded blocks") {
    val got = gathered(None)
    assert(got.keySet == cells.toSet)
    cells.foreach { g =>
      val lo = g * block
      assert(got(g) == expected(g, Bbox(lo, lo + block)), s"block $g")
    }
    assert(got.values.forall(_.size == block.x * block.y * block.z))
  }
}

/** A second JVM for [[FixturesSpec]]: builds the fixture at `marker`
  * under [[Fixtures.guard]], touching `ready` when its build starts and
  * writing `built` two seconds later, before the guard writes the marker.
  */
object FixtureLockHolder {
  def main(args: Array[String]): Unit = {
    val Array(marker, stamp, ready, built) = args
    Fixtures.guard(marker, stamp, wipe = Seq(Paths.get(built).getParent.toString)) {
      Files.writeString(Paths.get(ready), "")
      Thread.sleep(2000)
      Files.createDirectories(Paths.get(built).getParent)
      Files.writeString(Paths.get(built), "child")
    }
  }
}
