package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Morton, MurmurHash3_128, Vec3}
import graft.functions.ContainsGateRule
import org.apache.spark.sql.graftshim.DecodeVoxelsExec

/** The production one-liner: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` must carry
  * the full graft SQL surface (codegen'd Catalyst functions) with no
  * imperative register() call, and plan its cutouts as every session
  * does: the decode node, and the P6 contains-gate below a label
  * filter. Guards the config path the library README advertises; the
  * imperative path is covered by MortonExprSpec/GateRuleSpec.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // extensions apply only at session CONSTRUCTION: drop whatever
    // session an earlier suite left as default so getOrCreate builds
    // a genuinely fresh one with the extension class
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("graft functions are callable from pure SQL via the extension") {
    val r = spark.sql(
      "SELECT graft_morton(1L, 2L, 3L, 4L, 4L, 4L) AS m, " +
        "graft_mmh3(1093L) AS h, " +
        "graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").head()
    assert(r.getLong(0) == Morton.encode(Vec3(1, 2, 3), Vec3(4, 4, 4)))
    assert(r.getLong(1) == MurmurHash3_128.hashUint64LE(1093L))
    assert(r.getLong(2) == 32L)
  }

  test("bbox/graphene/u64 family is callable from pure SQL (r17)") {
    val r = spark.sql(
      "SELECT graft_bbox_overlaps(0L,0L,0L,4L,4L,4L, 3L,3L,3L,9L,9L,9L) AS o1, " +
        "graft_bbox_overlaps(0L,0L,0L,4L,4L,4L, 4L,0L,0L,9L,4L,4L) AS o2, " +
        "graft_bbox_volume(1L,2L,3L, 4L,6L,10L) AS v, " +
        "graft_bbox_volume(5L,2L,3L, 4L,6L,10L) AS vdeg, " +
        "graft_bbox_filename(0L,16L,32L, 64L,80L,96L) AS f, " +
        "graft_graphene_layer(-6917529027641081847L, 8L) AS gl, " +
        "graft_graphene_segid(-6917529027641081847L, 8L, 10L) AS gs, " +
        "graft_parse_u64('9223372036854775821') AS u").head()
    assert(r.getBoolean(0)) // proper overlap
    assert(!r.getBoolean(1)) // touching half-open boxes share no voxel
    assert(r.getLong(2) == 3L * 4 * 7)
    assert(r.getLong(3) == 0L) // degenerate axis clamps to 0
    assert(r.getString(4) == "0-64_16-80_32-96")
    // label 0xA000...0009: layer = top 8 bits = 0xA0 = 160
    assert(r.getLong(5) == 160L)
    // segid = low 64-8-30=26 bits of ...009
    assert(r.getLong(6) == 9L)
    assert(r.getLong(7) == Long.MinValue + 13L) // 2^63+13 two's complement
    // invalid u64 string fails as the declared contract type
    intercept[Exception] {
      spark.sql("SELECT graft_parse_u64('not-a-number')").head()
    }
  }

  test("an extension-built session's filtered cutout is gated") {
    val dir = java.nio.file.Files.createTempDirectory("ext_gate").toString
    val k = Long.MinValue + 9L // a top-bit label of the fixture's palette
    for ((name, cut, want) <- GridFixtures.threeCutouts(spark, dir)) {
      val df = cut(spark).filter(org.apache.spark.sql.functions.col("label") === k)
      val plan = df.queryExecution.optimizedPlan.toString
      val gen = plan.linesIterator.indexWhere(_.contains("Generate"))
      val gate = plan.linesIterator.indexWhere(_.contains(ContainsGateRule.GateName))
      assert(gen >= 0 && gate > gen, s"$name: gate not below Generate:\n$plan")
      val keep = want.filter(_._4 == k)
      assert(keep.nonEmpty && GridFixtures.rows(df).toSet == keep, s"$name: rows")
    }
  }

  test("the extension plans cutout decodes as DecodeVoxelsExec") {
    val dir = java.nio.file.Files.createTempDirectory("ext_decode").toString
    for ((name, cut, want) <- GridFixtures.threeCutouts(spark, dir)) {
      val df = cut(spark)
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[DecodeVoxelsExec], s"$name: plan root:\n$plan")
      val got = GridFixtures.rows(df)
      assert(got.length == want.size && got.toSet == want, s"$name: rows")
    }
  }
}
