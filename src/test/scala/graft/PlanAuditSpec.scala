package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Scale anti-pattern gate over EVERY registered query: the two plan
  * shapes that are silently fine at sf0.001 and fatal at 100 TB —
  * cartesian products (all-pairs blowup) and global windows (single
  * partition holding the whole dataset) — must never appear. This
  * automates the per-round audit so a regression fails CI instead of
  * waiting for a human plan read.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  test("no registered query plans a cartesian product or a global window") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df =
        try fn(spark, sfDir)
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      // pre-AQE physical plan: traversable in full, and pessimistic —
      // AQE can only improve on what we assert about here
      df.queryExecution.sparkPlan.foreach {
        case _: CartesianProductExec =>
          offenders += s"$name: CartesianProduct"
        case w: WindowExec if w.partitionSpec.isEmpty =>
          offenders += s"$name: global window (empty partitionSpec)"
        case _ => ()
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SQL against the neuroglancer table pushes chunk-key filters " +
      "into the scan (non-empty PushedFilters)") {
    // build the pure-SQL cutout entry; its own builder already runs
    // Neuroglancer.requirePushedFilters, so a silent fall-back to a
    // full-grid scan fails HERE, not at 100 TB. Then re-assert from
    // the outside so the rail itself is covered.
    val df = SparkEntry.queries("s4f_cutout_sql_pushdown")(spark, sfDir)
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val ng = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collect { case s: graft.sources.NgScan => s }
    assert(ng.nonEmpty, "no NgScan in the optimized plan")
    assert(ng.forall(_.pushed.length >= 6),
      s"expected all 6 bbox-overlap predicates pushed, got: " +
        ng.map(_.description()).mkString("; "))
    // column pruning reached the scan too: the SQL never touches the
    // grid-coordinate columns, so the read schema must not carry them
    // (a scan reading all 10 columns for a 7-column consumer is wrong)
    ng.foreach { sc =>
      val read = sc.readSchema().fieldNames.toSet
      assert(Seq("gx", "gy", "gz").forall(c => !read.contains(c)),
        s"grid columns not pruned from the SQL scan: $read")
    }
    // and the rail rejects a genuinely unpushable query (payload-only
    // predicate -> nothing for the scan to apply)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_ng_unpushed
      |USING neuroglancer OPTIONS (
      |  path '${graft.ops.RealLayerQueries.LayerDir}', mip '0')""".stripMargin)
    val bad = spark.sql(
      "SELECT gx FROM graft_ng_unpushed WHERE length(payload) > 0")
    intercept[IllegalArgumentException](
      graft.sources.Neuroglancer.requirePushedFilters(bad))
  }
}
