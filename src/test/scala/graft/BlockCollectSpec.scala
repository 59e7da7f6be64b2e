package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.{CollectBridge, DecodeVoxelsExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.DecodeVoxels

/** The block collect of [[DecodeVoxelsExec]] where it can go wrong:
  * hostile chunks fail as they do on the generic path (the node's
  * `queryExecution.toRdd` rows), a collect past
  * `spark.driver.maxResultSize` fails with Spark's result-size error,
  * and its metrics count what it did. The session caps results at
  * 1 MiB, so it is this spec's own.
  */
class BlockCollectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[2]")
      .config("spark.driver.maxResultSize", "1m")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Chunk rows (x0..z1, payload) in one partition of session `s`. */
  private def chunkRows(s: SparkSession, rows: Seq[(Bbox, Array[Byte])]): DataFrame = {
    import s.implicits._
    rows.map { case (b, p) =>
      (b.minpt.x, b.minpt.y, b.minpt.z, b.maxpt.x, b.maxpt.y, b.maxpt.z, p)
    }.toDF("x0", "y0", "z0", "x1", "y1", "z1", "payload").coalesce(1)
  }

  /** The stage over `rows` in session `s`. */
  private def stage(s: SparkSession, rows: Seq[(Bbox, Array[Byte])],
      encoding: String, dtb: Int, clip: Bbox): DataFrame =
    DecodeVoxels.stage(chunkRows(s, rows),
      DecodeVoxels(DecodeVoxels.chunkCols, encoding, dtb, clip))

  private def failure(df: DataFrame): Throwable =
    intercept[Throwable](df.collect())

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  /** `rows` fail the block collect (both of its entry points) as they
    * fail the generic path: same exception class, same root cause
    * class. */
  private def assertSameFailure(name: String, rows: Seq[(Bbox, Array[Byte])],
      encoding: String, dtb: Int, clip: Bbox): Unit = {
    val df = stage(spark, rows, encoding, dtb, clip)
    val generic = intercept[Throwable](df.queryExecution.toRdd.count())
    val exec = df.queryExecution.executedPlan
    assert(exec.isInstanceOf[DecodeVoxelsExec], s"$name: $exec")
    for (got <- Seq(failure(df),
        intercept[Throwable](CollectBridge.collectIterator(exec)._2.size))) {
      assert(got.getClass == generic.getClass, s"$name: $got vs $generic")
      assert(rootCause(got).getClass == rootCause(generic).getClass,
        s"$name: ${rootCause(got)} vs ${rootCause(generic)}")
    }
  }

  test("a truncated raw chunk fails as on the generic path") {
    val b = Bbox(Vec3(0, 0, 0), Vec3(5, 4, 3))
    val whole = Codec.encodeRawFromLongs(Array.tabulate(60)(_.toLong), 4)
    // short by one voxel, and short by half a voxel
    for (cut <- Seq(4, 2))
      assertSameFailure(s"raw short by $cut bytes",
        Seq(b -> whole.dropRight(cut)), "raw", 4, b)
  }

  test("a shape-mismatched compresso chunk fails as on the generic path") {
    val stored = Vec3(4, 4, 3)
    val p = Compresso.encode(Array.tabulate(48)(i => (i % 5).toLong), stored, 4)
    // the same voxel count in another shape, then a shorter chunk
    for (row <- Seq(Vec3(4, 2, 6), Vec3(4, 4, 2)))
      assertSameFailure(s"compresso $stored read as $row",
        Seq(Bbox(Vec3(0, 0, 0), row) -> p), "compresso", 4,
        Bbox(Vec3(0, 0, 0), Vec3(8, 8, 8)))
  }

  test("a collect past spark.driver.maxResultSize fails with Spark's " +
      "result-size error") {
    // 8 chunks of 32^3 random uint64 labels: 2 MiB of blocks that no
    // codec shrinks, against a 1 MiB cap
    val r = new java.util.Random(17)
    val cs = Vec3(32, 32, 32)
    val rows = Geom.gridpoints(Bbox(Vec3(0, 0, 0), cs * 2L), Bbox(Vec3(0, 0, 0), cs * 2L), cs)
      .map { g =>
        Bbox(g * cs, g * cs + cs) ->
          Codec.encodeRawFromLongs(Array.fill(32 * 32 * 32)(r.nextLong()), 8)
      }
    assertResultSizeError("random uint64",
      stage(spark, rows, "raw", 8, Bbox(Vec3(0, 0, 0), cs * 2L)))

    // 64 missing chunks of 32^3 read as background 7: a few hundred
    // bytes of blocks, but 2 Mi rows (80 MiB) on the driver
    val vol = Bbox(Vec3(0, 0, 0), cs * 4L)
    val missing = Geom.gridpoints(vol, vol, cs).map(g => Bbox(g * cs, g * cs + cs) -> null)
    assertResultSizeError("missing chunks", DecodeVoxels.stage(chunkRows(spark, missing),
      DecodeVoxels(DecodeVoxels.chunkCols, "raw", 8, vol, background = 7L)))
  }

  /** `df` fails both collects with Spark's result-size error. */
  private def assertResultSizeError(name: String, df: DataFrame): Unit = {
    val exec = df.queryExecution.executedPlan
    for (e <- Seq(intercept[SparkException](df.collect()),
        intercept[SparkException](CollectBridge.collectIterator(exec)._2.size)))
      assert(e.getMessage.contains("spark.driver.maxResultSize"), s"$name: ${e.getMessage}")
  }

  test("a collect whose rows pass the cap but whose compressed rows fit " +
      "under it takes the row path and returns every row") {
    // one missing 32^3 chunk: 32768 rows, 1.25 MiB as 40-byte rows,
    // far less once the row path compresses them
    val b = Bbox(Vec3(0, 0, 0), Vec3(32, 32, 32))
    val df = DecodeVoxels.stage(chunkRows(spark, Seq(b -> null)),
      DecodeVoxels(DecodeVoxels.chunkCols, "raw", 1, b, background = 7L))
    val want = Geom.clipRows(Array.fill(32768)(7L), b.minpt, b.size, b)
    val exec = df.queryExecution.executedPlan.asInstanceOf[DecodeVoxelsExec]
    assert(df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) == want)
    assert(exec.metrics("numOutputRows").value == 32768L)
    val (n, it) = CollectBridge.collectIterator(exec)
    assert(n == 32768L && it.map(_.getLong(3)).forall(_ == 7L))
  }

  test("numOutputRows and blockBytes count a collect's rows and shipped " +
      "bytes, in the plan and through listeners") {
    // 13x9x7 uint8 voxels in 5x4x3 chunks, one chunk missing; the box
    // clips 10 x 6 x 4 = 240 of them
    val vol = Bbox(Vec3(0, 0, 0), Vec3(13, 9, 7))
    val cs = Vec3(5, 4, 3)
    val rows = Geom.gridpoints(vol, vol, cs).map { g =>
      val b = Geom.chunkBbox(g, vol, cs)
      val n = (b.size.x * b.size.y * b.size.z).toInt
      b -> (if (g == Vec3(1, 1, 1)) null
            else Codec.encodeRawFromLongs(Array.tabulate(n)(i => (i * 7 % 256).toLong), 1))
    }
    val box = Bbox(Vec3(1, 2, 1), Vec3(11, 8, 5))
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = stage(spark, rows, "raw", 1, box)
      assert(df.collect().length == 240)
      CollectBridge.drain(spark.sparkContext)
      val qe = seen.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, "no listener event")
      val exec = qe.executedPlan.asInstanceOf[DecodeVoxelsExec]
      assert(exec.metrics("numOutputRows").value == 240L)
      val shipped = exec.metrics("blockBytes").value
      // one byte per voxel, the missing chunk as one long, framed and
      // compressed: more than nothing, far less than 240 40-byte rows
      assert(shipped > 0L && shipped < 240L * 40 / 4, s"blockBytes $shipped")

      // the same values as the SQL status store (what the UI shows)
      val store = spark.sharedState.statusStore
      val execution = store.executionsList().last
      val values = store.executionMetrics(execution.executionId)
      def shown(m: String) = values.get(exec.metrics(m).id)
      assert(shown("numOutputRows").contains("240"), values)
      assert(shown("blockBytes").exists(_.contains(" B")), values)

      // under a consumer nothing collects the stage: Spark's own
      // GenerateExec, no node
      val filtered = stage(spark, rows, "raw", 1, box)
        .filter(org.apache.spark.sql.functions.col("x") >= 0L)
      assert(filtered.collect().length == 240)
      CollectBridge.drain(spark.sparkContext)
      val fplan = seen.poll(10, java.util.concurrent.TimeUnit.SECONDS).executedPlan
      assert(fplan.collectFirst { case d: DecodeVoxelsExec => d }.isEmpty, fplan)
      assert(fplan.collectFirst { case g: org.apache.spark.sql.execution.GenerateExec =>
        g.metrics("numOutputRows").value }.contains(240L), fplan)

      // the node and its generator show in explain
      val explained = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(explained.contains("DecodeVoxels") && explained.contains("decode_voxels"),
        explained)
    } finally spark.listenerManager.unregister(listener)
  }
}
