package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ShardingSpec
import graft.sources.ShardedIO

/** The one label-keyed read and write ([[ShardedIO.readLabeled]],
  * [[ShardedIO.writeLabeled]]) on both layouts a layer's info can
  * declare: the same rows written as plain objects and as shards read
  * back identical, absent ids yield no row, the plain read adds no
  * exchange and the sharded read one, which gives each shard one task.
  */
class LabeledReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("labeled_read_spec").toString
  private val plain = s"$root/plain"
  private val sharded = s"$root/sharded"
  // identity hash: minishard = label & 3, shard = (label >>> 2) & 3
  private val spec = ShardingSpec(preshiftBits = 0, minishardBits = 2,
    shardBits = 2, hashName = "identity", minishardIndexEncoding = "gzip",
    dataEncoding = "gzip")

  /** Labels in shards 0, 1 and 3, every minishard of each; shard 2 is
    * never written. -4 and -1 are labels at or above 2^63 (shard 3). */
  private val rows: Seq[(Long, Array[Byte])] =
    ((0L until 64L).filter(l => (l >>> 2 & 3) != 2) ++ Seq(-4L, -1L))
      .map(l => l -> Array.tabulate((l & 31).toInt + 1)(i => (l * 31 + i).toByte))

  /** Every written label, plus absent ones: 100 in written shard 1, 8
    * in the unwritten shard 2, -2 and 2^63 at or above 2^63. */
  private val ids: Seq[Long] = rows.map(_._1) ++ Seq(100L, 8L, -2L, Long.MinValue)

  private val layouts = Seq(plain -> None, sharded -> Some(spec))

  override def beforeAll(): Unit = {
    // AQE off: the plan's exchanges and the read's task partitions are
    // then the ones the query states, not re-planned or coalesced
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    import s.implicits._
    layouts.foreach { case (dir, sharding) =>
      ShardedIO.writeLabeled(rows.toDF("label", "payload"), dir, sharding)
    }
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.ops.Fixtures.rmTree(root)
  }

  private def read(dir: String, sharding: Option[ShardingSpec])
      : Dataset[(Long, Array[Byte])] = {
    val s = spark
    import s.implicits._
    ShardedIO.readLabeled(ids.toDS(), dir, sharding)
  }

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSet

  test("the same rows read back identical from plain objects and from " +
      "shards, and absent ids yield no row") {
    val want = rows.map { case (l, p) => l -> p.toSeq }.toMap
    for ((dir, sharding) <- layouts) {
      val got = read(dir, sharding).collect()
      assert(got.length == rows.size, s"$dir: one row per stored id")
      assert(got.map { case (l, p) => l -> p.toSeq }.toMap == want, dir)
    }
    assert(names(sharded) == Set(0L, 1L, 3L).map(spec.shardFilename))
    assert(names(plain).contains("18446744073709551615"), "-1 is named unsigned")
  }

  test("an unsharded write leaves exactly one object per row and no temporary file") {
    assert(names(plain) == rows.map(r => java.lang.Long.toUnsignedString(r._1)).toSet)
  }

  test("the unsharded read plans no Exchange; the sharded read plans exactly one") {
    def exchanges(sharding: Option[ShardingSpec]): Int =
      read(plain, sharding).queryExecution.executedPlan
        .collect { case e: Exchange => e }.size
    assert(exchanges(None) == 0)
    assert(exchanges(Some(spec)) == 1)
  }

  test("the sharded read gives each shard's ids one task") {
    val s = spark
    import s.implicits._
    val parts = read(sharded, Some(spec)).toDF("label", "payload")
      .select(col("label"), spark_partition_id()).as[(Long, Int)].collect()
      .groupBy { case (l, _) => spec.shardLocation(l)._1 }
    assert(parts.keySet == Set(0L, 1L, 3L))
    parts.foreach { case (shard, ls) =>
      assert(ls.map(_._2).distinct.length == 1, s"shard $shard read by several tasks")
    }
  }
}
