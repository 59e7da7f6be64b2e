package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an sf1 testdata directory from the driver's sf0.1 drop
  * (round-12 brief item 3: push the scale-slope check one decade).
  * /root/testdata tops out at sf0.1 and is read-only, so the next
  * decade is generated: each table becomes `factor` replicas with all
  * key columns offset by replica*KeyStride (join integrity between
  * lineitem/orders/customer/supplier/part is preserved because every
  * key moves by the same stride). The result is a TIMING corpus for
  * Scaling.scala — the DuckDB oracle never runs against it.
  *
  * Content columns are salted per replica where verbatim duplication
  * would change an algorithm's complexity class, not just its input
  * size: document text gets a per-replica suffix (otherwise
  * dedup/minhash at sf1 would see every doc 10x exactly-duplicated —
  * candidate-pair counts would explode quadratically for reasons the
  * real corpus doesn't have) and embeddings are cyclically rotated per
  * replica (distinct directions, same norms — brute-force/IVF probe
  * geometry stays honest). region/nation are reference dims and copy
  * through unchanged.
  */
object ScaleUp {
  val KeyStride = 10000000L

  private val keyCols = Set(
    "l_orderkey", "l_partkey", "l_suppkey",
    "o_orderkey", "o_custkey",
    "c_custkey",
    "s_suppkey",
    "p_partkey",
    "ps_partkey", "ps_suppkey",
    "event_id", "user_id",
    "doc_id", "vec_id")

  private def replicate(df: DataFrame, factor: Int): DataFrame = {
    val schema = df.schema
    val hasText = schema.fieldNames.contains("text")
    val embCol = schema.fields.find(f =>
      f.dataType.typeName == "array" && f.name == "embedding").map(_.name)
    (0 until factor).map { i =>
      var r = df
      if (i > 0) {
        schema.fieldNames.filter(keyCols.contains).foreach { k =>
          r = r.withColumn(k, col(k) + lit(i * KeyStride))
        }
        if (hasText)
          r = r.withColumn("text", concat(col("text"), lit(s" r$i")))
        embCol.foreach { e =>
          // deterministic per-(replica, index) SIGN FLIP: same norm,
          // expected cosine ~0 against every other replica. (A cyclic
          // rotation — the first attempt — left replicas highly
          // correlated because the synthetic vectors are smooth, which
          // made every embedding a 10-way near-dup family and blew the
          // cosine-NN pair count up 104x.)
          r = r.withColumn(e, expr(
            s"transform($e, (x, j) -> CAST(x * (1 - 2 * pmod(hash(j, $i), 2)) AS FLOAT))"))
        }
      }
      r
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("graft-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val passthrough = Set("region", "nation")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val in = spark.read.parquet(s"$src/$t.parquet")
      val out = if (passthrough.contains(t)) in else replicate(in, factor)
      // the driver's drop stores each table as ONE parquet FILE (and
      // stageEvents Files.copy's it as such) — write a single part and
      // move it to <table>.parquet
      val tmp = s"$dst/.tmp_$t"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(dst, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.ops.Fixtures.rmTree(tmp)
      println(s"[scaleup] $t: ${in.count()} -> ${out.count()} rows")
    }
    spark.stop()
  }
}
