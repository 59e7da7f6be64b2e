package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.sources.PrecomputedIO

/** Streaming-source contract of the DSv2 `neuroglancer` format that
  * the oracle entry (st16) can't see: incremental offsets across a
  * RESTART (a second run with the same checkpoint processes only new
  * arrivals), admission-control pacing, and discovery-window pruning.
  */
class NgStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("ng_stream_spec").toString
  private val layer = s"$dir/layer"
  private val ckpt = s"$dir/ckpt"

  private val meta = VolumeMeta(
    layerType = "segmentation", dataType = "uint32", numChannels = 1,
    scales = Seq(ScaleMeta(
      key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(4, 4, 4), size = Vec3(16, 8, 4),
      voxelOffset = Vec3(0, 0, 0))))

  private def writeWave(keys: Seq[(Long, Long, Long)]): Unit = {
    val s = spark
    import s.implicits._
    val chunks = keys.map { case (gx, gy, gz) =>
      (gx, gy, gz, Codec.encodeRawFromLongs(Array.fill(64)(gx + 10 * gy), 4))
    }.toDF("gx", "gy", "gz", "payload")
    PrecomputedIO.writeChunks(chunks, layer, meta, 0)
  }

  private val sinkDir = s"$dir/sink"

  /** Run the stream to a parquet sink (memory sink refuses checkpoint
    * RECOVERY, which is exactly what the restart test exercises);
    * returns the sink's total row count so far.
    */
  private def drain(): Long = {
    val q = spark.readStream.format("neuroglancer")
      .option("path", layer)
      .option("max_chunks_per_trigger", "2")
      .load().select("gx", "gy", "gz") // payload pruned: no chunk IO
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sinkDir).count()
  }

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    PrecomputedIO.writeInfo(layer, meta)
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  test("incremental offsets: restart processes only new arrivals") {
    writeWave(Seq((0L, 0L, 0L), (1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L)))
    assert(drain() == 4)
    // 2 chunks per trigger -> 2 committed batches (ignore .crc sidecars)
    val commits = Files.list(Paths.get(ckpt, "commits")).toArray
      .map(_.toString.split('/').last).count(!_.startsWith("."))
    assert(commits == 2)

    writeWave(Seq((0L, 1L, 0L), (1L, 1L, 0L), (2L, 1L, 0L)))
    // same checkpoint, restarted query: only the 3 new chunks emit
    assert(drain() == 7)
    val journal = Paths.get(ckpt, "sources", "0", "ng_chunk_log")
    assert(Files.readAllLines(journal).size() == 7)
  }

  test("a compression-suffix rewrite of a journaled chunk is not re-emitted") {
    // the journal keys on the suffix-stripped base name: chunk objects
    // are immutable-once-written, so 'name' later reappearing as
    // 'name.gz' is the same cell (r15 advisor) — rewrite wave-1's
    // first chunk gzipped and restart: zero new rows, zero new journal
    // lines
    val scaleDir = Paths.get(layer, "1_1_1")
    val gz = Files.list(scaleDir).toArray.map(_.toString)
      .map(Paths.get(_)).find(_.getFileName.toString.endsWith(".gz"))
      .get
    val plain = gz.resolveSibling(gz.getFileName.toString.stripSuffix(".gz"))
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(Files.readAllBytes(gz)))
    Files.write(plain, in.readAllBytes())
    Files.delete(gz)
    val before = Files.readAllLines(
      Paths.get(ckpt, "sources", "0", "ng_chunk_log")).size()
    assert(drain() == 7) // sink count unchanged from the restart test
    val after = Files.readAllLines(
      Paths.get(ckpt, "sources", "0", "ng_chunk_log")).size()
    assert(after == before, s"suffix rewrite re-journaled: $before -> $after")
  }

  test("non-file checkpoint scheme fails loudly instead of journaling locally") {
    val q = intercept[Exception] {
      val st = spark.readStream.format("neuroglancer")
        .option("path", layer)
        .load().select("gx")
        .writeStream.format("memory").queryName("ng_stream_badckpt")
        .option("checkpointLocation", "hdfs://nn:8020/tmp/ng_ck")
        .trigger(Trigger.AvailableNow())
        .start()
      st.awaitTermination()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(q).exists(m => m != null &&
      (m.contains("local file: path") || m.contains("hdfs"))),
      causes(q).mkString(" | "))
  }

  test("layer-to-layer ETL killed mid-run resumes from the checkpoint " +
      "and converges to the uninterrupted result (r16 verdict item 4)") {
    // st17's restart story, proven by failure injection: the same
    // source layer is ETL'd into two destination layers — once
    // uninterrupted, once stopped after the first committed batch and
    // resumed from the same checkpoint — and the decoded voxel
    // contents must match exactly. Reference precedent: the reference
    // tests exception propagation through its pools
    // (test/test_cloudvolume.py:2046).
    val root = Files.createTempDirectory("ng_restart_spec")
    val src = root.resolve("src").toString
    val srcMeta = VolumeMeta(
      layerType = "segmentation", dataType = "uint32", numChannels = 1,
      scales = Seq(ScaleMeta(
        key = "1_1_1", encoding = "raw", resolution = Seq(1, 1, 1),
        chunkSize = Vec3(4, 4, 4), size = Vec3(16, 8, 4),
        voxelOffset = Vec3(0, 0, 0))))
    PrecomputedIO.writeInfo(src, srcMeta)
    val s = spark
    import s.implicits._
    val chunks = (for (gx <- 0L to 3L; gy <- 0L to 1L) yield (gx, gy))
      .map { case (gx, gy) =>
        (gx, gy, 0L,
          Codec.encodeRawFromLongs(
            Array.tabulate(64)(i => gx * 1000 + gy * 100 + i), 4))
      }.toDF("gx", "gy", "gz", "payload")
    PrecomputedIO.writeChunks(chunks, src, srcMeta, 0)

    // the relabel stage sleeps per chunk so the mid-run stop() lands
    // between batches, not after full drain
    val relabel = udf((p: Array[Byte]) => {
      Thread.sleep(150)
      val bb = java.nio.ByteBuffer.wrap(p.clone())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < p.length) { bb.putInt(i, bb.getInt(i) * 3 + 1); i += 4 }
      bb.array()
    })
    def runEtl(dst: String, ck: String, stopEarly: Boolean): Unit = {
      PrecomputedIO.writeInfo(dst, srcMeta)
      val q = spark.readStream.format("neuroglancer")
        .option("path", src)
        .option("max_chunks_per_trigger", "1") // 8 batches
        .load()
        .select(col("gx"), col("gy"), col("gz"),
          relabel(col("payload")).as("payload"))
        .writeStream.format("neuroglancer")
        .option("path", dst)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      if (stopEarly) {
        // wait for >= 1 committed batch, then kill the query mid-run
        val commits = Paths.get(ck, "commits")
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while ({
          val n = if (Files.exists(commits))
            Files.list(commits).toArray.map(_.toString.split('/').last)
              .count(!_.startsWith("."))
          else 0
          n < 1 && q.isActive && System.nanoTime() < deadline
        }) Thread.sleep(20)
        q.stop()
        q.awaitTermination()
      } else q.awaitTermination()
    }
    val dstA = root.resolve("dst_uninterrupted").toString
    runEtl(dstA, root.resolve("ckpt_a").toString, stopEarly = false)

    val dstB = root.resolve("dst_restarted").toString
    val ckB = root.resolve("ckpt_b").toString
    runEtl(dstB, ckB, stopEarly = true)
    val committedAtKill = Files.list(Paths.get(ckB, "commits")).toArray
      .map(_.toString.split('/').last).count(!_.startsWith("."))
    assert(committedAtKill < 8,
      s"kill landed after full drain ($committedAtKill batches) — " +
        "the restart leg would prove nothing")
    // resume from the SAME checkpoint; AvailableNow drains the rest
    runEtl(dstB, ckB, stopEarly = false)

    def voxelMap(dst: String): Map[(Long, Long, Long), Long] =
      PrecomputedIO.cutoutVoxels(spark, dst,
          Bbox(Vec3(0, 0, 0), Vec3(16, 8, 4)))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
        .toMap
    val a = voxelMap(dstA)
    val b = voxelMap(dstB)
    assert(a.size == 16 * 8 * 4)
    assert(b == a, "restarted ETL diverged from the uninterrupted run")
  }

  test("discovery window prunes the journal, not just the result") {
    val ckpt2 = s"$dir/ckpt2"
    val q = spark.readStream.format("neuroglancer")
      .option("path", layer)
      .option("gx_hi", "0")
      .load().select("gx", "gy", "gz")
      .writeStream.format("memory").queryName("ng_stream_win")
      .outputMode("append")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("ng_stream_win").count() == 2) // gx==0 waves 1+2
    val journal = Paths.get(ckpt2, "sources", "0", "ng_chunk_log")
    assert(Files.readAllLines(journal).size() == 2)
  }

  test("a micro-batch scan drops no predicate it did not evaluate") {
    // Spark pushes no predicate into a micro-batch scan: it applies
    // only its gx_lo..gz_hi window, so a filter narrower than the
    // window (gx >= 1, x0 < 8) must still hold on every streamed row
    val q = spark.readStream.format("neuroglancer")
      .option("path", layer)
      .option("gx_hi", "2")
      .load().filter(col("gx") >= 1 && col("x0") < 8)
      .select("gx", "gy", "gz")
      .writeStream.format("memory").queryName("ng_stream_pred")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt_pred")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val want = PrecomputedIO.readChunks(spark, layer)
      .select("gx", "gy", "gz", "x0").collect()
      .filter(r => r.getLong(0) <= 2 && r.getLong(0) >= 1 && r.getLong(3) < 8)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.toSet == Set((1L, 0L, 0L), (1L, 1L, 0L)))
    val got = spark.table("ng_stream_pred").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.length == want.length && got.toSet == want.toSet)
  }

  test("a stream over a sharded scale is refused, not silently empty") {
    // the stream discovers per-chunk objects; a sharded scale only has
    // shard files, which no chunk name parse accepts
    val sharded = s"$dir/layer_sharded"
    val sm = meta.copy(scales = Seq(meta.scale(0).copy(
      sharding = Some(ShardingSpec(0, 0, 1)))))
    PrecomputedIO.writeInfo(sharded, sm)
    val s = spark
    import s.implicits._
    graft.sources.ShardedIO.writeSharded(Seq((0L, 0L, 0L,
        Codec.encodeRawFromLongs(Array.fill(64)(7L), 4)))
      .toDF("gx", "gy", "gz", "payload"), sharded, sm, 0)
    val e = intercept[Exception] {
      val q = spark.readStream.format("neuroglancer")
        .option("path", sharded)
        .load().select("gx", "gy", "gz")
        .writeStream.format("memory").queryName("ng_stream_sharded")
        .option("checkpointLocation", s"$dir/ckpt_sharded")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("is sharded")),
      causes(e).mkString(" | "))
  }
}
