package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.{Bbox, ScaleMeta, Vec3, VolumeMeta}
import graft.sources.PrecomputedIO

/** Structured Streaming surface (SURVEY §2.9). The reference has no
  * streaming engine; these are the streaming analogues it motivates:
  *
  * st1: event-time tumbling-window aggregation over the events table
  * replayed through a file stream source — the zarr3 time-axis /
  * t-chunked micro-batch shape (zarr3/metadata.py:211-261).
  *
  * st2: chunk-arrival ingestion — the real precomputed layer's chunk
  * objects consumed by a binaryFile stream, decoded, and folded into a
  * streaming distinct-label state (the incremental-A1 north star;
  * dropDuplicates is the stateful dedup operator).
  *
  * Both run with Trigger.AvailableNow into a memory sink and return
  * the final table, so the driver's batch oracle can check them like
  * any other query. Watermark/late-data semantics are exercised in
  * StreamSpec where event times are controlled.
  *
  * Scale shape: file stream sources list incrementally and checkpoint;
  * the window aggregation shuffles on (window, key) exactly like the
  * batch plan; dropDuplicates keeps one state row per label.
  */
object StreamQueries {

  private val Root = "/tmp/graft_stream"

  /** Stream-checkpoint root. The checkpoint of these one-shot
    * AvailableNow queries is pure micro-batch machinery (offset/commit
    * WAL + state-store deltas), never recovered across invocations —
    * each run deletes and recreates it, so every invocation recomputes
    * from the staged inputs. Putting it on tmpfs removes the
    * disk-metadata cost of the WAL/state files from every micro-batch
    * (guide §6 small-files; ~30+ tiny file creates+renames per entry).
    * Production long-running streams need a durable checkpoint and set
    * this conf to one; the local default prefers /dev/shm when present.
    */
  private def ckptDir(s: SparkSession, name: String): java.nio.file.Path = {
    val root = s.conf.getOption("spark.graft.stream.checkpointRoot")
      .getOrElse {
        if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm/graft_stream_ckpt"
        else s"$Root/ckpt"
      }
    Paths.get(root, name)
  }

  /** Scope a streaming run: state-partition count sized to state
    * volume, and the trailing no-data micro-batch disabled. The
    * no-data batch exists to finalize event-time watermark state
    * (emit closed append-mode windows / evict join state / fire
    * timers); every stream in this suite is either watermark-free or
    * (st7) an INNER stream-stream join whose matches all emit in the
    * data batch — state eviction after the last batch of a one-shot
    * run produces no rows, so skipping the extra batch is
    * result-identical while saving a full replan + state-store
    * open/commit cycle per entry (VERDICT r18 item 1).
    */
  private[graft] def scopedStream[T](s: SparkSession)(body: => T): T = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData =
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body
    finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }

  /** Bench setup hook: stage the stream-source directories up front. */
  def prepare(s: SparkSession, sfDir: String): Unit = {
    stageEvents(s, sfDir); stageDocs(s, sfDir); stageNearDocs(s, sfDir)
  }

  /** Stage events.parquet into a stream-source directory (file stream
    * sources consume directories).
    */
  private def stageEvents(s: SparkSession, sfDir: String): String =
    synchronized {
      val dir = Paths.get(Root, "events")
      Fixtures.guard(s"$Root/.built_from", Fixtures.srcStamp(sfDir),
          wipe = Seq(dir.toString)) {
        Files.createDirectories(dir)
        Files.copy(Paths.get(sfDir, "events.parquet"),
          dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      }
      dir.toString
    }

  /** Stage the documents corpus (plus synthesized exact duplicates —
    * even doc_ids re-keyed to +10000 with identical text) as a stream
    * source for st4.
    */
  private def stageDocs(s: SparkSession, sfDir: String): String =
    synchronized {
      val dir = Paths.get(Root, "docs")
      // v2: +lang column
      Fixtures.guard(s"$Root/.docs_from", s"${Fixtures.srcStamp(sfDir)}|v2") {
        val docs = s.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"))
        docs.unionAll(docs.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 10000).as("doc_id"), col("lang"),
              col("text")))
          .write.mode("overwrite").parquet(dir.toString)
      }
      dir.toString
    }

  /** Stage the NEAR-duplicate corpus (TextQueries.corpus: even doc_ids
    * re-keyed to +10000 with the FIRST WORD dropped) as a stream
    * source for st18 — partial band collisions, so the LSH S-curve is
    * actually exercised (the exact-dup corpus of st4 would collide in
    * every band).
    */
  private[graft] def stageNearDocs(s: SparkSession, sfDir: String): String =
    synchronized {
      val dir = Paths.get(Root, "docs_near")
      Fixtures.guard(s"$Root/.docs_near_from", Fixtures.srcStamp(sfDir)) {
        val docs = s.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        docs.unionAll(docs.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 10000).as("doc_id"),
              expr("substr(text, instr(text, ' ') + 1)").as("text")))
          .write.mode("overwrite").parquet(dir.toString)
      }
      dir.toString
    }

  // minhash permutation coefficients as an array for the compiled
  // signature loop (TextQueries.MinhashFns is the shared source of
  // truth; List indexing inside the per-shingle loop would be O(k))
  private val MhFns: Array[(Long, Long)] = TextQueries.MinhashFns.toArray

  /** Whole-document minhash band keys in ONE compiled pass — the
    * map-side formulation of the batch signature pipeline
    * (TextQueries.minhashPairs shuffles exploded shingles into a
    * per-doc aggregate; at ingest time the signature never needs to
    * leave the row). Arithmetic is bit-identical to the batch
    * expressions: word trigram shingles, hv = first 48 bits of
    * md5(shingle), mh_i = min((hv*a_i + b_i) mod P), band key =
    * "mh_{2b}_mh_{2b+1}". StreamSpec pins the equivalence
    * differentially against the Catalyst expression pipeline.
    */
  private[graft] val bandKeysFn: String => Array[BandKey] = text => {
    val w = text.split(" ", -1)
    if (w.length < 3) Array.empty[BandKey]
    else {
      val mh = Array.fill(MhFns.length)(Long.MaxValue)
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      while (i <= w.length - 3) {
        val d = md.digest((w(i) + " " + w(i + 1) + " " + w(i + 2))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var hv = 0L
        var j = 0
        while (j < 6) { hv = (hv << 8) | (d(j) & 0xffL); j += 1 }
        var k = 0
        while (k < MhFns.length) {
          val v = (hv * MhFns(k)._1 + MhFns(k)._2) % TextQueries.P
          if (v < mh(k)) mh(k) = v
          k += 1
        }
        i += 1
      }
      Array.tabulate(MhFns.length / 2)(b =>
        BandKey(b + 1L, s"${mh(2 * b)}_${mh(2 * b + 1)}"))
    }
  }

  // Shared by st15 (sink face) and st16 (source face): one 64×64×32
  // uint32 layer of 32 disjoint 16³ chunks whose voxels follow a
  // closed form BOTH oracles restate — value = base(gx,gy,gz) + i in
  // F-order, base = (gx*64 + gy*8 + gz) * 100000.
  private val ChunkLayerMeta = VolumeMeta(
    layerType = "segmentation", dataType = "uint32",
    numChannels = 1, scales = Seq(ScaleMeta(key = "1_1_1",
      encoding = "raw", resolution = Seq(1, 1, 1),
      chunkSize = Vec3(16, 16, 16), size = Vec3(64, 64, 32),
      voxelOffset = Vec3(0, 0, 0))))

  private def chunkSpecs(s: SparkSession): DataFrame = {
    import s.implicits._
    (for (gx <- 0L until 4L; gy <- 0L until 4L; gz <- 0L until 2L)
      yield (gx, gy, gz, (gx * 64 + gy * 8 + gz) * 100000L))
      .toDF("gx", "gy", "gz", "base")
  }

  private val chunkPayloadUdf = udf((base: Long) => {
    val bb = java.nio.ByteBuffer.allocate(16 * 16 * 16 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < 4096) { bb.putInt((base + i).toInt); i += 1 }
    bb.array()
  })

  private def runToTable(s: SparkSession, df: DataFrame, name: String,
      outputMode: String): DataFrame = {
    // state-partition count is frozen at query start from this conf:
    // size it to the state volume (tens of KB here — 8 partitions),
    // not the batch-shuffle 32; a 100 TB ingest sizes it to key
    // cardinality. Scoped + restored so batch queries are unaffected.
    // (st7/st8 apply the same scoping around their runToTable calls —
    // re-setting 8 there is a no-op.)
    val ckpt = ckptDir(s, name)
    Fixtures.rmTree(ckpt.toString)
    scopedStream(s) {
      try {
        val q = df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(outputMode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally Fixtures.rmTree(ckpt.toString) // one-shot: never recovered
    }
    s.table(name)
  }

  val queries: Map[String, Q] = Map(

    // §2.9: tumbling 1-hour event-time windows, counts + integer-cent
    // sums per event type (complete mode -> every window emitted, so
    // the batch oracle can compare exactly)
    "st1_window_counts" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        val stream = s.readStream.schema(schema).parquet(src)
          // normalize ts to epoch micros across testdata drops (raw
          // INT64 nanos vs TIMESTAMP(us)) — see Derived.tsMicros
          .select(timestamp_micros(Derived.tsMicros(schema)).as("ets"),
            col("event_type"),
            round(col("value") * 100).cast("long").as("vc"))
          .groupBy(window(col("ets"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"))
          .select(unix_micros(col("window.start")).as("wstart_us"),
            col("event_type"), col("n"), col("sum_vc"))
        runToTable(s, stream, "graft_st1", "complete")
      },
      Some("""SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
        |         AS wstart_us,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_vc
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // §2.9 continued: SLIDING event-time windows — every event lands
    // in TWO overlapping 1-hour windows (30-minute slide), the rate
    // dashboard / rolling-SLA semantic tumbling windows (st1) cannot
    // express. Structured Streaming expands the window set per row at
    // ingest (state keys = windows × types, bounded by time range);
    // the oracle replays the expansion with the two half-hour-aligned
    // window starts each event belongs to.
    "st12_stream_sliding_window" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        val stream = s.readStream.schema(schema).parquet(src)
          .select(timestamp_micros(Derived.tsMicros(schema)).as("ets"),
            col("event_type"),
            round(col("value") * 100).cast("long").as("vc"))
          .groupBy(window(col("ets"), "1 hour", "30 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"))
          .select(unix_micros(col("window.start")).as("wstart_us"),
            col("event_type"), col("n"), col("sum_vc"))
        runToTable(s, stream, "graft_st12", "complete")
      },
      Some("""WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type,
        |          CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |x AS (SELECT tus, event_type, vc,
        |        unnest([(tus // 1800000000) * 1800000000,
        |                (tus // 1800000000) * 1800000000 - 1800000000])
        |          AS wstart_us
        |      FROM e)
        |SELECT wstart_us, event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vc) AS BIGINT) AS sum_vc
        |FROM x WHERE tus >= wstart_us AND tus < wstart_us + 3600000000
        |GROUP BY 1, 2""".stripMargin)),

    // §2.9 streaming heavy hitters: top-3 event types per 1-hour
    // window — the live "what's trending NOW" dashboard. The stream
    // side carries only the windowed count state (windows × types,
    // bounded); the per-window rank runs BATCH-side on the emitted
    // aggregate — exactly how production does streaming top-k: rank
    // the closed window's rows, never rank inside the state store.
    // The election is a keyed max over an integer priority
    // (n * 8 + type-rank) so ties break to the alphabetically first
    // type without a second shuffle.
    "st13_stream_topk" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        val counts = s.readStream.schema(schema).parquet(src)
          .select(timestamp_micros(Derived.tsMicros(schema)).as("ets"),
            col("event_type"))
          .groupBy(window(col("ets"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("window.start")).as("wstart_us"),
            col("event_type"), col("n"))
        val t = runToTable(s, counts, "graft_st13", "complete")
        t.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("wstart_us")
              .orderBy(col("n").desc, col("event_type").asc))
            .cast("long"))
          .filter(col("rk") <= 3)
          .select("wstart_us", "rk", "event_type", "n")
      },
      Some("""WITH c AS (SELECT
        |          CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
        |            AS wstart_us,
        |          event_type, CAST(count(*) AS BIGINT) AS n
        |        FROM events GROUP BY 1, 2),
        |r AS (SELECT wstart_us, event_type, n,
        |        CAST(row_number() OVER (PARTITION BY wstart_us
        |          ORDER BY n DESC, event_type ASC) AS BIGINT) AS rk
        |      FROM c)
        |SELECT wstart_us, rk, event_type, n
        |FROM r WHERE rk <= 3""".stripMargin)),

    // §2.9 time-axis ingest: the zarr3 t-chunked write as a micro-batch
    // sink (zarr3/metadata.py:211-261 — "a t-chunked write is a
    // micro-batch sink partitioned by time chunk"). Events aggregate
    // into 16x16 per-hour count frames; foreachBatch writes one frame
    // object per time chunk; the frames are then read back and decoded
    // like any chunk table.
    "st3_time_chunked_ingest" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val frameDir = Paths.get(Root, "tchunks")
        Fixtures.rmTree(frameDir.toString)
        Files.createDirectories(frameDir)
        val frameDirStr = frameDir.toString
        val schema = s.read.parquet(src).schema
        val frames = s.readStream.schema(schema).parquet(src)
          // integral hour bucket over unit-normalized micros (st1 note)
          .select(Derived.tsMicros(schema).as("tus"),
            (col("user_id") % 16).cast("long").as("fx"),
            (length(col("event_type")) % 16).cast("long").as("fy"))
          .select(expr("tus div 3600000000").as("t"), col("fx"), col("fy"))
          .groupBy("t", "fx", "fy").agg(count(lit(1)).as("n"))
        // same state-partition sizing as runToTable: the complete-mode
        // agg's state stores (and the inner per-batch regroup) are
        // ~40k tiny rows — 8 partitions, scoped + restored
        val ckpt = ckptDir(s, "graft_st3")
        Fixtures.rmTree(ckpt.toString)
        scopedStream(s) {
        try {
        val q = frames.writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // one dense 16x16 u32 frame object per time chunk
            batch.groupBy("t")
              .agg(collect_list(struct(col("fx"), col("fy"), col("n")))
                .as("cells"))
              .foreachPartition {
                rows: Iterator[org.apache.spark.sql.Row] =>
                rows.foreach { r =>
                  val arr = new Array[Long](256)
                  r.getSeq[org.apache.spark.sql.Row](1).foreach { c =>
                    arr((c.getLong(0) + 16 * c.getLong(1)).toInt) = c.getLong(2)
                  }
                  Files.write(
                    Paths.get(frameDirStr, s"t${r.getLong(0)}"),
                    graft.core.Codec.encodeRawFromLongs(arr, 4))
                }
              }
          }
          .start()
        q.awaitTermination()
        } finally Fixtures.rmTree(ckpt.toString)
        }
        // batch read-back: decode every frame, emit nonzero cells
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val names = Files.list(frameDir).iterator.asScala
          .map(_.getFileName.toString).filter(_.startsWith("t")).toSeq.sorted
        names.toDS().repartition(8)
          .flatMap { nme =>
            val t = nme.drop(1).toLong
            val arr = graft.core.Codec.decodeRawToLongs(
              Files.readAllBytes(Paths.get(frameDirStr, nme)), 4)
            arr.indices.collect {
              case i if arr(i) != 0 =>
                (t, (i % 16).toLong, (i / 16).toLong, arr(i))
            }
          }.toDF("t", "fx", "fy", "n")
      },
      Some("""SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS t,
        |       user_id % 16 AS fx, length(event_type) % 16 AS fy,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),

    // §2.9 chunk-arrival ingestion: stream the real layer's chunk
    // objects, decode labels, maintain streaming distinct state
    "st2_stream_chunk_labels" -> Q(
      (s, dir) => {
        RealLayerQueries.ensure(s, dir)
        val scaleDir = s"${RealLayerQueries.LayerDir}/1_1_1"
        val labelsUdf = udf((b: Array[Byte]) =>
          graft.core.Codec.rawLabels(graft.core.Codec.gunzip(b), 4))
        import org.apache.spark.sql.types._
        val binSchema = StructType(Seq(
          StructField("path", StringType),
          StructField("modificationTime", TimestampType),
          StructField("length", LongType),
          StructField("content", BinaryType)))
        val stream = s.readStream.format("binaryFile")
          .schema(binSchema)
          .option("pathGlobFilter", "*.gz")
          .load(scaleDir)
          .select(explode(labelsUdf(col("content"))).as("label"))
          .dropDuplicates("label")
        runToTable(s, stream, "graft_st2", "append")
      },
      Some(s"""SELECT DISTINCT label
        |FROM read_parquet('${RealLayerQueries.VoxelsDir}/*.parquet')""".stripMargin)),

    // §2.9 streaming corpus dedup — the streaming analogue of
    // dedup_exact: documents arrive as a file stream, state keeps one
    // row per distinct normalized content hash (keeper = smallest
    // doc_id seen, plus the copy count). State size tracks the
    // DISTINCT corpus, not the stream length — the property that lets
    // an ingest-time dedup run forever at 100 TB.
    "st4_stream_dedup" -> Q(
      (s, dir) => {
        val src = stageDocs(s, dir)
        val schema = s.read.parquet(src).schema
        val stream = s.readStream.schema(schema).parquet(src)
          .select(col("doc_id"),
            conv(substring(md5(lower(trim(col("text"))).cast("binary")),
              1, 12), 16, 10).cast("long").as("h"))
          .groupBy("h")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        runToTable(s, stream, "graft_st4", "complete")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0)
        |SELECT ('0x' || substr(md5(lower(trim(text))), 1, 12))::BIGINT AS h,
        |       min(doc_id) AS keeper, count(*) AS n_copies
        |FROM corpus GROUP BY 1""".stripMargin)),

    // §2.9 streaming NEAR-dedup — minhash LSH at ingest time, the
    // streaming analogue of dedup_minhash_lsh (st4 catches only
    // byte-identical copies; a crawler re-fetching boilerplate-mutated
    // pages needs near-dup state). Signatures are computed map-side in
    // one compiled pass per document (bandKeysFn — no shingle explode,
    // no per-doc aggregate, so nothing corpus-sized enters streaming
    // state), and the ONLY state is the band-bucket table:
    // groupBy(bid, band) -> (earliest doc_id, member count), one state
    // row per OCCUPIED bucket — bounded by corpus band cardinality,
    // partitioned by key across the state store, and exactly the
    // keeper table batch LSH elects. Emitted buckets are collision
    // buckets (n >= 2) under the same mega-bucket cap as the batch
    // lane; min/count are arrival-order-independent, so the result is
    // deterministic under any micro-batch split. At 100 TB this runs
    // in update mode into a keyed sink; complete-into-memory is the
    // oracle-checkable test face (same contract as st4/st9).
    "st18_stream_near_dedup" -> Q(
      (s, dir) => {
        val src = stageNearDocs(s, dir)
        val schema = s.read.parquet(src).schema
        val bandsUdf = udf(bandKeysFn)
        val stream = s.readStream.schema(schema).parquet(src)
          .select(col("doc_id"), explode(bandsUdf(col("text"))).as("bk"))
          .select(col("doc_id"), col("bk.bid").as("bid"),
            col("bk.band").as("band"))
          .groupBy("bid", "band")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_members"))
        runToTable(s, stream, "graft_st18", "complete")
          .filter(col("n_members") >= 2 &&
            col("n_members") <= TextQueries.MaxBucket)
      },
      Some(s"""WITH ${TextQueries.BandsCtes}
        |SELECT CAST(bid AS BIGINT) AS bid, band,
        |       min(doc_id) AS keeper, count(*) AS n_members
        |FROM bands GROUP BY bid, band
        |HAVING count(*) BETWEEN 2 AND ${TextQueries.MaxBucket}"""
        .stripMargin)),

    // §2.9 end-to-end INGEST PIPELINE: the composition a continuous
    // training-data ingestion actually runs — stream in documents,
    // gate on a quality signal (word count — a narrow map inside the
    // micro-batch), collapse duplicates in streaming state (one
    // (lang, content-hash) group per distinct doc), and emit per-lang
    // unique/ingested counts. The dedup aggregation is the streaming
    // state; the final per-lang rollup happens on the result table
    // (streaming count-DISTINCT isn't expressible directly — the
    // two-stage shape IS the scalable formulation, state keyed by
    // content hash, rollup metadata-sized).
    "st9_stream_ingest_pipeline" -> Q(
      (s, dir) => {
        val src = stageDocs(s, dir)
        val schema = s.read.parquet(src).schema
        val stream = s.readStream.schema(schema).parquet(src)
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("nw"),
            conv(substring(md5(lower(trim(col("text"))).cast("binary")),
              1, 12), 16, 10).cast("long").as("h"))
          .filter(col("nw") >= 40) // quality gate
          .groupBy("lang", "h").agg(count(lit(1)).as("n_copies"))
        runToTable(s, stream, "graft_st9", "complete")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_unique"),
            sum("n_copies").as("n_ingested"))
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, lang, text FROM documents
        |  WHERE doc_id % 2 = 0),
        |q AS (SELECT lang,
        |        ('0x' || substr(md5(lower(trim(text))), 1, 12))::BIGINT AS h
        |      FROM corpus WHERE len(string_split(text, ' ')) >= 40),
        |d AS (SELECT lang, h, count(*) AS n FROM q GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_unique,
        |       CAST(sum(n) AS BIGINT) AS n_ingested
        |FROM d GROUP BY lang""".stripMargin)),

    // §2.9 event-time SESSION windows — Spark's native session_window
    // (dynamic-gap session state, the streaming analogue of w6's batch
    // gaps-and-islands): per-user sessions close after a 30-minute
    // event-time gap; a session row carries [start, last_event + gap)
    // and its event count. The oracle replays the same islands with a
    // lag/cumsum window — session merge happens iff the gap is
    // STRICTLY under 30 min (Spark's session end is exclusive), so the
    // oracle's new-session predicate is >= gap.
    "st6_stream_session" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        val stream = s.readStream.schema(schema).parquet(src)
          .select(timestamp_micros(Derived.tsMicros(schema)).as("ets"),
            col("user_id"))
          .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n"))
        runToTable(s, stream, "graft_st6", "complete")
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus
        |           FROM events),
        |g AS (SELECT user_id, tus, lag(tus) OVER w AS prev
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |n AS (SELECT user_id, tus,
        |        CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1
        |             ELSE 0 END AS new_sess FROM g),
        |i AS (SELECT user_id, tus, sum(new_sess) OVER (
        |        PARTITION BY user_id ORDER BY tus
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |      FROM n)
        |SELECT user_id, CAST(min(tus) AS BIGINT) AS start_us,
        |  CAST(max(tus) + 1800000000 AS BIGINT) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM i GROUP BY user_id, island""".stripMargin)),

    // §2.9 stream-stream INTERVAL join, watermarked on BOTH sides:
    // view events join click events of the same user within 30
    // event-time minutes. The two watermarks let Spark derive a state
    // watermark from the range condition and evict each side's rows
    // once no future match is possible — the property that lets a
    // two-stream correlation run forever at 100 TB instead of
    // accumulating both streams. Output is the matched pairs (append,
    // the only mode stream-stream joins support); both engines compare
    // at floored-microsecond precision so the boundary is identical.
    "st7_stream_stream_join" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        def side(tpe: String, user: String, ts: String) =
          s.readStream.schema(schema).parquet(src)
            .filter(col("event_type") === tpe)
            // unit-normalized epoch micros, as in st1/st6
            .select(col("user_id").as(user),
              timestamp_micros(Derived.tsMicros(schema)).as(ts))
            .withWatermark(ts, "2 hours")
        val views = side("view", "user_id", "v_ts")
        val clicks = side("click", "c_user", "c_ts")
        val joined = views.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("user_id"),
            unix_micros(col("v_ts")).as("v_us"),
            unix_micros(col("c_ts")).as("c_us"))
        // a streaming JOIN runs FOUR state stores per partition (two
        // per side); runToTable sizes the state-partition count to the
        // state volume (8) and skips the trailing no-data batch — an
        // INNER interval join emits every match in the data batch, the
        // no-data batch only evicted state after the one-shot run.
        runToTable(s, joined, "graft_st7", "append")
      },
      Some("""WITH v AS (SELECT user_id, epoch_ns(ts) // 1000 AS v_us
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_us
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, CAST(v.v_us AS BIGINT) AS v_us,
        |       CAST(c.c_us AS BIGINT) AS c_us
        |FROM v JOIN c ON c.user_id = v.user_id
        | AND c.c_us >= v.v_us
        | AND c.c_us <= v.v_us + 1800000000""".stripMargin)),

    // §2.9 CUSTOM streaming state — KeyValueGroupedDataset
    // .mapGroupsWithState: a per-user behavior profile (event count,
    // value-cents sum, first/last event time) maintained as arbitrary
    // typed state, the shape for stateful logic the built-in operators
    // (windows/dedup/session) can't express. State is one small tuple
    // per user — hash-partitioned by key, bounded by the user
    // population, not the stream length. Update-mode sink emits a row
    // per (user, batch); the monotone count picks each user's FINAL
    // update via one max(struct) agg, so the result is batch-split
    // independent and the batch oracle can compare exactly.
    "st8_custom_state" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        import s.implicits._
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val stream = s.readStream.schema(schema).parquet(src)
          .select(col("user_id"), Derived.tsMicros(schema).as("tus"),
            round(col("value") * 100).cast("long").as("vc"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .mapGroupsWithState[(Long, Long, Long, Long),
            (Long, Long, Long, Long, Long)](GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Long, Long)],
             state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long)]) =>
              var (n, sum, mn, mx) = state.getOption
                .getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
              rows.foreach { case (_, tus, vc) =>
                n += 1; sum += vc
                mn = math.min(mn, tus); mx = math.max(mx, tus)
              }
              state.update((n, sum, mn, mx))
              (user, n, sum, mn, mx)
          }
          .toDF("user_id", "n", "sum_vc", "first_us", "last_us")
        // state sized to the user population (1.5k keys) by
        // runToTable's scoped conf — same note as st7
        val updates = runToTable(s, stream, "graft_st8", "update")
        updates
          .groupBy("user_id")
          .agg(max(struct(col("n"), col("sum_vc"), col("first_us"),
            col("last_us"))).as("m"))
          .select(col("user_id"), col("m.n").as("n"),
            col("m.sum_vc").as("sum_vc"), col("m.first_us").as("first_us"),
            col("m.last_us").as("last_us"))
      },
      Some("""SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_vc,
        |  CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS first_us,
        |  CAST(max(epoch_ns(ts) // 1000) AS BIGINT) AS last_us
        |FROM events GROUP BY 1""".stripMargin)),

    // §2.9 stream-static enrichment join: the arriving event stream is
    // joined per micro-batch against a BROADCAST static dimension
    // (customer -> nation), then aggregated — the canonical streaming
    // enrichment shape (Spark joins the static side statelessly each
    // batch; no stream-stream state). At 100 TB the dimension stays
    // broadcast-sized while the fact stream scales out.
    "st5_stream_static_join" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        val cust = broadcast(Derived.table(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("user_id"),
            col("c_nationkey").cast("long").as("nation")))
        val stream = s.readStream.schema(schema).parquet(src)
          .select(col("user_id"),
            round(col("value") * 100).cast("long").as("vc"))
          .join(cust, Seq("user_id"))
          .groupBy("nation")
          .agg(count(lit(1)).as("n"), sum("vc").as("sum_vc"))
        runToTable(s, stream, "graft_st5", "complete")
      },
      Some("""SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_vc
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1""".stripMargin)),

    // §2.9 streaming count-min sketch: heavy hitters maintained AS the
    // stream runs (the production shape for top-k over an unbounded
    // stream — the sketch is the state, fixed 2x64 cells no matter
    // how many distinct labels arrive; a streaming exact groupBy
    // would grow state with the key universe). Sketch cells update
    // as a streaming aggregation in complete mode; the batch side
    // then probes the FINAL sketch for the label estimates and
    // reports the estimated top-10 (min over rows, >= exact always).
    // Oracle replays sketch + probe over the same events batch-side.
    "st10_stream_cms" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        def hashCol(r: org.apache.spark.sql.Column,
            label: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(r.cast("string"), lit(":"),
            label.cast("string")).cast("binary")), 1, 12), 16, 10)
            .cast("long") % 64L
        val cells = s.readStream.schema(schema).parquet(src)
          .select((col("user_id") % 1000L).as("label"))
          .select(col("label"), explode(expr("sequence(0, 1)")).as("r"))
          .withColumn("c", hashCol(col("r"), col("label")))
          .groupBy("r", "c").agg(count(lit(1)).as("cell"))
        val sketch = runToTable(s, cells, "graft_st10", "complete")
        val labels = s.read.parquet(src)
          .select((col("user_id") % 1000L).as("label")).distinct()
          .select(col("label"), explode(expr("sequence(0, 1)")).as("r"))
          .withColumn("c", hashCol(col("r"), col("label")))
        labels.join(broadcast(sketch), Seq("r", "c"))
          .groupBy("label").agg(min("cell").as("est_n"))
          .orderBy(col("est_n").desc, col("label").asc)
          .limit(10)
      },
      Some("""WITH lb AS (SELECT user_id % 1000 AS label FROM events),
        |h AS (SELECT label, r,
        |        ('0x' || substr(md5(r || ':' || label), 1, 12))::BIGINT
        |          % 64 AS c
        |      FROM lb, (SELECT unnest(range(0, 2)) AS r)),
        |cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cell
        |          FROM h GROUP BY 1, 2),
        |probe AS (SELECT DISTINCT label, r,
        |    ('0x' || substr(md5(r || ':' || label), 1, 12))::BIGINT % 64
        |      AS c
        |  FROM lb, (SELECT unnest(range(0, 2)) AS r)),
        |est AS (SELECT p.label, CAST(min(cells.cell) AS BIGINT) AS est_n
        |        FROM probe p JOIN cells USING (r, c) GROUP BY 1)
        |SELECT label, est_n FROM est
        |ORDER BY est_n DESC, label ASC LIMIT 10""".stripMargin)),

    // §2.9 continued: streaming QUANTILES with bounded state — the
    // observability workhorse (p50/p90/p99 latency over an unbounded
    // stream). State is a FIXED 64-bucket integer-cent histogram
    // (32-cent buckets, top bucket open) regardless of stream volume:
    // the streaming agg keys on bucket id, so a 100 TB/day firehose
    // carries exactly 64 state rows. The batch side turns the sketch
    // into quantiles: cumulative counts via a broadcast self-join on
    // the 64-row sketch (NOT a global window — the sketch is
    // fixed-size, the nested-loop is 64x64) and the classic
    // "smallest bucket whose cumulative share >= q" pick. Histogram
    // quantiles are exact at bucket granularity — the integer contract
    // the oracle replays.
    "st11_stream_quantiles" -> Q(
      (s, dir) => {
        val sess = s
        import sess.implicits._
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        val hist = s.readStream.schema(schema).parquet(src)
          .select(expr("greatest(0L, least(cast(round(value * 100) " +
            "as bigint) div 32, 63L))").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
        val sketch = runToTable(s, hist, "graft_st11", "complete")
        val lower = sketch.select(col("bucket").as("lb"),
          col("n").as("ln"))
        // cum feeds BOTH the quantile pick and the final join —
        // checkpoint the 64-row table so the bucket self-join runs
        // once, and fold the total from it (cum_n at the largest
        // bucket IS Σn) instead of re-aggregating the sketch
        val cum = sketch
          .join(broadcast(lower), col("lb") <= col("bucket"))
          .groupBy("bucket").agg(sum(col("ln")).as("cum_n"))
          .localCheckpoint()
        val total = cum.agg(max("cum_n").as("total_n"))
        val qs = Seq(50L, 90L, 99L).toDF("q")
        val pick = cum.crossJoin(broadcast(total))
          .crossJoin(broadcast(qs))
          .filter(col("cum_n") * 100 >= col("q") * col("total_n"))
          .groupBy("q").agg(min("bucket").as("bucket"))
        pick.join(cum, Seq("bucket"))
          .crossJoin(broadcast(total))
          .select("q", "bucket", "cum_n", "total_n")
      },
      Some("""WITH v AS (SELECT greatest(0, least(
        |          CAST(round(value * 100) AS BIGINT) // 32, 63))
        |          AS bucket FROM events),
        |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
        |      FROM v GROUP BY 1),
        |c AS (SELECT a.bucket, CAST(sum(b.n) AS BIGINT) AS cum_n
        |      FROM h a JOIN h b ON b.bucket <= a.bucket GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM h),
        |qq AS (SELECT unnest([50, 90, 99]) AS q),
        |pick AS (SELECT qq.q, min(c.bucket) AS bucket
        |         FROM qq CROSS JOIN t
        |         JOIN c ON c.cum_n * 100 >= qq.q * t.total_n
        |         GROUP BY 1)
        |SELECT CAST(pick.q AS BIGINT) AS q,
        |  CAST(pick.bucket AS BIGINT) AS bucket, c.cum_n, t.total_n
        |FROM pick JOIN c USING (bucket) CROSS JOIN t""".stripMargin)),

    // §2.9 modern state API: transformWithState (Spark 4's arbitrary-
    // stateful successor to mapGroupsWithState) — the per-user profile
    // st8 packs into one opaque state tuple decomposes here into NAMED
    // TYPED state variables: a ValueState for the running (n, sum) and
    // a MapState for per-event-type counts. That is the production
    // pattern for wide per-key profiles — a MapState update touches
    // one (key, field) row in the RocksDB state store (the provider
    // this API requires; conf scoped + restored) instead of rewriting
    // the whole blob, so profile width stops multiplying state-store
    // write amplification. Update-mode emissions fold to each user's
    // final update via max(struct) on the monotone row count.
    "st14_transform_with_state" -> Q(
      (s, dir) => {
        val src = stageEvents(s, dir)
        val schema = s.read.parquet(src).schema
        import s.implicits._
        import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode,
          OutputMode, TTLConfig, ValueState, MapState, TimerValues}
        import org.apache.spark.sql.{Encoder, Encoders}
        val stream = s.readStream.schema(schema).parquet(src)
          .select(col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("vc"))
          .as[(Long, String, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new StatefulProcessor[Long, (Long, String, Long),
                (Long, Long, Long, Long)] {
              @transient private var agg: ValueState[(Long, Long)] = _
              @transient private var types: MapState[String, Long] = _
              override def init(om: OutputMode, tm: TimeMode): Unit = {
                agg = getHandle.getValueState[(Long, Long)]("agg",
                  implicitly[Encoder[(Long, Long)]], TTLConfig.NONE)
                types = getHandle.getMapState[String, Long]("types",
                  Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
              }
              override def handleInputRows(user: Long,
                  rows: Iterator[(Long, String, Long)],
                  tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
                var (n, sum) = if (agg.exists()) agg.get() else (0L, 0L)
                rows.foreach { case (_, et, vc) =>
                  n += 1; sum += vc
                  val c = if (types.containsKey(et)) types.getValue(et)
                    else 0L
                  types.updateValue(et, c + 1)
                }
                agg.update((n, sum))
                Iterator.single((user, n, sum, types.keys().size.toLong))
              }
            }, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n", "sum_vc", "n_types")
        val prevProvider = s.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass")
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        val updates =
          try runToTable(s, stream, "graft_st14", "update")
          finally prevProvider match {
            case Some(p) => s.conf.set(
              "spark.sql.streaming.stateStore.providerClass", p)
            case None => s.conf.unset(
              "spark.sql.streaming.stateStore.providerClass")
          }
        updates
          .groupBy("user_id")
          .agg(max(struct(col("n"), col("sum_vc"), col("n_types"))).as("m"))
          .select(col("user_id"), col("m.n").as("n"),
            col("m.sum_vc").as("sum_vc"), col("m.n_types").as("n_types"))
      },
      Some("""SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_vc,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY 1""".stripMargin)),

    // §2.9 + S9: the DSv2 sink's STREAMING face — continuous chunk
    // ingestion lands in a real precomputed layer through
    // `writeStream.format("neuroglancer")` (StreamingWrite +
    // per-epoch StreamingDataWriterFactory), not foreachBatch. Chunk
    // objects are atomic puts named by their bbox, so epoch REPLAY
    // after failure rewrites byte-identical objects and the sink
    // needs no epoch log beyond the stream checkpoint — the
    // object-store semantics of the reference's upload path
    // (tx.py:35-61) carried over to exactly-once-by-idempotence.
    // 32 disjoint chunk specs arrive across 4 micro-batches
    // (maxFilesPerTrigger=1); payloads synthesize in-flight (u32
    // F-order, value = chunk base + intra-chunk index); the written
    // layer reads back voxel-exact through the batch cutout path and
    // folds to per-chunk (count, sum, mismatch-vs-closed-form) so the
    // oracle states every voxel arithmetically.
    // Scale shape: a 100 TB ingest is this plan with more epochs —
    // the stream's only state is the source's file log; writes are
    // narrow per-partition puts, no shuffle anywhere.
    "st15_stream_sink_dsv2" -> Q(
      (s, dir) => {
        val root = Paths.get(Root, "st15")
        // fresh run per invocation: the sink is idempotent, but a
        // leftover checkpoint would make the restart a no-op replay
        Fixtures.rmTree(root.toString)
        val srcDir = root.resolve("specs")
        val ckpt = ckptDir(s, "graft_st15")
        Fixtures.rmTree(ckpt.toString)
        val target = root.resolve("layer").toString
        Files.createDirectories(srcDir)
        chunkSpecs(s)
          .repartition(4).write.mode("overwrite").parquet(srcDir.toString)
        PrecomputedIO.writeInfo(target, ChunkLayerMeta)
        val schema = s.read.parquet(srcDir.toString).schema
        scopedStream(s) {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
            .select(col("gx"), col("gy"), col("gz"),
              chunkPayloadUdf(col("base")).as("payload"))
            .writeStream.format("neuroglancer")
            .option("path", target)
            .option("checkpointLocation", ckpt.toString)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Fixtures.rmTree(ckpt.toString)
        val cut = PrecomputedIO.cutoutVoxels(s, target,
          Bbox(Vec3(0, 0, 0), Vec3(64, 64, 32)))
        val gxc = shiftrightunsigned(col("x"), 4)
        val gyc = shiftrightunsigned(col("y"), 4)
        val gzc = shiftrightunsigned(col("z"), 4)
        val base = (gxc * 64 + gyc * 8 + gzc) * lit(100000L)
        val expected = base + col("x").bitwiseAND(lit(15L)) +
          col("y").bitwiseAND(lit(15L)) * 16 +
          col("z").bitwiseAND(lit(15L)) * 256
        cut.select(col("label"), gxc.as("gx"), gyc.as("gy"), gzc.as("gz"),
            (col("label") =!= expected).cast("long").as("bad"))
          .groupBy("gx", "gy", "gz")
          .agg(count(lit(1)).as("n"), sum(col("label")).as("sum_label"),
            sum(col("bad")).as("mism"))
      },
      Some("""WITH g AS (
        |  SELECT a.gx AS gx, b.gy AS gy, c.gz AS gz,
        |         (a.gx*64 + b.gy*8 + c.gz) * 100000 AS base
        |  FROM (SELECT unnest(range(4)) AS gx) a,
        |       (SELECT unnest(range(4)) AS gy) b,
        |       (SELECT unnest(range(2)) AS gz) c)
        |SELECT gx, gy, gz, CAST(4096 AS BIGINT) AS n,
        |  CAST(4096*base + (4095*4096)//2 AS BIGINT) AS sum_label,
        |  CAST(0 AS BIGINT) AS mism
        |FROM g""".stripMargin)),

    // §2.9 + S4: the DSv2 source's STREAMING face — chunk-arrival
    // processing straight off a precomputed layer through
    // `readStream.format("neuroglancer")` (NgMicroBatchStream:
    // journal-backed offsets, SupportsAdmissionControl pacing via
    // max_chunks_per_trigger, SupportsTriggerAvailableNow snapshot).
    // A layer is written batch-side (32 chunks, st15's closed-form
    // payloads), then a stream drains it 8 chunks per micro-batch,
    // decoding per-chunk label sums in-flight; the gx<2 predicate
    // restates the discovery window (correctness never depends on
    // where it's applied — scan pruning or post-filter). At scale
    // this is a downsample/mesh/stats pipeline CHASING an ingest —
    // the stream journals only new arrivals per batch instead of
    // re-listing + re-scanning the whole layer.
    "st16_stream_source_dsv2" -> Q(
      (s, dir) => {
        val root = Paths.get(Root, "st16")
        Fixtures.rmTree(root.toString)
        val target = root.resolve("layer").toString
        val ckpt = ckptDir(s, "graft_st16")
        Fixtures.rmTree(ckpt.toString)
        PrecomputedIO.writeInfo(target, ChunkLayerMeta)
        // batch writes resolve against the full table schema; the bbox
        // columns are derived (the writer ignores them, bounds come
        // from the grid) — streaming writes (st15) need only the four
        chunkSpecs(s)
          .select(col("gx"), col("gy"), col("gz"),
            (col("gx") * 16).as("x0"), (col("gy") * 16).as("y0"),
            (col("gz") * 16).as("z0"),
            (col("gx") * 16 + 16).as("x1"), (col("gy") * 16 + 16).as("y1"),
            (col("gz") * 16 + 16).as("z1"),
            chunkPayloadUdf(col("base")).as("payload"))
          .write.format("neuroglancer").mode("append").save(target)
        val sumUdf = udf((p: Array[Byte]) => {
          val a = graft.core.Codec.decodeRawToLongs(p, 4)
          (a.length.toLong, a.sum)
        })
        scopedStream(s) {
          val q = s.readStream.format("neuroglancer")
            .option("path", target)
            .option("max_chunks_per_trigger", "8")
            // window option prunes DISCOVERY (journals 16 of the 32
            // arrivals); the filter restates it relationally — Spark
            // runs no V2 predicate pushdown for micro-batch scans
            .option("gx_hi", "1")
            .load()
            .filter(col("gx") < 2)
            .select(col("gx"), col("gy"), col("gz"),
              sumUdf(col("payload")).as("m"))
            .select(col("gx"), col("gy"), col("gz"),
              col("m._1").as("n"), col("m._2").as("sum_label"))
            .writeStream.format("memory").queryName("graft_st16")
            .outputMode("append")
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Fixtures.rmTree(ckpt.toString)
        s.table("graft_st16")
      },
      Some("""WITH g AS (
        |  SELECT a.gx AS gx, b.gy AS gy, c.gz AS gz,
        |         (a.gx*64 + b.gy*8 + c.gz) * 100000 AS base
        |  FROM (SELECT unnest(range(2)) AS gx) a,
        |       (SELECT unnest(range(4)) AS gy) b,
        |       (SELECT unnest(range(2)) AS gz) c)
        |SELECT gx, gy, gz, CAST(4096 AS BIGINT) AS n,
        |  CAST(4096*base + (4095*4096)//2 AS BIGINT) AS sum_label
        |FROM g""".stripMargin)),

    // §2.9 end-to-end streaming layer ETL: ONE streaming query reads
    // chunk arrivals off a source layer (st16's MicroBatchStream),
    // transforms each chunk IN FLIGHT (per-voxel relabel inside the
    // micro-batch task — no decode/shuffle boundary between the
    // faces), and lands them in a second real layer through the
    // streaming sink (st15's StreamingWrite). This is the pipeline a
    // downsample/remap cascade runs while an upstream job is still
    // writing the source: per batch it lists + journals only new
    // arrivals, transforms them narrowly, and puts idempotent chunk
    // objects — nothing global, restart-safe on both faces at once.
    // Read-back folds the TARGET layer to per-chunk
    // (count, sum, mismatch-vs-closed-form(v*2+7)).
    "st17_stream_layer_etl" -> Q(
      (s, dir) => {
        val root = Paths.get(Root, "st17")
        Fixtures.rmTree(root.toString)
        val src = root.resolve("src").toString
        val dst = root.resolve("dst").toString
        val ckpt = ckptDir(s, "graft_st17")
        Fixtures.rmTree(ckpt.toString)
        PrecomputedIO.writeInfo(src, ChunkLayerMeta)
        PrecomputedIO.writeInfo(dst, ChunkLayerMeta)
        chunkSpecs(s)
          .select(col("gx"), col("gy"), col("gz"),
            (col("gx") * 16).as("x0"), (col("gy") * 16).as("y0"),
            (col("gz") * 16).as("z0"),
            (col("gx") * 16 + 16).as("x1"), (col("gy") * 16 + 16).as("y1"),
            (col("gz") * 16 + 16).as("z1"),
            chunkPayloadUdf(col("base")).as("payload"))
          .write.format("neuroglancer").mode("append").save(src)
        val relabelUdf = udf((p: Array[Byte]) => {
          val bb = java.nio.ByteBuffer.wrap(p.clone())
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < p.length) {
            bb.putInt(i, bb.getInt(i) * 2 + 7)
            i += 4
          }
          bb.array()
        })
        scopedStream(s) {
          val q = s.readStream.format("neuroglancer")
            .option("path", src)
            .option("max_chunks_per_trigger", "8")
            .load()
            .select(col("gx"), col("gy"), col("gz"),
              relabelUdf(col("payload")).as("payload"))
            .writeStream.format("neuroglancer")
            .option("path", dst)
            .option("checkpointLocation", ckpt.toString)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Fixtures.rmTree(ckpt.toString)
        val cut = PrecomputedIO.cutoutVoxels(s, dst,
          Bbox(Vec3(0, 0, 0), Vec3(64, 64, 32)))
        val gxc = shiftrightunsigned(col("x"), 4)
        val gyc = shiftrightunsigned(col("y"), 4)
        val gzc = shiftrightunsigned(col("z"), 4)
        val base = (gxc * 64 + gyc * 8 + gzc) * lit(100000L)
        val expected = (base + col("x").bitwiseAND(lit(15L)) +
          col("y").bitwiseAND(lit(15L)) * 16 +
          col("z").bitwiseAND(lit(15L)) * 256) * 2 + 7
        cut.select(col("label"), gxc.as("gx"), gyc.as("gy"), gzc.as("gz"),
            (col("label") =!= expected).cast("long").as("bad"))
          .groupBy("gx", "gy", "gz")
          .agg(count(lit(1)).as("n"), sum(col("label")).as("sum_label"),
            sum(col("bad")).as("mism"))
      },
      Some("""WITH g AS (
        |  SELECT a.gx AS gx, b.gy AS gy, c.gz AS gz,
        |         (a.gx*64 + b.gy*8 + c.gz) * 100000 AS base
        |  FROM (SELECT unnest(range(4)) AS gx) a,
        |       (SELECT unnest(range(4)) AS gy) b,
        |       (SELECT unnest(range(2)) AS gz) c)
        |SELECT gx, gy, gz, CAST(4096 AS BIGINT) AS n,
        |  CAST(2 * (4096*base + (4095*4096)//2) + 7*4096 AS BIGINT)
        |    AS sum_label,
        |  CAST(0 AS BIGINT) AS mism
        |FROM g""".stripMargin)),
  )
}

/** Exploded row shape of [[StreamQueries.bandKeysFn]] (top-level so
  * UDF return-type reflection resolves the encoder).
  */
final case class BandKey(bid: Long, band: String)
