package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core._

/** DataSource V2 `neuroglancer` format (S1 plugin-dispatch open,
  * cloudvolume.py:78-302 + registry `:25-35`): one chunk per row over
  * a chunked grid directory — a precomputed layer, or a zarr2/OME-zarr2,
  * zarr3 or N5 array. The directory's own metadata picks its
  * [[ChunkLayout]] ([[ChunkLayout.open]]; a precomputed `info` is read
  * first), and every format reads through this one scan. A row's
  * payload is the chunk after its object-level codecs, in the encoding
  * the layout names: the scale's encoding for precomputed, little-endian
  * F-order raw at the dtype width for the others.
  *
  * Spark-first design choices:
  *  - Chunk-key **filter pushdown** (SupportsPushDownFilters):
  *    comparisons on gx/gy/gz — and the bbox-overlap forms x1 > lo /
  *    x0 < hi — narrow the grid enumerated at *planning* time, the
  *    DSv2 analog of the reference never listing the bucket for reads
  *    (image/common.py:137-155). A cutout over 0.1% of a 100 TB layer
  *    plans 0.1% of the chunks; no task ever sees the rest. The scan
  *    applies each such filter exactly ([[NgScanBuilder]]), so Spark
  *    adds no post-scan `Filter` for it.
  *  - **Column pruning** (SupportsPushDownRequiredColumns): when
  *    `payload` is not required (exists probes, grid listings) no
  *    chunk object is opened at all — pure metadata execution.
  *  - Grid coordinates are evenly range-split across input partitions
  *    so a 1000-executor scan load-balances without a shuffle.
  *  - A **sharded** grid (a precomputed sharded scale, a zarr3
  *    `sharding_indexed` array) is read by the same scan, with each
  *    shard's pruned chunks planned into one task (rx.py:39-155).
  *
  * Options: `mip` (default 0; the OME-zarr2 level or N5 dataset
  * `s<mip>` elsewhere), `fill_missing` (default false — missing
  * precomputed chunks and N5 blocks raise, per EmptyVolumeException
  * rx.py:864-870; true yields a null payload the consumer
  * background-fills, S15). A chunk absent from its precomputed shard
  * yields no row, whatever `fill_missing` says; an absent zarr chunk
  * is a null payload read as its fill_value. The stream and the sink
  * read and write precomputed unsharded layers only.
  */
class NeuroglancerSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "neuroglancer"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Neuroglancer.Schema
  override def supportsExternalMetadata(): Boolean = false
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new NgTable(properties.asScala.toMap)
}

object Neuroglancer {
  /** PlanAudit-style rail for queries that claim SQL-level partition
    * pruning (r17 verdict item 1): the optimized plan must hold an
    * NgScan whose pushed-filter list is non-empty — i.e. Catalyst's
    * V2ScanRelationPushDown actually translated the WHERE clause into
    * grid bounds (NgScanBuilder.pushFilters), it didn't silently fall
    * back to a full-grid scan with a post-filter. Returns the frame so
    * the check composes inline.
    */
  def requirePushedFilters(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    val ng = scans.collect { case s: NgScan => s }
    require(ng.nonEmpty,
      "pushdown rail: no neuroglancer scan in the optimized plan")
    require(ng.forall(_.pushed.nonEmpty),
      "pushdown rail: a neuroglancer scan has an EMPTY pushed-filter " +
        s"list: ${ng.map(_.description()).mkString("; ")}")
    df
  }

  val Schema: StructType = StructType(Seq(
    StructField("gx", LongType, nullable = false),
    StructField("gy", LongType, nullable = false),
    StructField("gz", LongType, nullable = false),
    StructField("x0", LongType, nullable = false),
    StructField("y0", LongType, nullable = false),
    StructField("z0", LongType, nullable = false),
    StructField("x1", LongType, nullable = false),
    StructField("y1", LongType, nullable = false),
    StructField("z1", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))
}

/** The table over the grid at `path`; `layout` fixes its read
  * descriptor (the grid cutouts), else the scan opens it from the
  * directory per the `mip`/`fill_missing` options. */
final class NgTable(props: Map[String, String],
    layout: Option[ChunkLayout] = None) extends Table
    with SupportsRead with SupportsWrite {
  private val path: String = props.getOrElse("path",
    throw new IllegalArgumentException("neuroglancer source requires a path"))
    .stripPrefix("file://")

  override def name(): String = s"neuroglancer:$path"
  override def schema(): StructType = Neuroglancer.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NgScanBuilder(layout.getOrElse(ChunkLayout.open(path,
        options.getInt("mip", props.get("mip").map(_.toInt).getOrElse(0)),
        options.getBoolean("fill_missing",
          props.get("fill_missing").exists(_.toBoolean)))),
      options.getInt("max_chunks_per_trigger",
        props.get("max_chunks_per_trigger").map(_.toInt).getOrElse(0)),
      // explicit grid-window options (gx_lo..gz_hi, inclusive): the
      // stream-side stand-in for filter pushdown — Spark does not run
      // V2 predicate pushdown for micro-batch scans, so a windowed
      // stream states its window here and discovery prunes to it;
      // batch scans may use them too (they compose with pushdown)
      winLo = Array("gx_lo", "gy_lo", "gz_lo").map(k =>
        options.getLong(k, Long.MinValue)),
      winHi = Array("gx_hi", "gy_hi", "gz_hi").map(k =>
        options.getLong(k, Long.MaxValue)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val mip = info.options.getInt("mip", props.get("mip").map(_.toInt).getOrElse(0))
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "info")),
      s"$path has no precomputed info: the neuroglancer sink writes " +
        "precomputed chunk objects only")
    val meta = VolumeMeta.readInfo(path)
    // P10 write-lock guard, enforced at plan time (metadata.py:840-885)
    if (meta.lockedMips.contains(mip))
      throw new IllegalStateException(
        s"mip $mip is write-locked (scale ${meta.scale(mip).key})")
    val scale = meta.scale(mip)
    require(!scale.isSharded, s"scale ${scale.key} is sharded, so per-chunk " +
      "objects would never be read back — use ShardedIO.writeSharded")
    val method = if (Option(info.options.get("compress")).map(_.toBoolean)
      .getOrElse(Codec.shouldCompress(scale.encoding))) "gzip" else "none"
    val sch = info.schema()
    // surface shape AND type errors at plan time, like the lock
    // check — r.getLong/r.getBinary in executor tasks would otherwise
    // fail with an opaque ClassCastException mid-write
    val need = Seq("gx" -> org.apache.spark.sql.types.LongType,
      "gy" -> org.apache.spark.sql.types.LongType,
      "gz" -> org.apache.spark.sql.types.LongType,
      "payload" -> org.apache.spark.sql.types.BinaryType)
    require(need.forall { case (n, _) => sch.fieldNames.contains(n) },
      s"neuroglancer sink needs columns ${need.map(_._1)}, " +
        s"got ${sch.fieldNames.mkString(",")}")
    need.foreach { case (n, dt) =>
      val actual = sch(n).dataType
      require(actual == dt,
        s"neuroglancer sink column $n must be $dt, got $actual")
    }
    val idx = need.map { case (n, _) => sch.fieldIndex(n) }.toArray
    new NgWriteBuilder(ChunkLayout.precomputed(path, meta, mip, fillMissing = false),
      method, idx)
  }
}

/** DSv2 batch sink (S9 aligned write as a native Spark writer —
  * `chunks.write.format("neuroglancer").mode("append").save(dir)`).
  * Rows carry (gx, gy, gz, payload); the bbox columns of the read
  * schema are accepted and ignored (chunk bounds derive from the
  * grid). Each chunk becomes one atomic object put named by its bbox
  * (tx.py:35-61 upload), so task retries and speculative duplicates
  * are idempotent and commit/abort have nothing to finalize — the
  * same semantics as the reference's per-chunk uploads.
  */
final class NgWriteBuilder(layout: ChunkLayout, method: String, idx: Array[Int])
    extends WriteBuilder {
  override def build(): Write = new Write {
    private val factory = new NgWriterFactory(layout, method, idx)
    override def toBatch: BatchWrite = new NgBatchWrite(factory)
    override def toStreaming: StreamingWrite = new NgStreamingWrite(factory)
  }
}

final case class NgCommitMessage(chunks: Long) extends WriterCommitMessage

final class NgBatchWrite(factory: NgWriterFactory) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Structured Streaming sink face of the same layer (§2.9 continuous
  * chunk ingestion — `updates.writeStream.format("neuroglancer")`).
  * Chunk objects are atomic per-grid-key puts named by their bbox, so
  * the sink is naturally idempotent under micro-batch REPLAY: a failed
  * epoch re-executed after recovery rewrites byte-identical objects
  * (the same argument tx.py:35-61 makes for task retries in the batch
  * path), which is why per-epoch commit/abort have nothing to
  * finalize and no epoch log is needed beyond the stream's own
  * checkpoint. Last-write-wins across epochs matches the reference's
  * overwrite semantics for repeated uploads of one chunk.
  */
final class NgStreamingWrite(factory: NgWriterFactory) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = factory
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

/** One factory for both write faces: the writer is epoch-agnostic
  * (puts are idempotent and named by grid key), so the streaming
  * 3-arg overload delegates to the batch one.
  */
final class NgWriterFactory(layout: ChunkLayout, method: String, idx: Array[Int])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new NgDataWriter(layout, method, idx)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Writes each row as its chunk object ([[ChunkLayout.objectOf]] and the
  * one [[ChunkLayout.put]], the sink's unsharded path). */
final class NgDataWriter(layout: ChunkLayout, method: String, idx: Array[Int])
    extends DataWriter[InternalRow] {
  private var n = 0L

  override def write(r: InternalRow): Unit = {
    val g = Vec3(r.getLong(idx(0)), r.getLong(idx(1)), r.getLong(idx(2)))
    layout.objectOf(Seq(ChunkLayout.Chunk(Nil, g, r.getBinary(idx(3)))), method)
      .foreach { case (p, b) => ChunkLayout.put(p, b) }
    n += 1
  }
  override def commit(): WriterCommitMessage = NgCommitMessage(n)
  override def abort(): Unit = () // objects are idempotent puts
  override def close(): Unit = ()
}

/** Batch (and stream) scan planning of one grid. Each chunk-key
  * comparison it accepts is applied EXACTLY and is not handed back to
  * Spark, so no `Filter` carrying the request's literals sits above the
  * scan: whole-stage codegen is the same for every bbox and compiles
  * once per JVM, not once per cutout. Accepted: `=`, `<`, `<=`, `>`,
  * `>=` on gx/gy/gz, and the bbox-overlap forms `x1 > lo`, `x1 >= lo`,
  * `x0 < hi`, `x0 <= hi` (each axis alike), all with an integral
  * literal. The scan plans a grid point only if every accepted filter
  * holds on its real gx..gz/x0..z1 ([[ChunkLayout.chunkBbox]]: voxel
  * offset added, last chunk clamped to the bounds unless the format
  * stores full-size edge chunks). Every other filter (a
  * fractional literal, `x0 > v`, an `Or`, a payload predicate) is
  * returned to Spark and evaluated after the scan.
  */
final class NgScanBuilder(layout: ChunkLayout, maxChunksPerTrigger: Int = 0,
    winLo: Array[Long] = Array.fill(3)(Long.MinValue),
    winHi: Array[Long] = Array.fill(3)(Long.MaxValue))
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = Neuroglancer.Schema
  private var accepted: Array[Filter] = Array.empty

  private def axisOf(attr: String): Int = attr match {
    case "gx" | "x0" | "x1" => 0
    case "gy" | "y0" | "y1" => 1
    case "gz" | "z0" | "z1" => 2
    case _ => -1
  }

  /** The value column `attr` takes on the chunks at grid index `g` of
    * its axis. */
  private def valueAt(attr: String, g: Long): Long = {
    val b = layout.chunkBbox(Vec3(g, g, g))
    attr.last match {
      case '0' => b.minpt.toArray(axisOf(attr))
      case '1' => b.maxpt.toArray(axisOf(attr))
      case _ => g
    }
  }

  private object Integral {
    def unapply(v: Any): Option[Long] = v match {
      case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
          _: java.lang.Long) => Some(n.asInstanceOf[Number].longValue)
      case _ => None
    }
  }

  /** One monotone half of an accepted comparison on column `attr`: gx,
    * x0 and x1 never decrease with the grid index, so a `rising` test
    * holds from some index on and a falling one up to some index. */
  private final case class KeyTest(attr: String, rising: Boolean,
      test: Long => Boolean) {
    val axis: Int = axisOf(attr)
    /** First grid index in [0, n) whose chunks give `test == holds`, n
      * if none does. */
    def first(n: Long, holds: Boolean): Long = {
      var (a, b) = (0L, n)
      while (a < b) {
        val m = a + (b - a) / 2
        if (test(valueAt(attr, m)) == holds) b = m else a = m + 1
      }
      a
    }
  }

  /** The tests of a comparison the scan evaluates exactly; empty = not
    * one of its forms. */
  private def keyTests(f: Filter): Seq[KeyTest] = {
    def grid(a: String) = a.startsWith("g") && axisOf(a) >= 0
    def hiEnd(a: String) = grid(a) || (a.endsWith("1") && axisOf(a) >= 0)
    def loEnd(a: String) = grid(a) || (a.endsWith("0") && axisOf(a) >= 0)
    f match {
      case EqualTo(a, Integral(v)) if grid(a) =>
        Seq(KeyTest(a, rising = true, _ >= v), KeyTest(a, rising = false, _ <= v))
      case GreaterThan(a, Integral(v)) if hiEnd(a) => Seq(KeyTest(a, rising = true, _ > v))
      case GreaterThanOrEqual(a, Integral(v)) if hiEnd(a) => Seq(KeyTest(a, rising = true, _ >= v))
      case LessThan(a, Integral(v)) if loEnd(a) => Seq(KeyTest(a, rising = false, _ < v))
      case LessThanOrEqual(a, Integral(v)) if loEnd(a) => Seq(KeyTest(a, rising = false, _ <= v))
      case _ => Nil
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (keyed, rest) = filters.partition(keyTests(_).nonEmpty)
    accepted = keyed
    rest
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The exact grid box: per axis, the window options intersected with
    * the first index of each rising test and the last of each falling
    * one (binary search over the chunks' real values). */
  override def build(): Scan = {
    val n = layout.gridSize.toArray
    val tests = accepted.toSeq.flatMap(keyTests)
    def on(ax: Int, rising: Boolean) =
      tests.filter(t => t.axis == ax && t.rising == rising)
    val lo = Array.tabulate(3)(ax => (math.max(0L, winLo(ax)) +:
      on(ax, rising = true).map(_.first(n(ax), holds = true))).max)
    val hi = Array.tabulate(3)(ax => (math.min(n(ax) - 1, winHi(ax)) +:
      on(ax, rising = false).map(_.first(n(ax), holds = false) - 1)).min)
    new NgScan(layout, Vec3(lo(0), lo(1), lo(2)), Vec3(hi(0), hi(1), hi(2)),
      required, maxChunksPerTrigger, pushed = accepted)
  }
}

/** Grid points of one task; on a sharded grid they are whole shard
  * groups (see [[NgScan.partitionsOf]]). */
final case class NgInputPartition(layout: ChunkLayout,
    chunks: Array[Array[Long]]) extends InputPartition

/** The chunks of the grid box `lo..hi`, which already holds every
  * accepted filter exactly ([[NgScanBuilder]]): `pushed` lists what the
  * scan applied, and Spark evaluates none of it again. */
final class NgScan(layout: ChunkLayout, lo: Vec3, hi: Vec3,
    required: StructType, maxChunksPerTrigger: Int = 0,
    val pushed: Array[Filter] = Array.empty)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(layout.keys == ChunkLayout.Keys.BboxName, s"${layout.dir} is " +
      s"${layout.label}, not a precomputed layer; the stream discovers " +
      "precomputed chunk objects")
    require(layout.shards == ChunkLayout.Shards.Unsharded, s"${layout.dir} " +
      s"${layout.label} is sharded; the stream discovers per-chunk objects, " +
      "which a sharded scale never has")
    new NgMicroBatchStream(layout, lo, hi, required, checkpointLocation,
      maxChunksPerTrigger)
  }
  // PushedFilters is named to match the V1 EXPLAIN convention so a
  // plan read (EXPLAIN.md) can confirm pruning fired from pure SQL
  override def description(): String =
    s"neuroglancer ${layout.dir} ${layout.label} grid=[$lo..$hi] " +
      s"cols=${required.fieldNames.mkString(",")} " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    NgScan.partitionsOf(layout, for {
      gz <- lo.z to hi.z
      gy <- lo.y to hi.y
      gx <- lo.x to hi.x
    } yield Vec3(gx, gy, gz))

  override def createReaderFactory(): PartitionReaderFactory =
    new NgReaderFactory(required)
}

object NgScan {
  /** The one grid-to-partition split, shared by the batch scan and the
    * stream, sized by [[ScanSizing.partitions]]. On a sharded grid the
    * points are grouped by shard file and whole groups are packed into
    * the partitions, so each task reads a shard's index once; the sizing
    * counts one open per group (a chunk, or a shard and its chunks).
    */
  private[sources] def partitionsOf(layout: ChunkLayout,
      pts: Seq[Vec3]): Array[InputPartition] = {
    if (pts.isEmpty) return Array.empty
    val cs = layout.chunkSize
    val groups =
      if (layout.shards == ChunkLayout.Shards.Unsharded) pts.map(Seq(_))
      else pts.groupBy(layout.shardOf).toSeq.sortBy(_._1).map(_._2)
    val per = Geom.ceilDiv(groups.size, ScanSizing.partitions(SparkSession.active,
      groups.size, cs.x * cs.y * cs.z * layout.dtypeBytes * pts.size / groups.size)).toInt
    groups.grouped(per).map(p => NgInputPartition(layout,
      p.flatten.map(_.toArray).toArray): InputPartition).toArray
  }
}

/** Offset = count of chunk objects journaled so far; the journal
  * (`ng_chunk_log` under the stream checkpoint) IS the ordered file
  * log, so `planInputPartitions(start, end)` is reproducible across
  * driver restarts — the same contract Spark's own file stream source
  * keeps, at the same cost (the log grows with chunk count; a
  * production variant compacts it like FileStreamSourceLog does).
  */
final case class NgStreamOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = n.toString
}

/** Micro-batch STREAMING READ of a precomputed layer (§2.9 chunk
  * arrival — `spark.readStream.format("neuroglancer")`): downstream
  * pipelines (downsample cascades, meshing, label stats) chase a
  * layer while another job is still writing it, instead of re-listing
  * and re-scanning the finished layer. Each batch discovers newly
  * arrived chunk objects by listing the scale directory, journals
  * them in discovery order, and serves them through the SAME
  * executor-side reader as the batch scan (one file open per chunk,
  * transparent .gz/.br).
  *
  * The full modern source protocol is implemented, not just the
  * minimal face:
  *  - SupportsAdmissionControl: `max_chunks_per_trigger` bounds each
  *    batch (ReadLimit.maxFiles), so a backlogged layer catches up in
  *    paced batches instead of one giant one;
  *  - SupportsTriggerAvailableNow: the target is snapshotted at
  *    prepare time, so AvailableNow drains exactly the chunks present
  *    at start and stops — late arrivals wait for the next run;
  *  - discovery prunes to the scan's grid window, so a stream over
  *    0.1% of a 100 TB layer journals 0.1% of the arrivals. Spark
  *    does not run V2 predicate pushdown for micro-batch scans, so
  *    streams state the window via the gx_lo..gz_hi options (batch
  *    scans get the same window from real filter pushdown).
  */
final class NgMicroBatchStream(layout: ChunkLayout, lo: Vec3, hi: Vec3,
    required: StructType, checkpointLocation: String, maxChunksPerTrigger: Int)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}
  import java.nio.file.{Files, Paths, StandardOpenOption}

  private val journal = {
    // Spark hands the per-source checkpoint dir as a URI string
    // ("file:/..."); fall back to the raw string for plain paths.
    // The journal is a LOCAL file by design (this source's scope is
    // local-filesystem layers) — a non-file checkpoint scheme must
    // fail loudly here, or offsets would silently land on the local
    // disk and restart recovery would silently break (r15 advisor).
    val parsed = scala.util.Try(new java.net.URI(checkpointLocation)).toOption
    parsed.flatMap(u => Option(u.getScheme)).foreach { scheme =>
      if (scheme != "file") throw new IllegalArgumentException(
        s"neuroglancer stream checkpoint must be a local file: path " +
          s"(scheme '$scheme' in $checkpointLocation is not supported)")
    }
    val local = parsed.flatMap(u => Option(u.getPath))
      .filter(_.nonEmpty).getOrElse(checkpointLocation)
    val d = Paths.get(local)
    Files.createDirectories(d)
    d.resolve("ng_chunk_log")
  }
  // discovery-ordered chunk filenames; list index IS the offset space.
  // Identity is the suffix-stripped BASE name: chunk objects are
  // immutable-once-written (the precomputed write path replaces whole
  // objects, never appends), so the first listed encoding of a grid
  // cell wins — a later rewrite of the same chunk under a different
  // compression suffix ('name' vs 'name.gz') is the same cell and must
  // not be emitted twice, and a same-name overwrite is not re-emitted
  // (r15 advisor: both behaviors are now explicit).
  private def baseName(n: String): String =
    n.stripSuffix(".gz").stripSuffix(".br")
  private val entries = new scala.collection.mutable.ArrayBuffer[String]
  private val seen = new scala.collection.mutable.HashSet[String]
  // A duplicate-base journal line is TOMBSTONED, not dropped: a journal
  // written before the dedup rule can hold both 'name' and 'name.gz',
  // and Spark's committed offsets index journal LINES — shrinking
  // `entries` on recovery would silently shift every later offset
  // (skip/re-emit on restart). The tombstone keeps the offset space
  // 1:1 with journal lines; gridOf() cannot parse it, so the cell is
  // still emitted exactly once (r16 advisor).
  private val DupTombstone = "#dup "
  if (Files.exists(journal)) {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(journal).asScala.foreach { l =>
      if (l.nonEmpty) {
        if (seen.add(baseName(l))) entries += l
        else entries += DupTombstone + l
      }
    }
  }
  private var availableNowTarget: Option[Long] = None

  /** Parse a listed object name to its grid key; None = not a chunk
    * of this scale or outside the pushed-down grid window.
    */
  private def gridOf(name: String): Option[Vec3] = {
    scala.util.Try {
      val b = Bbox.fromFilename(baseName(name))
      (b.minpt - layout.bounds.minpt).floorDiv(layout.chunkSize)
    }.toOption.filter(g => g.x >= lo.x && g.x <= hi.x &&
      g.y >= lo.y && g.y <= hi.y && g.z >= lo.z && g.z <= hi.z)
  }

  /** Journal up to `limit` (0 = all) not-yet-seen chunk objects,
    * sorted by name for a deterministic append order.
    */
  private def discover(limit: Int): Unit = synchronized {
    val dir = Paths.get(layout.root)
    if (!Files.exists(dir)) return
    import scala.jdk.CollectionConverters._
    val listing = Files.list(dir)
    val fresh =
      try listing.iterator.asScala.map(_.getFileName.toString)
        .filter(n => !seen.contains(baseName(n)) && gridOf(n).isDefined)
        .toSeq.sorted
      finally listing.close()
    // one listing can race a compression-suffix rewrite and surface the
    // same cell twice ('name' and 'name.gz' both present) — distinctBy
    // base keeps the lexicographically first, matching the journal rule
    val deduped = fresh.distinctBy(baseName)
    val take = if (limit <= 0) deduped else deduped.take(limit)
    if (take.nonEmpty) {
      Files.write(journal, take.mkString("", "\n", "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      take.foreach { n => seen.add(baseName(n)); entries += n }
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxChunksPerTrigger > 0) ReadLimit.maxFiles(maxChunksPerTrigger)
    else ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = {
    discover(0) // journal everything present now; that IS the target
    availableNowTarget = Some(entries.size.toLong)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[NgStreamOffset].n
    val cap = limit match {
      case f: ReadMaxFiles => f.maxFiles()
      case _ => 0
    }
    // after prepareForTriggerAvailableNow the journal is the fixed
    // target; otherwise top it up to one batch's worth of new arrivals
    if (availableNowTarget.isEmpty) {
      val backlog = entries.size - cur
      if (cap <= 0 || backlog < cap)
        discover(if (cap <= 0) 0 else (cap - backlog).toInt)
    }
    val target = availableNowTarget.getOrElse(entries.size.toLong)
    NgStreamOffset(if (cap > 0) math.min(target, cur + cap) else target)
  }

  override def reportLatestOffset(): Offset = NgStreamOffset(entries.size)
  override def initialOffset(): Offset = NgStreamOffset(0L)
  override def deserializeOffset(json: String): Offset =
    NgStreamOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[NgStreamOffset].n.toInt
    val b = end.asInstanceOf[NgStreamOffset].n.toInt
    NgScan.partitionsOf(layout, entries.slice(a, b).flatMap(gridOf).toSeq)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NgReaderFactory(required)
}

final class NgReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new NgPartitionReader(p.asInstanceOf[NgInputPartition], required)
}

/** Executor-side reader: the partition's chunks through its layout
  * ([[ChunkLayout.read]]: one object get per chunk, or one index read
  * per shard and ranged reads inside it, then the object-to-payload
  * steps), one row each. Skips IO entirely when `payload` was pruned
  * away, except on a precomputed sharded grid, whose index alone knows
  * which chunks exist.
  */
final class NgPartitionReader(part: NgInputPartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private val needPayload = required.fieldNames.contains("payload")
  private val fieldIdx: Array[Int] = required.fieldNames.map {
    case "gx" => 0; case "gy" => 1; case "gz" => 2
    case "x0" => 3; case "y0" => 4; case "z0" => 5
    case "x1" => 6; case "y1" => 7; case "z1" => 8
    case "payload" => 9
  }
  // (grid point, payload) of every chunk that yields a row
  private val chunks: Iterator[(Vec3, Array[Byte])] = part.layout.read(
    part.chunks.toSeq.map(c => Vec3(c(0), c(1), c(2))), needPayload)

  private var row: InternalRow = _

  override def next(): Boolean = {
    if (!chunks.hasNext) return false
    val (g, payload) = chunks.next()
    val cb = part.layout.chunkBbox(g)
    val all: Array[Any] = Array(g.x, g.y, g.z,
      cb.minpt.x, cb.minpt.y, cb.minpt.z, cb.maxpt.x, cb.maxpt.y, cb.maxpt.z,
      payload)
    row = new GenericInternalRow(fieldIdx.map(all(_)))
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
