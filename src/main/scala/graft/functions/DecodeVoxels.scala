package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.{ColumnShim, DecodeVoxelsExec}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import graft.core.{Bbox, ClipCursor, Codec, Compresso, Cseg, Vec3}

/** The cutout decode stage as one native Catalyst generator, and the
  * one voxel emitter of every grid cutout (precomputed, zarr2, zarr3,
  * N5, the chunk-table engine): each chunk
  * row (x0, y0, z0, x1, y1, z1, payload) is decoded once and its voxels
  * inside `clip` stream out as (x, y, z, label) rows, in [[ClipCursor]]
  * order, written into one reused row (GenerateExec copies each row
  * into its own buffer before asking for the next), so no per-voxel
  * object is made between the decode and Spark's row buffer.
  *
  * A stage at the root of a query plans as [[DecodeVoxelsExec]]
  * ([[DecodeVoxels.stage]] installs [[DecodeVoxelsStrategy]] on its
  * session): a collect of a label cutout ships each chunk's [[decode]]
  * as one block (its clipped window and values at [[valueWidth]], or
  * the background of a null payload) and the driver builds the same
  * rows in the same order.
  *
  * The fields carry what the decode needs and what
  * [[ContainsGateRule]] reads to gate payloads below it: the scale's
  * `encoding`, dtype bytes, cseg block size and the `background` a
  * null (fill_missing) payload reads back as. Two cutout shapes ride
  * the same stage:
  *   - `valueType = DoubleType`: IEEE float raw chunks, column `value`
  *   - non-empty `channels`: `planes` channel-slowest planes per chunk,
  *     one (x, y, z, c, value) row per requested channel
  */
case class DecodeVoxels(children: Seq[Expression], encoding: String,
    dtypeBytes: Int, clip: Bbox, csegBlock: Vec3 = Vec3(8, 8, 8),
    background: Long = 0L, valueType: DataType = LongType,
    channels: Seq[Int] = Nil, planes: Int = 1)
    extends Generator with CodegenFallback {
  require(children.length == 7,
    "decode_voxels(x0, y0, z0, x1, y1, z1, payload) takes 7 arguments")

  override def prettyName: String = "decode_voxels"

  /** The output column a `label = K` filter gates on, if any. */
  def labelOrdinal: Option[Int] =
    if (channels.isEmpty && valueType == LongType) Some(3) else None

  override def elementSchema: StructType = StructType(
    Seq("x", "y", "z").map(StructField(_, LongType, nullable = false)) ++
      (if (channels.isEmpty) Nil
       else Seq(StructField("c", LongType, nullable = false))) :+
      StructField(if (labelOrdinal.isDefined) "label" else "value",
        valueType, nullable = false))

  private def decodeLongs(p: Array[Byte], bs: Vec3, at: Vec3): Array[Long] = {
    // codecs that carry their own dims must agree with the chunk's:
    // a permuted shape has the right voxel count but scrambles them
    def shaped(d: (Vec3, Array[Long])): Array[Long] = {
      require(d._1 == bs, s"chunk $bs at $at decodes as ${d._1}")
      d._2
    }
    encoding match {
      case "compressed_segmentation" => Cseg.decode(p, bs, csegBlock, dtypeBytes)
      case "compresso" => shaped(Compresso.decode(p))
      case "npz" => shaped(Codec.decodeNpz(p))
      case "png" if channels.nonEmpty => Codec.decodePngChannelsToLongs(p, planes)
      case "jpeg" if channels.nonEmpty => Codec.decodeJpegChannelsToLongs(p)
      case "png" if dtypeBytes == 2 => Codec.decodePng16(p)
      case "png" => Codec.decodeRawToLongs(Codec.decodePng(p), 1)
      case _ => Codec.decodeRawToLongs(p, dtypeBytes)
    }
  }

  /** Decode one chunk row (x0, y0, z0, x1, y1, z1, payload): the walk
    * over its voxels inside `clip` and the values it reads. */
  def decode(input: InternalRow): DecodeVoxels.Chunk = {
    def long(k: Int): Long = children(k).eval(input).asInstanceOf[Long]
    val at = Vec3(long(0), long(1), long(2))
    val bs = Vec3(long(3), long(4), long(5)) - at
    val p = children(6).eval(input).asInstanceOf[Array[Byte]]
    val longs = if (p == null || valueType != LongType) null else decodeLongs(p, bs, at)
    val doubles =
      if (p == null || valueType == LongType) null
      else Codec.decodeRawFloatsToDoubles(p, dtypeBytes)
    val plane = (bs.x * bs.y * bs.z).toInt
    val n =
      if (longs != null) longs.length
      else if (doubles != null) doubles.length
      else plane * planes
    DecodeVoxels.Chunk(new ClipCursor(n, at, bs, clip, planes), plane, longs, doubles)
  }

  /** Bytes per value that carry every value of a chunk's `longs`
    * without loss: the dtype width when it is 1, 2 or 4 bytes and
    * either the codec cannot yield wider values (raw and cseg decode
    * dtype-width words) or no value of `longs` is wider; otherwise 8
    * (the grid readers' 8-byte words, npz or compresso values past the
    * dtype). */
  def valueWidth(longs: Array[Long]): Int =
    if (dtypeBytes != 1 && dtypeBytes != 2 && dtypeBytes != 4) 8
    else if (encoding == "raw" || encoding == "compressed_segmentation") dtypeBytes
    else {
      var bits = 0L
      var i = 0
      while (i < longs.length) { bits |= longs(i); i += 1 }
      if ((bits >>> (8 * dtypeBytes)) == 0L) dtypeBytes else 8
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val DecodeVoxels.Chunk(c, plane, longs, doubles) = decode(input)
    val row = new SpecificInternalRow(elementSchema.map(_.dataType))
    val vi = row.numFields - 1
    // a null payload reads back as `background` everywhere: the value
    // field is written once and only the coordinates move
    if (longs == null && doubles == null) {
      if (valueType == LongType) row.setLong(vi, background)
      else row.setDouble(vi, background.toDouble)
    }
    val chans = if (channels.isEmpty) Array(0) else channels.toArray
    val withC = channels.nonEmpty
    new Iterator[InternalRow] {
      private var ci = chans.length - 1
      private var ready = false
      def hasNext: Boolean = {
        if (!ready) {
          if (ci + 1 < chans.length) { ci += 1; ready = true }
          else if (c.next()) { ci = 0; ready = true }
        }
        ready
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("decode_voxels")
        ready = false
        row.setLong(0, c.x); row.setLong(1, c.y); row.setLong(2, c.z)
        if (withC) row.setLong(3, chans(ci))
        val i = c.i + plane * chans(ci)
        if (longs != null) row.setLong(vi, longs(i))
        else if (doubles != null) row.setDouble(vi, doubles(i))
        row
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object DecodeVoxels {
  /** One decoded chunk: `cursor` walks its voxels inside the clip,
    * `plane` voxels per channel plane; the values are `longs` or
    * `doubles`, both null for a null payload. */
  final case class Chunk(cursor: ClipCursor, plane: Int, longs: Array[Long],
      doubles: Array[Double])

  /** The chunk-row columns the stage reads, in its child order. */
  def chunkCols: Seq[Expression] = Seq("x0", "y0", "z0", "x1", "y1", "z1",
    "payload").map(c => ColumnShim.expression(col(c)))

  /** Chunk rows (x0..z1, payload) -> the voxel rows of `d`. In every
    * session a collect of them plans [[DecodeVoxelsExec]], and a
    * `label = K` filter over them gets a payload gate below the decode. */
  def stage(chunks: DataFrame, d: DecodeVoxels): DataFrame = {
    install(chunks.sparkSession)
    chunks.select(ColumnShim.column(d))
  }

  /** Add [[DecodeVoxelsStrategy]] and [[ContainsGateRule]] to the
    * session once each. The lock on its `ExperimentalMethods` makes
    * the read-check-write atomic, so concurrent first cutouts cannot
    * add either twice or drop another's entry. */
  private def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(DecodeVoxelsStrategy))
        x.extraStrategies = DecodeVoxelsStrategy +: x.extraStrategies
      if (!x.extraOptimizations.contains(ContainsGateRule))
        x.extraOptimizations = x.extraOptimizations :+ ContainsGateRule
    }
  }
}

/** Plans a [[DecodeVoxels]] generate that keeps no child column, is
  * not outer (every [[DecodeVoxels.stage]], which installs it) and is
  * the root of the query as a [[DecodeVoxelsExec]], whose collect ships
  * clipped chunk blocks instead of voxel rows. Under any other operator
  * nothing collects it, so Spark plans its `GenerateExec`, which
  * whole-stage codegen fuses with the operators around it. */
object DecodeVoxelsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(g @ Generate(d: DecodeVoxels, _, false, _, _, child))
        if g.requiredChildOutput.isEmpty =>
      DecodeVoxelsExec(d, g.qualifiedGeneratorOutput, planLater(child)) :: Nil
    case _ => Nil
  }
}
