package org.apache.spark.sql.graftshim

import java.io.{DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.SparkEnv
import org.apache.spark.internal.config.MAX_RESULT_SIZE
import org.apache.spark.io.CompressionCodec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.io.{ChunkedByteBuffer, ChunkedByteBufferOutputStream}
import graft.functions.DecodeVoxels

/** The physical node of a `DecodeVoxels` generate that keeps no child
  * column (every cutout's decode stage) and is the root of its query,
  * planned in every session by [[graft.functions.DecodeVoxelsStrategy]],
  * which the stage installs.
  *
  * Anything but a collect (`toRdd`, `foreach`) reads the rows of the
  * `GenerateExec` it holds. A collect of a label cutout (x, y, z, label) instead ships one
  * block per chunk to the driver, the way cloud-volume pastes each
  * decoded chunk into one buffer (rx.py): the chunk's clipped window
  * and its clipped values at the narrowest lossless width (1 byte for
  * uint8), or only the background for a null payload, each task's
  * blocks through the configured io compression codec. The driver
  * builds the rows from them, in the order the generic path gives. A
  * float or channel cutout collects the generic way, and so does a
  * label cutout whose rows would pass `spark.driver.maxResultSize`:
  * the row path's own result-size check then decides.
  *
  * It lives in this package because `executeCollectIterator`, which it
  * overrides beside `executeCollect`, is `private[spark]`.
  *
  * Metrics: the generate's `numOutputRows`, and `blockBytes`, the
  * compressed block bytes a collect shipped.
  */
case class DecodeVoxelsExec(generator: DecodeVoxels, output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  private lazy val generate =
    GenerateExec(generator, Nil, outer = false, output, child)

  override lazy val metrics: Map[String, SQLMetric] = generate.metrics +
    ("blockBytes" -> SQLMetrics.createSizeMetric(sparkContext, "block bytes"))

  override def producedAttributes: AttributeSet = generate.producedAttributes

  override def outputPartitioning: Partitioning = generate.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = generate.execute()

  override def executeCollect(): Array[InternalRow] = blockCollect() match {
    case Some((total, rows)) =>
      val out = new Array[InternalRow](total.toInt)
      rows.copyToArray(out)
      out
    case None => super.executeCollect()
  }

  override private[spark] def executeCollectIterator()
      : (Long, Iterator[InternalRow]) =
    blockCollect().getOrElse(super.executeCollectIterator())

  /** The block collect's row count and rows; `None` for a float or
    * channel stage, or when its rows would pass the driver's result
    * cap (their row count is known only after the block job). */
  private def blockCollect(): Option[(Long, Iterator[InternalRow])] =
    if (generator.labelOrdinal.isEmpty) None
    else {
      val parts = collectBlocks()
      val total = parts.map(_._1).sum
      val cap = sparkContext.conf.get(MAX_RESULT_SIZE)
      if ((cap > 0 && total * DecodeVoxelsExec.RowBytes > cap) ||
          total > Int.MaxValue - 16) {
        // the row path counts the rows again
        longMetric("numOutputRows").reset()
        None
      } else Some((total, parts.iterator.flatMap(p => new DecodeVoxelsExec.BlockRows(p._2))))
    }

  /** One job: each task decodes its chunks and writes their blocks;
    * (row count, compressed blocks) per task. */
  private def collectBlocks(): Array[(Long, ChunkedByteBuffer)] = {
    val numOutputRows = longMetric("numOutputRows")
    val blockBytes = longMetric("blockBytes")
    val gen = BindReferences.bindReference(generator, child.output)
    child.execute().mapPartitionsInternal { iter =>
      val cbbos = new ChunkedByteBufferOutputStream(1 << 20, ByteBuffer.allocate)
      val out = new DataOutputStream(
        CompressionCodec.createCodec(SparkEnv.get.conf).compressedOutputStream(cbbos))
      val w = new DecodeVoxelsExec.BlockWriter(gen, out)
      iter.foreach(w.write)
      out.writeByte(DecodeVoxelsExec.End)
      out.close()
      val bytes = cbbos.toChunkedByteBuffer
      numOutputRows += w.rows
      blockBytes += bytes.size
      Iterator.single((w.rows, bytes))
    }.collect()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeVoxelsExec =
    copy(child = newChild)
}

object DecodeVoxelsExec {
  /** A block's width byte: `Constant` for a null payload's background,
    * 1, 2, 4 or 8 bytes per value, `End` after a task's last block. */
  private final val Constant = 0
  private final val End = -1
  /** An (x, y, z, label) UnsafeRow: the null bitset word, four longs. */
  private final val RowBytes = 40
  /** Values a writer buffers, and rows a reader builds in one array. */
  private final val Slice = 1 << 16

  /** Writes the blocks of one task's chunk rows to `out`: per chunk
    * with a non-empty clip, the width byte, the window lox, loy, loz,
    * hix, hiy, hiz, then the background or the clipped values in
    * cursor order, little-endian. */
  private final class BlockWriter(gen: DecodeVoxels, out: DataOutputStream) {
    var rows = 0L
    private val buf = new Array[Byte](8 * Slice)
    private val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)

    /** Where the next `w` bytes go, after flushing a full buffer. */
    private def room(k: Int, w: Int): Int =
      if (k + w <= buf.length) k else { out.write(buf, 0, k); 0 }

    def write(chunk: InternalRow): Unit = {
      val DecodeVoxels.Chunk(c, _, longs, _) = gen.decode(chunk)
      if (c.size > 0) {
        val width = if (longs == null) Constant else gen.valueWidth(longs)
        out.writeByte(width)
        Seq(c.lox, c.loy, c.loz, c.hix, c.hiy, c.hiz).foreach(out.writeLong)
        if (width == Constant) out.writeLong(gen.background)
        else {
          var k = 0
          width match {
            case 1 => while (c.next()) { k = room(k, 1); bb.put(k, longs(c.i).toByte); k += 1 }
            case 2 => while (c.next()) { k = room(k, 2); bb.putShort(k, longs(c.i).toShort); k += 2 }
            case 4 => while (c.next()) { k = room(k, 4); bb.putInt(k, longs(c.i).toInt); k += 4 }
            case _ => while (c.next()) { k = room(k, 8); bb.putLong(k, longs(c.i)); k += 8 }
          }
          out.write(buf, 0, k)
        }
        rows += c.size
      }
    }
  }

  /** The (x, y, z, label) rows of one task's blocks, in cursor order,
    * each a fresh UnsafeRow over its own 40 bytes of an array of at
    * most `Slice` rows; values are read a slice at a time, when the
    * iteration reaches them. */
  private final class BlockRows(bytes: ChunkedByteBuffer) extends Iterator[InternalRow] {
    private val in = new DataInputStream(CompressionCodec.createCodec(SparkEnv.get.conf)
      .compressedInputStream(bytes.toInputStream()))
    private var open = true
    private var left = 0L
    private var width = 0
    private var background = 0L
    private val vals = ByteBuffer.wrap(new Array[Byte](8 * Slice)).order(ByteOrder.LITTLE_ENDIAN)
    private var mem: Array[Byte] = _
    private var k = 0
    private var sliceLen = 0
    private var x0, y0, x1, y1 = 0L
    private var x, y, z = 0L

    def hasNext: Boolean = {
      while (left == 0 && open) readBlock()
      left > 0
    }

    private def readBlock(): Unit = {
      width = in.readByte()
      if (width == End) { open = false; in.close() }
      else {
        x0 = in.readLong(); y0 = in.readLong(); z = in.readLong()
        x1 = in.readLong(); y1 = in.readLong()
        left = (x1 - x0) * (y1 - y0) * (in.readLong() - z)
        if (width == Constant) background = in.readLong()
        k = 0; sliceLen = 0; x = x0; y = y0
      }
    }

    /** The next `Slice` (or fewer) of the block's values and rows. */
    private def readSlice(): Unit = {
      sliceLen = math.min(left, Slice.toLong).toInt
      in.readFully(vals.array, 0, sliceLen * width)
      mem = new Array[Byte](sliceLen * RowBytes)
      k = 0
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("decode_voxels blocks")
      if (k == sliceLen) readSlice()
      val v = width match {
        case 1 => vals.get(k) & 0xffL
        case 2 => vals.getShort(2 * k) & 0xffffL
        case 4 => vals.getInt(4 * k) & 0xffffffffL
        case 8 => vals.getLong(8 * k)
        case _ => background
      }
      val off = Platform.BYTE_ARRAY_OFFSET + k * RowBytes
      Platform.putLong(mem, off + 8, x)
      Platform.putLong(mem, off + 16, y)
      Platform.putLong(mem, off + 24, z)
      Platform.putLong(mem, off + 32, v)
      val r = new UnsafeRow(4)
      r.pointTo(mem, off, RowBytes)
      k += 1; left -= 1
      x += 1
      if (x == x1) { x = x0; y += 1; if (y == y1) { y = y0; z += 1 } }
      r
    }
  }
}
