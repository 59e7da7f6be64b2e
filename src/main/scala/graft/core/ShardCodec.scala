package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Shard file binary codec (sharding.py:279-820 ShardReader,
  * `:868-983` synthesize_shard_file).
  *
  * File layout: `[fixed index][data][minishard indices]` where the
  * fixed index is 2^minishard_bits pairs of uint64 LE byte offsets
  * [start, end) of each minishard's index, relative to the END of the
  * fixed index (decode adds index_length to absolutize,
  * sharding.py:392-417).
  *
  * A minishard index is a uint64 array of shape (3, N) in C order —
  * i.e. three contiguous runs: labels (delta-encoded ascending),
  * offsets (delta/cumsum scheme below), sizes. Decode
  * (sharding.py:401-417): labels = cumsum(run0); offsets =
  * cumsum(run1) then offsets[1:] += cumsum(sizes[:-1]) then all +=
  * index_length; absolute byte ranges of each label's data.
  */
object ShardCodec {

  final case class MinishardEntry(label: Long, offset: Long, size: Long)

  def indexLength(spec: ShardingSpec): Long = (1L << spec.minishardBits) * 16L

  /** Fixed index -> per-minishard absolute [start, end) byte ranges. */
  def decodeFixedIndex(bytes: Array[Byte], spec: ShardingSpec): Array[(Long, Long)] = {
    val n = 1 << spec.minishardBits
    require(bytes.length == indexLength(spec),
      s"shard index length ${bytes.length} != ${indexLength(spec)}")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(n) { i =>
      (bb.getLong(16 * i) + indexLength(spec),
        bb.getLong(16 * i + 8) + indexLength(spec))
    }
  }

  /** Minishard index bytes -> entries with absolute byte offsets. */
  def decodeMinishardIndex(raw: Array[Byte], spec: ShardingSpec): Seq[MinishardEntry] = {
    val bytes =
      if (spec.minishardIndexEncoding == "gzip") Codec.gunzip(raw) else raw
    require(bytes.length % 24 == 0, s"minishard index length ${bytes.length}")
    val n = bytes.length / 24
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val labels = new Array[Long](n)
    val offsets = new Array[Long](n)
    val sizes = new Array[Long](n)
    var i = 0
    var labelSum = 0L; var offSum = 0L; var sizeSum = 0L
    while (i < n) {
      labelSum += bb.getLong(8 * i)
      labels(i) = labelSum
      offSum += bb.getLong(8 * (n + i))
      sizes(i) = bb.getLong(8 * (2 * n + i))
      offsets(i) = offSum + sizeSum + indexLength(spec)
      sizeSum += sizes(i)
      i += 1
    }
    (0 until n).map(i => MinishardEntry(labels(i), offsets(i), sizes(i)))
  }

  /** Shard synthesis with a PREAMBLE laid immediately before each
    * indexed record — the sharded multires-mesh layout, where a
    * segid's fragment bytes precede its manifest in the shard file
    * and only the manifest is minishard-indexed (mesh/multilod.py:
    * 282-284 `manifest.shard_offset - total_fragment_size`). The gap
    * rides in the record's offset DELTA (the neuroglancer minishard
    * encoding permits non-contiguous records). Raw data encoding
    * only: fragment byte math needs file offsets, which gzip'd
    * records would break.
    */
  def synthesizeShardWithPreambles(spec: ShardingSpec,
      labelGroup: Seq[(Long, Array[Byte], Array[Byte])]): Array[Byte] = {
    require(spec.dataEncoding == "raw",
      "preamble layout requires raw data encoding")
    synthesize(spec, labelGroup)
  }

  /** Assemble a full shard file from (label, payload) pairs that all
    * map to this shard (sharding.py:868-983 synthesize_shard_file).
    * Payloads are compressed per spec.dataEncoding; minishard indices
    * per spec.minishardIndexEncoding. Labels are sorted ascending
    * within each minishard; minishards are emitted in ascending
    * minishard number.
    */
  def synthesizeShard(spec: ShardingSpec, labelGroup: Seq[(Long, Array[Byte])])
      : Array[Byte] =
    synthesize(spec, labelGroup.map { case (label, bin) => (label, Array.emptyByteArray,
      if (spec.dataEncoding == "gzip") Codec.gzip(bin) else bin) })

  /** The shard file of (label, preamble, stored record) triples: per
    * minishard the preambles and records back to back, then the
    * minishard indexes and the fixed index. */
  private def synthesize(spec: ShardingSpec,
      labelGroup: Seq[(Long, Array[Byte], Array[Byte])]): Array[Byte] = {
    val byMinishard =
      mutable.SortedMap.empty[Long, mutable.ArrayBuffer[(Long, Array[Byte], Array[Byte])]]
    labelGroup.foreach { case t @ (label, _, _) =>
      byMinishard.getOrElseUpdate(spec.shardLocation(label)._2,
        mutable.ArrayBuffer.empty) += t
    }
    val minishardnos = mutable.ArrayBuffer.empty[Long]
    val indices = mutable.ArrayBuffer.empty[Array[Long]] // flat (3,N) C-order
    val datas = mutable.ArrayBuffer.empty[Array[Byte]]
    byMinishard.foreach { case (msn, grp) =>
      // uint64 label space: sort UNSIGNED like the reference's numpy
      // uint64 sort (sharding.py:902; SURVEY §7 risk register) — a
      // signed Long sort would misorder labels >= 2^63 and corrupt the
      // ascending delta encoding
      val sorted = grp.sortWith((a, b) =>
        java.lang.Long.compareUnsigned(a._1, b._1) < 0)
      val n = sorted.size
      val idx = new Array[Long](3 * n)
      val out = new java.io.ByteArrayOutputStream()
      var lastLabel = 0L
      var i = 0
      sorted.foreach { case (label, pre, bin) =>
        out.write(pre)
        out.write(bin)
        idx(i) = label - lastLabel // delta label
        // offset delta: the gap a preamble leaves (the first record's
        // also gets its minishard's start in assembleShard)
        idx(n + i) = pre.length.toLong
        idx(2 * n + i) = bin.length.toLong
        lastLabel = label
        i += 1
      }
      minishardnos += msn
      indices += idx
      datas += out.toByteArray
    }
    assembleShard(spec, minishardnos.toSeq, indices.toSeq, datas.toSeq)
  }

  private def assembleShard(spec: ShardingSpec, minishardnos: Seq[Long],
      indices0: Seq[Array[Long]], datas: Seq[Array[Byte]]): Array[Byte] = {
    val indices = indices0.map(_.clone())
    var cum = 0L
    indices.zip(datas).foreach { case (idx, data) =>
      val n = idx.length / 3
      if (n > 0) idx(n) += cum
      cum += data.length
    }
    val indexParts: Seq[Array[Byte]] = indices.map { idx =>
      val bb = ByteBuffer.allocate(8 * idx.length).order(ByteOrder.LITTLE_ENDIAN)
      idx.foreach(bb.putLong)
      val raw = bb.array()
      if (spec.minishardIndexEncoding == "gzip") Codec.gzip(raw) else raw
    }
    val dataPart = datas.foldLeft(Array.emptyByteArray)(_ ++ _)
    val fixed = ByteBuffer.allocate(indexLength(spec).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    var start = dataPart.length.toLong
    minishardnos.zip(indexParts).foreach { case (msn, part) =>
      val end = start + part.length
      fixed.putLong(16 * msn.toInt, start)
      fixed.putLong(16 * msn.toInt + 8, end)
      start = end
    }
    fixed.array() ++ dataPart ++
      indexParts.foldLeft(Array.emptyByteArray)(_ ++ _)
  }

  // ---- whole-file reader helpers (byte-array based; the Spark path
  // does range reads + coalescing instead of loading whole shards) ----

  /** All (minishard, entry) pairs of a shard file (list_labels,
    * sharding.py:790-820).
    */
  def allEntries(shard: Array[Byte], spec: ShardingSpec)
      : Seq[(Long, MinishardEntry)] = {
    val fixed = decodeFixedIndex(shard.take(indexLength(spec).toInt), spec)
    fixed.zipWithIndex.flatMap { case ((s, e), msn) =>
      if (e <= s) Seq.empty
      else decodeMinishardIndex(
        java.util.Arrays.copyOfRange(shard, s.toInt, e.toInt), spec)
        .map(ent => (msn.toLong, ent))
    }.toSeq
  }

  /** Fetch one label's payload from a whole shard file (exists +
    * get_data, sharding.py:527-589,670-788).
    */
  def getData(shard: Array[Byte], spec: ShardingSpec, label: Long)
      : Option[Array[Byte]] = {
    val (_, msn) = spec.shardLocation(label)
    val fixed = decodeFixedIndex(shard.take(indexLength(spec).toInt), spec)
    val (s, e) = fixed(msn.toInt)
    if (e <= s) return None
    val entries = decodeMinishardIndex(
      java.util.Arrays.copyOfRange(shard, s.toInt, e.toInt), spec)
    entries.find(_.label == label).map { ent =>
      val raw = java.util.Arrays.copyOfRange(
        shard, ent.offset.toInt, (ent.offset + ent.size).toInt)
      if (spec.dataEncoding == "gzip") Codec.gunzip(raw) else raw
    }
  }
}
