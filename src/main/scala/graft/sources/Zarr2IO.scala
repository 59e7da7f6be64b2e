package graft.sources

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._

/** Zarr v2 array I/O (S18) — the subset the reference's zarr2
  * datasource reads (datasource/zarr2/metadata.py:205-235,
  * image.py:55-75): `.zarray` JSON (shape, chunks, dtype, compressor,
  * order, dimension_separator), chunk objects named
  * `<gx>.<gy>.<gz>`, full-size fill_value-padded edge chunks, C or F
  * chunk layout per the declared `order` (zarr2/image.py:74,215 —
  * the reference honors both; C shares Zarr3IO's C<->F transpose, F
  * is already this engine's canonical x-fastest layout), and the
  * full numcodecs compressor set the reference decodes minus brotli
  * (zarr2/image.py:55-75): blosc (zarr-python v2's DEFAULT —
  * :65-67 decode, :200-219 encode), zlib/gzip, zstd, bz2, lzma
  * (FORMAT_XZ).
  */
object Zarr2IO {

  final case class Zarr2Meta(
      shape: Vec3,
      chunkShape: Vec3,
      dtype: String, // numpy-style, e.g. "<u4"
      fillValue: Long,
      compressor: String, // none|zlib|blosc|zstd|gzip|bz2|lzma
      order: String = "C", // "C" | "F" (zarr2/image.py:74)
      separator: String = ".", // "." | "/" chunk-key separator
      bloscCname: String = "lz4", // numcodecs Blosc defaults
      bloscClevel: Int = 5,
      bloscShuffle: Int = 1) { // 0 none | 1 byte (bit = native-only)
    require(Zarr2IO.Compressors.contains(compressor),
      s"zarr2 compressor $compressor")
    require(Set("C", "F").contains(order), s"zarr2 order $order")
    require(Set(".", "/").contains(separator),
      s"zarr2 dimension_separator '$separator'")
    // numpy dtype string: '<' little / '>' big / '|' not-applicable
    def dtypeBytes: Int = dtype.drop(1) match {
      case "u1" => 1
      case "u2" => 2
      case "u4" => 4
      case "u8" => 8
      case _ => throw new IllegalArgumentException(s"zarr2 dtype $dtype")
    }
    def byteOrder: java.nio.ByteOrder = dtype.head match {
      case '<' | '|' => java.nio.ByteOrder.LITTLE_ENDIAN
      case '>' => java.nio.ByteOrder.BIG_ENDIAN
      case c => throw new IllegalArgumentException(
        s"zarr2 dtype byte order '$c'")
    }
  }

  private val om = new ObjectMapper()

  def writeMeta(dir: String, m: Zarr2Meta): Unit = {
    Files.createDirectories(Paths.get(dir))
    val z = om.createObjectNode()
    z.put("zarr_format", 2)
    val sh = z.putArray("shape")
    sh.add(m.shape.x); sh.add(m.shape.y); sh.add(m.shape.z)
    val ch = z.putArray("chunks")
    ch.add(m.chunkShape.x); ch.add(m.chunkShape.y); ch.add(m.chunkShape.z)
    z.put("dtype", m.dtype)
    putCompressor(z, m)
    z.put("fill_value", m.fillValue)
    z.put("order", m.order)
    z.put("dimension_separator", m.separator)
    z.putNull("filters")
    Files.writeString(Paths.get(dir, ".zarray"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(z))
  }

  private def putCompressor(z: com.fasterxml.jackson.databind.node.ObjectNode,
      m: Zarr2Meta): Unit = {
    m.compressor match {
      case "zlib" | "gzip" =>
        val c = z.putObject("compressor")
        c.put("id", m.compressor); c.put("level", 5)
      case "blosc" =>
        // numcodecs Blosc JSON shape (what zarr-python v2 writes)
        val c = z.putObject("compressor")
        c.put("id", "blosc"); c.put("cname", m.bloscCname)
        c.put("clevel", m.bloscClevel); c.put("shuffle", m.bloscShuffle)
        c.put("blocksize", 0)
      case "zstd" =>
        val c = z.putObject("compressor")
        c.put("id", "zstd"); c.put("level", 3)
      case "bz2" =>
        val c = z.putObject("compressor")
        c.put("id", "bz2"); c.put("level", 9)
      case "lzma" =>
        // numcodecs LZMA defaults: format 1 = lzma.FORMAT_XZ
        val c = z.putObject("compressor")
        c.put("id", "lzma"); c.put("format", 1)
        c.putNull("check"); c.putNull("preset"); c.putNull("filters")
      case _ => z.putNull("compressor")
    }
  }

  def readMeta(dir: String): Zarr2Meta = {
    val z = om.readTree(Files.readString(Paths.get(dir, ".zarray")))
    require(z.get("zarr_format").asInt == 2, "not a zarr v2 array")
    val sh = z.get("shape")
    val ch = z.get("chunks")
    // a bare-array read is 3-D (x, y, z); lead-axis arrays go through
    // the OME reader — silently slicing the first 3 dims of a 5-D
    // shape would misread
    require(sh.size == 3 && ch.size == 3,
      s"expected 3-D zarr2 array, got ${sh.size}-D (use the OME reader)")
    metaOf(z, Vec3(sh.get(0).asLong, sh.get(1).asLong, sh.get(2).asLong),
      Vec3(ch.get(0).asLong, ch.get(1).asLong, ch.get(2).asLong))
  }

  /** The [[Zarr2Meta]] of a `.zarray` node whose spatial (x, y, z) shape
    * and chunks are given. */
  private def metaOf(z: com.fasterxml.jackson.databind.JsonNode, shape: Vec3,
      chunks: Vec3): Zarr2Meta = {
    requireNoFilters(z)
    val comp = Option(z.get("compressor")).filter(!_.isNull)
    val compId = comp.map(_.get("id").asText).getOrElse("none")
    require(Compressors.contains(compId),
      s"zarr2 compressor '$compId' unsupported")
    def conf(k: String) = comp.flatMap(c => Option(c.get(k)))
    // shuffle -1 is numcodecs AUTOSHUFFLE: byte-shuffle iff typesize>1
    // (decode ignores it anyway — the frame header carries the truth)
    Zarr2Meta(shape, chunks,
      dtype = z.get("dtype").asText,
      fillValue = Option(z.get("fill_value")).map(_.asLong).getOrElse(0L),
      compressor = compId,
      bloscCname = conf("cname").map(_.asText).getOrElse("lz4"),
      bloscClevel = conf("clevel").map(_.asInt).getOrElse(5),
      bloscShuffle = conf("shuffle").map(_.asInt).filter(_ >= 0).getOrElse(1),
      order = z.get("order").asText,
      separator = Option(z.get("dimension_separator")).map(_.asText)
        .getOrElse(".")) // "." is the zarr2 spec default when absent
  }

  /** numcodecs `filters` (delta, fixed-scale-offset, ...) transform
    * the bytes BEFORE the compressor — ignoring a declared filter
    * would decode garbage silently, so reject any non-empty list.
    */
  private def requireNoFilters(
      z: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val f = Option(z.get("filters")).filter(!_.isNull)
    require(f.forall(_.size == 0),
      s"zarr2 filters ${f.get} unsupported (would decode garbage)")
  }

  /** Every numcodecs compressor id the reference's decode path
    * accepts (zarr2/image.py:55-75 maps zlib->gzip-family and
    * lzma->xz before dispatch) minus brotli (no JVM impl offline):
    * zlib/gzip (java.util.zip), zstd (zstd-jni), bz2
    * (commons-compress), lzma (numcodecs LZMA default FORMAT_XZ ->
    * the org.tukaani stream), blosc (core/Blosc; typesize is the
    * dtype width so byte-shuffle groups value lanes).
    */
  val Compressors: Set[String] =
    Set("none", "zlib", "blosc", "zstd", "gzip", "bz2", "lzma")

  /** Write chunk rows (gx, gy, gz, vox F-order full-chunk array) as the
    * chunk objects [[layout]] reads, through the one chunk sink
    * ([[ChunkLayout.write]]): keyed `x.y.z`, in the .zarray byte order,
    * C-order unless the array's order is F.
    */
  def writeChunks(chunks: DataFrame, dir: String, m: Zarr2Meta): Unit =
    ChunkLayout.write(ChunkLayout.rawRows(chunks, Nil, 0, m.dtypeBytes), layout(dir, m))

  // ---- OME-zarr (zarr v2 + .zattrs multiscales axes) ----
  // The reference's zarr2 datasource is really an OME-zarr reader:
  // .zattrs declares a suffix of the (t, c, z, y, x) axis list
  // (zarr2/metadata.py:63-104 default_zattrs, :184-213 axes/
  // chunk_name), chunk keys join the grid indices in zarr axis order,
  // and C-order (t, c, z, y, x) bytes are x-fastest = this engine's
  // canonical F layout for the spatial block. t/c chunk extents of 1
  // (one spatial block per object — the common OME layout) are
  // required; a shared multi-frame object would need zarr3-style
  // frame slicing.

  final case class Zarr2Ome(
      meta: Zarr2Meta, // spatial shape/chunks + dtype + compressor
      timeFrames: Option[Long],
      channels: Option[Long]) {
    require(meta.order == "C", "OME-zarr chunks are C-order")
    /** axis names in zarr order (suffix of t, c, z, y, x) */
    def axisNames: Seq[String] =
      (if (timeFrames.isDefined) Seq("t") else Seq.empty) ++
        (if (channels.isDefined) Seq("c") else Seq.empty) ++
        Seq("z", "y", "x")
  }

  private def writeOmeZarray(dir: String, o: Zarr2Ome): Unit = {
    Files.createDirectories(Paths.get(dir))
    val m = o.meta
    val z = om.createObjectNode()
    z.put("zarr_format", 2)
    val sh = z.putArray("shape")
    o.timeFrames.foreach(sh.add)
    o.channels.foreach(sh.add)
    sh.add(m.shape.z); sh.add(m.shape.y); sh.add(m.shape.x)
    val ch = z.putArray("chunks")
    o.timeFrames.foreach(_ => ch.add(1L))
    o.channels.foreach(_ => ch.add(1L))
    ch.add(m.chunkShape.z); ch.add(m.chunkShape.y); ch.add(m.chunkShape.x)
    z.put("dtype", m.dtype)
    putCompressor(z, m)
    z.put("fill_value", m.fillValue)
    z.put("order", "C")
    z.put("dimension_separator", m.separator)
    z.putNull("filters")
    Files.writeString(Paths.get(dir, ".zarray"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(z))
  }

  /** Root `.zattrs` multiscales block (zarr2/metadata.py:63-104
    * shape), one dataset entry per path; scale doubles per mip along
    * the spatial axes like an OME pyramid.
    */
  private def writeOmeZattrs(dir: String, o: Zarr2Ome,
      paths: Seq[String]): Unit = {
    val at = om.createObjectNode()
    val ms = at.putArray("multiscales").addObject()
    val axes = ms.putArray("axes")
    o.axisNames.foreach { n =>
      val a = axes.addObject()
      a.put("name", n)
      a.put("type", n match {
        case "t" => "time"
        case "c" => "channel"
        case _ => "space"
      })
      if (n == "t") a.put("unit", "millisecond")
      else if (n != "c") a.put("unit", "nanometer")
    }
    val ds = ms.putArray("datasets")
    paths.zipWithIndex.foreach { case (path, i) =>
      val d = ds.addObject()
      d.put("path", path)
      val ct = d.putArray("coordinateTransformations").addObject()
      ct.put("type", "scale")
      val sc = ct.putArray("scale")
      o.axisNames.foreach(n =>
        sc.add(if (n == "t" || n == "c") 1.0 else (1L << i).toDouble))
    }
    ms.put("name", "/")
    ms.put("version", "0.4")
    Files.writeString(Paths.get(dir, ".zattrs"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(at))
  }

  def writeMetaOme(dir: String, o: Zarr2Ome): Unit = {
    writeOmeZarray(dir, o)
    writeOmeZattrs(dir, o, Seq("."))
  }

  /** Write a multiscale OME-zarr GROUP: root `.zattrs` declares one
    * dataset path per mip ("0", "1", ...), each holding its own
    * `.zarray` (the reference's is_group layout; chunk keys are
    * key(mip)-prefixed — zarr2/metadata.py:211-223). Chunks for mip i
    * are written with writeChunksOme into `dir/<i>`.
    */
  def writeMetaOmeGroup(dir: String, mips: Seq[Zarr2Ome]): Unit = {
    require(mips.nonEmpty &&
      mips.forall(_.axisNames == mips.head.axisNames),
      "group mips must share the axis list")
    Files.createDirectories(Paths.get(dir))
    writeOmeZattrs(dir, mips.head, mips.indices.map(_.toString))
    mips.zipWithIndex.foreach { case (o, i) =>
      writeOmeZarray(s"$dir/$i", o)
    }
  }

  /** Multiscale-group dataset paths from the root `.zattrs`
    * (zarr2/metadata.py:180-181 datasets, :211-223 key(mip) chunk
    * prefix). A single-array layout declares path "." — the
    * reference's non-group case.
    */
  def omeDatasetPaths(dir: String): Seq[String] =
    omeDatasetPathsOf(om.readTree(Files.readString(
      Paths.get(dir, ".zattrs"))))

  private def omeDatasetPathsOf(
      at: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val ds = at.get("multiscales").get(0).get("datasets")
    (0 until ds.size).map(ds.get(_).get("path").asText)
  }

  def readMetaOme(dir: String, arraySub: Option[String] = None): Zarr2Ome = {
    val arrayDir = arraySub.map(p => s"$dir/$p").getOrElse(dir)
    parseOme(
      om.readTree(Files.readString(Paths.get(arrayDir, ".zarray"))),
      om.readTree(Files.readString(Paths.get(dir, ".zattrs"))))
  }

  /** Shared OME model parse over the root `.zattrs` and one member
    * `.zarray` node — the same logic whether the nodes came from
    * member objects or from the consolidated `.zmetadata` map.
    */
  private def parseOme(z: com.fasterxml.jackson.databind.JsonNode,
      at: com.fasterxml.jackson.databind.JsonNode): Zarr2Ome = {
    require(z.get("zarr_format").asInt == 2, "not a zarr v2 array")
    val axes = at.get("multiscales").get(0).get("axes")
    val names = (0 until axes.size).map(axes.get(_).get("name").asText)
    require(names.size >= 3 && names.takeRight(3) == Seq("z", "y", "x") &&
      Set(Seq.empty[String], Seq("t"), Seq("c"), Seq("t", "c"))
        .contains(names.dropRight(3)),
      s"unsupported OME axes $names (expected suffix of t, c, z, y, x)")
    val sh = z.get("shape")
    val ch = z.get("chunks")
    require(sh.size == names.size && ch.size == names.size,
      s"shape/chunks rank != ${names.size} axes")
    val nLead = names.size - 3
    (0 until nLead).foreach { i =>
      require(ch.get(i).asLong == 1L,
        s"OME lead-axis chunk extent ${ch.get(i).asLong} != 1 unsupported")
    }
    val tPos = names.indexOf("t")
    val cPos = names.indexOf("c")
    def zyx(n: com.fasterxml.jackson.databind.JsonNode) =
      Vec3(n.get(nLead + 2).asLong, n.get(nLead + 1).asLong, n.get(nLead).asLong)
    Zarr2Ome(metaOf(z, zyx(sh), zyx(ch)),
      timeFrames = if (tPos >= 0) Some(sh.get(tPos).asLong) else None,
      channels = if (cPos >= 0) Some(sh.get(cPos).asLong) else None)
  }

  // ---- consolidated metadata (.zmetadata) ----
  // zarr-python's consolidate_metadata embeds every member .zgroup/
  // .zattrs/.zarray under ONE root object so a high-latency store
  // resolves all metadata in a single read instead of one round trip
  // per member — exactly the metadata-access pattern wanted over
  // object storage at 100 TB. Format: {"zarr_consolidated_format": 1,
  // "metadata": {"<relative-key>": <parsed json>, ...}}.

  /** Consolidate the store's member metadata objects into
    * `dir/.zmetadata` (walks the tree like zarr-python does).
    */
  def writeConsolidated(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val base = Paths.get(dir)
    val root = om.createObjectNode()
    root.put("zarr_consolidated_format", 1)
    val md = root.putObject("metadata")
    val names = Set(".zarray", ".zattrs", ".zgroup")
    Files.walk(base).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        names.contains(p.getFileName.toString))
      .map(p => base.relativize(p).toString.replace('\\', '/'))
      .toSeq.sorted
      .foreach { rel =>
        md.set[com.fasterxml.jackson.databind.node.ObjectNode](rel,
          om.readTree(Files.readString(base.resolve(rel))))
      }
    Files.writeString(base.resolve(".zmetadata"),
      om.writerWithDefaultPrettyPrinter.writeValueAsString(root))
  }

  /** The validated `metadata` map of `dir/.zmetadata`. */
  private def consolidatedMap(dir: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val root = om.readTree(Files.readString(Paths.get(dir, ".zmetadata")))
    val fmt = Option(root.get("zarr_consolidated_format")).map(_.asInt)
    require(fmt.contains(1),
      s"unsupported zarr_consolidated_format ${fmt.getOrElse("(absent)")}")
    val md = root.get("metadata")
    require(md != null, s"$dir/.zmetadata has no metadata map")
    md
  }

  def omeDatasetPathsConsolidated(dir: String): Seq[String] = {
    val at = consolidatedMap(dir).get(".zattrs")
    require(at != null, s"$dir/.zmetadata has no root .zattrs entry")
    omeDatasetPathsOf(at)
  }

  /** OME model for `arraySub` resolved from `.zmetadata` ONLY — the
    * member `.zattrs`/`.zarray` objects are never opened (the
    * consolidation contract: one metadata read per store).
    */
  def readMetaOmeConsolidated(dir: String,
      arraySub: Option[String] = None): Zarr2Ome = {
    val md = consolidatedMap(dir)
    val zKey = arraySub.map(p => s"$p/.zarray").getOrElse(".zarray")
    val z = md.get(zKey)
    require(z != null, s"$dir/.zmetadata has no $zKey entry")
    val at = md.get(".zattrs")
    require(at != null, s"$dir/.zmetadata has no root .zattrs entry")
    parseOme(z, at)
  }

  /** Write OME chunk rows (tc, cc, gx, gy, gz, vox F-order full-chunk
    * array — one spatial block per (t, c)) through the one chunk sink.
    * Keys join the grid indices of the axes the array has in zarr axis
    * order: [t.][c.]gz.gy.gx (zarr2/metadata.py:211-223 chunk_name); the
    * C order of (t=1, c=1, z, y, x) is x-fastest, the block's F order.
    */
  def writeChunksOme(chunks: DataFrame, dir: String, o: Zarr2Ome): Unit = {
    val lead = o.timeFrames.map(_ => 0).toSeq ++ o.channels.map(_ => 1).toSeq
    ChunkLayout.write(ChunkLayout.rawRows(chunks, lead, 2, o.meta.dtypeBytes),
      layout(dir, o.meta, lead.map(_ => 0L), ome = true))
  }

  /** The scan layout of the zarr2 array at `dir`: full-size chunks,
    * an absent key reads as fill_value (zarr v2 semantics; the
    * reference's fill_missing path, zarr2/image.py:55-75), values in
    * the .zarray byte order. A plain array keys chunks `x.y.z` and
    * C->F transposes unless its order is F; an OME array keys them
    * `[t.][c.]z.y.x`, and the C order of (t=1, c=1, z, y, x) is
    * x-fastest, already F order.
    */
  private[sources] def layout(dir: String, m: Zarr2Meta,
      lead: Seq[Long] = Nil, ome: Boolean = false): ChunkLayout = {
    import ChunkLayout._
    ChunkLayout(dir, if (ome) "ome-zarr2" else "zarr2", dir,
      Bbox(Vec3(0, 0, 0), m.shape), m.chunkShape, clamp = false,
      Keys.Grid(lead.map(_.toString), m.separator, zyx = ome),
      Shards.Unsharded, Missing.Fill,
      Step.Decompress(m.compressor, graft.sources.Compressors.BloscConf(
        m.bloscCname, m.bloscClevel, m.bloscShuffle)) +:
        ((if (m.byteOrder == java.nio.ByteOrder.BIG_ENDIAN) Seq(Step.SwapBytes)
          else Nil) ++ (if (ome || m.order == "F") Nil else Seq(Step.CToF))),
      "raw", m.dtypeBytes, m.fillValue)
  }

  /** The layout of an OME store at one (t, c) point of the lead axes.
    * `mip` selects the multiscale-group dataset (zarr2/metadata.py
    * key(mip)); single-array layouts (path ".") take mip 0 only.
    */
  private[sources] def omeLayout(dir: String, t: Long, c: Long, mip: Int,
      consolidated: Boolean): ChunkLayout = {
    val paths =
      if (consolidated) omeDatasetPathsConsolidated(dir)
      else omeDatasetPaths(dir)
    require(mip >= 0 && mip < paths.size, s"mip $mip of ${paths.size}")
    val sub = Some(paths(mip)).filter(_ != ".")
    require(mip == 0 || sub.isDefined, "single-array layout has mip 0 only")
    val o =
      if (consolidated) readMetaOmeConsolidated(dir, sub)
      else readMetaOme(dir, sub)
    o.timeFrames match {
      case Some(tf) => require(t >= 0 && t < tf, s"t=$t out of [0, $tf)")
      case None => require(t == 0, s"$dir has no time axis (t=$t)")
    }
    o.channels match {
      case Some(nc) => require(c >= 0 && c < nc, s"c=$c out of [0, $nc)")
      case None => require(c == 0, s"$dir has no channel axis (c=$c)")
    }
    layout(sub.map(p => s"$dir/$p").getOrElse(dir), o.meta,
      o.timeFrames.map(_ => t).toSeq ++ o.channels.map(_ => c).toSeq, ome = true)
  }

  /** OME cutout at one (t, c) point of the lead axes (the reference's
    * download(..., t=...) + channel slice; zarr2/image.py:76-149).
    */
  def cutoutVoxelsOmeAt(spark: SparkSession, dir: String, bbox: Bbox,
      t: Long = 0L, c: Long = 0L, mip: Int = 0,
      consolidated: Boolean = false): DataFrame =
    ChunkLayout.cutout(spark, omeLayout(dir, t, c, mip, consolidated), bbox)

  /** S18 zarr2 cutout (same plan shape as zarr3). */
  def cutoutVoxels(spark: SparkSession, dir: String, bbox: Bbox): DataFrame =
    ChunkLayout.cutout(spark, layout(dir, readMeta(dir)), bbox)
}
