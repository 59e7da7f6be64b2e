package graft.core

import java.util.zip.{CRC32, Inflater}

/** Minimal pure-JVM PNG scanline decoder for the engine's read paths —
  * non-interlaced, bit depth 8/16, color types 0 (gray), 2 (RGB) and
  * 6 (RGBA): exactly the envelope our own encoders (ImageIO writers in
  * Codec / MultimodalOps) produce. ImageIO's generic reader pays a
  * per-image framework cost (stream + reader reset + metadata parse +
  * color-model dispatch) that dwarfs the pixel work on the KB-scale
  * images the mm lane and png-encoded chunks carry; this decoder is
  * one zlib inflate plus one defilter pass over primitive arrays.
  *
  * Callers treat `None` as "outside the envelope" and fall back to
  * their existing ImageIO path, so exotic streams (palette, interlace,
  * gray+alpha, ancillary transforms) still decode — just slower.
  * Differential tests (PngDecodeSpec) pin byte-exact agreement with
  * ImageIO on every fixture byte shape, all five scanline filters
  * included.
  */
object PngDecode {

  /** Defiltered raw samples, row-major; 16-bit samples stay big-endian
    * byte pairs (PNG network order).
    */
  final case class Raw(width: Int, height: Int, bitDepth: Int,
    colorType: Int, samples: Array[Byte])

  // decode bomb guard: no fixture/chunk image decodes past this
  private val MaxRawBytes = 1 << 28

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private val Sig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def channels(colorType: Int): Int = colorType match {
    case 0 => 1
    case 2 => 3
    case 6 => 4
    case _ => -1
  }

  /** Decode to defiltered samples; None when the stream is outside the
    * supported envelope or malformed (callers fall back to ImageIO,
    * whose error reporting then applies). A CRC32 mismatch on IHDR,
    * IDAT or IEND fails here as an IllegalArgumentException instead:
    * ImageIO's reader does not check chunk CRCs, so falling back would
    * accept the corrupt bytes.
    */
  def decodeRaw(png: Array[Byte]): Option[Raw] = {
    if (png.length < 33) return None
    var i = 0
    while (i < 8) { if (png(i) != Sig(i)) return None; i += 1 }
    var pos = 8
    var w = 0; var h = 0; var depth = 0; var ctype = -1; var interlace = 0
    var seenIhdr = false
    val idat = new java.io.ByteArrayOutputStream(png.length)
    var done = false
    while (!done && pos + 8 <= png.length) {
      val len = be32(png, pos)
      val typ = be32(png, pos + 4)
      if (len < 0 || pos + 12 + len > png.length) return None
      if (typ == 0x49484452 || typ == 0x49444154 || typ == 0x49454e44) {
        val crc = new CRC32()
        crc.update(png, pos + 4, 4 + len)
        require(crc.getValue.toInt == be32(png, pos + 8 + len),
          f"png chunk CRC mismatch at byte $pos (type 0x$typ%08x)")
      }
      typ match {
        case 0x49484452 => // IHDR
          if (len < 13) return None
          w = be32(png, pos + 8); h = be32(png, pos + 12)
          depth = png(pos + 16) & 0xff
          ctype = png(pos + 17) & 0xff
          interlace = png(pos + 20) & 0xff
          seenIhdr = true
        case 0x49444154 => idat.write(png, pos + 8, len) // IDAT
        case 0x49454e44 => done = true // IEND
        case _ => () // ancillary chunks carry nothing we honor
      }
      pos += 12 + len
    }
    if (!seenIhdr || interlace != 0) return None
    if (depth != 8 && depth != 16) return None
    val ch = channels(ctype)
    if (ch < 0) return None
    if (w <= 0 || h <= 0) return None
    val rowBytesL = w.toLong * ch * depth / 8
    val rawLenL = (rowBytesL + 1) * h
    if (rowBytesL <= 0 || rawLenL > MaxRawBytes) return None
    val rowBytes = rowBytesL.toInt
    val bpp = ch * depth / 8
    // one inflate straight into the right-sized filtered buffer
    val raw = new Array[Byte](rawLenL.toInt)
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val k = inf.inflate(raw, off, raw.length - off)
        if (k == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += k
      }
      // drain to the end of the zlib stream: the adler32 trailer is
      // only checked (DataFormatException on mismatch) once the
      // inflater reads past the last data byte, and a stream that
      // still yields output here is longer than its IHDR allows
      val spare = new Array[Byte](1)
      while (!inf.finished()) {
        if (inf.inflate(spare) > 0 || inf.needsInput() || inf.needsDictionary())
          return None
      }
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    if (off != raw.length) return None
    // defilter (filters 0-4 per row; the reconstruction reads the
    // already-reconstructed output row above/left, RFC 2083 §6)
    val out = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (rowBytes + 1)) & 0xff
      val src = y * (rowBytes + 1) + 1
      val dst = y * rowBytes
      val prev = dst - rowBytes
      var j = 0
      f match {
        case 0 =>
          System.arraycopy(raw, src, out, dst, rowBytes)
        case 1 => // Sub
          while (j < rowBytes) {
            val a = if (j >= bpp) out(dst + j - bpp) & 0xff else 0
            out(dst + j) = ((raw(src + j) & 0xff) + a).toByte
            j += 1
          }
        case 2 => // Up
          while (j < rowBytes) {
            val b = if (y > 0) out(prev + j) & 0xff else 0
            out(dst + j) = ((raw(src + j) & 0xff) + b).toByte
            j += 1
          }
        case 3 => // Average
          while (j < rowBytes) {
            val a = if (j >= bpp) out(dst + j - bpp) & 0xff else 0
            val b = if (y > 0) out(prev + j) & 0xff else 0
            out(dst + j) = ((raw(src + j) & 0xff) + ((a + b) >> 1)).toByte
            j += 1
          }
        case 4 => // Paeth
          while (j < rowBytes) {
            val a = if (j >= bpp) out(dst + j - bpp) & 0xff else 0
            val b = if (y > 0) out(prev + j) & 0xff else 0
            val c = if (y > 0 && j >= bpp) out(prev + j - bpp) & 0xff else 0
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            out(dst + j) = ((raw(src + j) & 0xff) + pred).toByte
            j += 1
          }
        case _ => return None
      }
      y += 1
    }
    Some(Raw(w, h, depth, ctype, out))
  }

  /** 8-bit grayscale fast path: (width, height, row-major pixels). */
  def gray8(png: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decodeRaw(png) match {
      case Some(Raw(w, h, 8, 0, s)) => Some((w, h, s))
      case _ => None
    }

  /** 16-bit grayscale fast path: values as 0..65535 longs. */
  def gray16(png: Array[Byte]): Option[(Int, Int, Array[Long])] =
    decodeRaw(png) match {
      case Some(Raw(w, h, 16, 0, s)) =>
        val out = new Array[Long](w * h)
        var i = 0
        while (i < out.length) {
          out(i) = ((s(2 * i) & 0xffL) << 8) | (s(2 * i + 1) & 0xffL)
          i += 1
        }
        Some((w, h, out))
      case _ => None
    }

  /** Interleaved RGB/RGBA -> planar channel-slowest longs (the raw-
    * encoding layout the cutout loop indexes); nc is the caller's
    * declared channel count (3 or 4). A 3-channel stream read as nc=4
    * fills the alpha plane with 255 (ImageIO getRGB semantics); a
    * 4-channel stream read as nc=3 drops alpha.
    */
  def planar(png: Array[Byte], nc: Int): Option[Array[Long]] =
    decodeRaw(png) match {
      case Some(Raw(w, h, 8, ctype, s)) if ctype == 2 || ctype == 6 =>
        val srcCh = if (ctype == 2) 3 else 4
        val plane = w * h
        val out = new Array[Long](plane * nc)
        var i = 0
        while (i < plane) {
          out(i) = s(i * srcCh) & 0xffL
          out(i + plane) = s(i * srcCh + 1) & 0xffL
          out(i + 2 * plane) = s(i * srcCh + 2) & 0xffL
          if (nc == 4)
            out(i + 3 * plane) =
              if (srcCh == 4) s(i * srcCh + 3) & 0xffL else 0xffL
          i += 1
        }
        Some(out)
      case _ => None
    }
}
