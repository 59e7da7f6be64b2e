package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Codec, PngDecode}

/** Differential tests for the pure-JVM PNG scanline decoder against
  * ImageIO on every byte shape the engine's own encoders produce —
  * the prerequisite for routing the mm lane and the png chunk codecs
  * through PngDecode (VERDICT r18 item 5). Content variety (random,
  * constant, gradients, stripes) drives ImageIO's adaptive filter
  * selection across all five scanline filters.
  */
class PngDecodeSpec extends AnyFunSuite {

  private def rnd(seed: Long, n: Int): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  private val dims =
    Seq((1, 1), (8, 6), (25, 17), (33, 1), (1, 33), (32, 22), (256, 3),
      (3, 256), (64, 64))

  private def imageioGray8(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h)
    img.getRaster.getDataElements(0, 0, w, h, out)
    (w, h, out)
  }

  test("gray8 agrees with ImageIO on random/constant/gradient content") {
    for (((w, h), k) <- dims.zipWithIndex) {
      val variants = Seq[Array[Byte]](
        rnd(k * 7 + 1, w * h),
        Array.fill(w * h)(0x55.toByte), // constant -> Up/Sub filters
        Array.tabulate(w * h)(i => (i % 256).toByte), // gradient
        Array.tabulate(w * h)(i => ((i / math.max(w, 1)) * 19).toByte))
      for ((vox, vi) <- variants.zipWithIndex) {
        val png = Codec.encodePng(vox, w)
        val got = PngDecode.gray8(png)
        assert(got.isDefined, s"gray8 None for ${w}x$h variant $vi")
        val (gw, gh, gp) = got.get
        val (iw, ih, ip) = imageioGray8(png)
        assert(gw == iw && gh == ih, s"dims ${w}x$h variant $vi")
        assert(java.util.Arrays.equals(gp, ip),
          s"pixels differ ${w}x$h variant $vi")
      }
    }
  }

  test("gray16 agrees with ImageIO incl. extreme values") {
    for (((w, h), k) <- dims.zipWithIndex) {
      val r = new java.util.Random(k * 13 + 5)
      val vox = Array.tabulate(w * h) { i =>
        if (i == 0) 0L
        else if (i == 1 && w * h > 1) 65535L
        else r.nextInt(65536).toLong
      }
      val png = Codec.encodePng16(vox, w)
      val got = PngDecode.gray16(png)
      assert(got.isDefined, s"gray16 None for ${w}x$h")
      val (gw, gh, gp) = got.get
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(gw == img.getWidth && gh == img.getHeight)
      val ip = new Array[Short](gw * gh)
      img.getRaster.getDataElements(0, 0, gw, gh, ip)
      assert(gp.sameElements(ip.map(_ & 0xffffL)), s"u16 pixels ${w}x$h")
    }
  }

  test("planar RGB/RGBA agrees with the getRGB reference loop") {
    for (((w, h), k) <- dims.zipWithIndex; nc <- Seq(3, 4)) {
      val plane = w * h
      val planar = rnd(k * 31 + nc, plane * nc)
      val png = Codec.encodePngChannels(planar, w, nc)
      val got = PngDecode.planar(png, nc)
      assert(got.isDefined, s"planar None for ${w}x$h nc=$nc")
      // reference: the old per-pixel getRGB path
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      val ref = new Array[Long](plane * nc)
      var i = 0
      while (i < plane) {
        val argb = img.getRGB(i % w, i / w)
        ref(i) = (argb >>> 16) & 0xff
        ref(i + plane) = (argb >>> 8) & 0xff
        ref(i + 2 * plane) = argb & 0xff
        if (nc == 4) ref(i + 3 * plane) = (argb >>> 24) & 0xff
        i += 1
      }
      assert(got.get.sameElements(ref), s"planar ${w}x$h nc=$nc")
    }
  }

  test("rgb stream read as nc=4 fills alpha=255 (getRGB semantics)") {
    val w = 9; val h = 5; val plane = w * h
    val planar = rnd(99, plane * 3)
    val png = Codec.encodePngChannels(planar, w, 3)
    val got = PngDecode.planar(png, 4)
    assert(got.isDefined)
    assert((0 until plane).forall(i => got.get(3 * plane + i) == 255L))
  }

  test("the mm fixture byte shape decodes identically") {
    // replicate MultimodalOps.pngTable's writer for a few doc ids
    for (id <- Seq(0L, 7L, 123L, 499L)) {
      val w = (8 + id % 25).toInt
      val h = (6 + id % 17).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w)
        raster.setSample(x, y, 0, ((id * 31 + x * 7 + y * 13) % 256).toInt)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val png = bos.toByteArray
      val (gw, gh, gp) = PngDecode.gray8(png).get
      val (iw, ih, ip) = imageioGray8(png)
      assert(gw == iw && gh == ih)
      assert(java.util.Arrays.equals(gp, ip), s"mm shape id=$id")
    }
  }

  test("out-of-envelope and malformed streams return None") {
    assert(PngDecode.gray8(Array.fill(40)(0x42.toByte)).isEmpty)
    val ok = Codec.encodePng(rnd(1, 64), 8)
    // cut before any IDAT byte: header survives, image data is gone
    assert(PngDecode.gray8(ok.take(40)).isEmpty)
    // a gray stream is not an RGB stream
    assert(PngDecode.planar(ok, 3).isEmpty)
    // 16-bit gray is not 8-bit gray and vice versa
    val ok16 = Codec.encodePng16(Array.tabulate(64)(_.toLong * 7), 8)
    assert(PngDecode.gray8(ok16).isEmpty)
    assert(PngDecode.gray16(ok).isEmpty)
  }

  /** PNG chunks as (type, data), and back with fresh lengths + CRCs. */
  private def chunks(png: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val bb = java.nio.ByteBuffer.wrap(png)
    var pos = 8
    val out = Seq.newBuilder[(Int, Array[Byte])]
    while (pos + 12 <= png.length) {
      val len = bb.getInt(pos)
      out += ((bb.getInt(pos + 4), png.slice(pos + 8, pos + 8 + len)))
      pos += 12 + len
    }
    out.result()
  }
  private def png(cs: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val d = new java.io.DataOutputStream(o)
    cs.foreach { case (t, data) =>
      val crc = new java.util.zip.CRC32()
      val tb = java.nio.ByteBuffer.allocate(4).putInt(t).array()
      crc.update(tb); crc.update(data)
      d.writeInt(data.length); d.write(tb); d.write(data)
      d.writeInt(crc.getValue.toInt)
    }
    o.toByteArray
  }
  private val Idat = 0x49444154

  test("the zlib stream must end in a matching adler32 trailer") {
    val ok = Codec.encodePng(rnd(2, 25 * 17), 25)
    assert(PngDecode.gray8(ok).isDefined)
    val cs = chunks(ok)
    // one IDAT holding the whole zlib stream, trailer = its last 4 bytes
    val z = cs.filter(_._1 == Idat).flatMap(_._2).toArray
    val rest = cs.filter(_._1 != Idat)
    def withStream(s: Array[Byte]): Array[Byte] =
      png(rest.init ++ Seq((Idat, s)) ++ Seq(rest.last))
    assert(PngDecode.gray8(withStream(z)).isDefined)
    val flipped = z.clone()
    flipped(z.length - 1) = (flipped(z.length - 1) ^ 0x01).toByte
    assert(PngDecode.gray8(withStream(flipped)).isEmpty)
    // the image bytes are all there but the trailer is cut: nothing
    // checked them
    assert(PngDecode.gray8(withStream(z.dropRight(4))).isEmpty)
    assert(PngDecode.gray8(withStream(z.dropRight(2))).isEmpty)
    // a stream that inflates to more rows than IHDR declares
    val shorter = rest.map {
      case (t, d) if t == 0x49484452 =>
        val h = d.clone(); java.nio.ByteBuffer.wrap(h).putInt(4, 16); (t, h)
      case c => c
    }
    assert(PngDecode.gray8(png(shorter.init ++ Seq((Idat, z)) ++
      Seq(shorter.last))).isEmpty)
  }

  test("a CRC mismatch on IHDR, IDAT or IEND fails typed, not through " +
      "the ImageIO fallback") {
    val ok8 = Codec.encodePng(rnd(3, 25 * 17), 25)
    val ok16 = Codec.encodePng16(Array.tabulate(25 * 17)(_ * 151L % 65536L), 25)
    /** `png` with the last CRC byte of its first chunk of type `t`
      * flipped; every data byte is left as it was. */
    def badCrc(png: Array[Byte], t: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.wrap(png)
      var pos = 8
      while (bb.getInt(pos + 4) != t) pos += 12 + bb.getInt(pos)
      val out = png.clone()
      val at = pos + 11 + bb.getInt(pos)
      out(at) = (out(at) ^ 0x01).toByte
      out
    }
    for (t <- Seq(0x49484452, Idat, 0x49454e44)) {
      intercept[IllegalArgumentException](Codec.decodePng(badCrc(ok8, t)))
      intercept[IllegalArgumentException](Codec.decodePng16(badCrc(ok16, t)))
    }
  }

  test("Codec decode entry points route through the fast path unchanged") {
    val vox = rnd(5, 25 * 17)
    assert(java.util.Arrays.equals(
      Codec.decodePng(Codec.encodePng(vox, 25)), vox))
    val v16 = Array.tabulate(25 * 17)(i => (i * 97L) % 65536L)
    assert(Codec.decodePng16(Codec.encodePng16(v16, 25)).sameElements(v16))
    for (nc <- Seq(3, 4)) {
      val planar = rnd(nc, 25 * 17 * nc)
      val round = Codec.decodePngChannelsToLongs(
        Codec.encodePngChannels(planar, 25, nc), nc)
      assert(round.sameElements(planar.map(_ & 0xffL)), s"channels nc=$nc")
    }
  }
}
