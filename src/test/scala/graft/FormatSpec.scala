package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Cloudpath parse (S1) + png/zstd codec (F10/F12) unit tests. */
class FormatSpec extends AnyFunSuite {

  test("cloudpath with explicit format") {
    val p = CloudPath.parse("graphene://https://example.com/image/em")
    assert(p === CloudPath("graphene", "https", "example.com",
      "example.com/image", "image", "image", "em"))
    assert(p.render === "graphene://https://example.com/image/em")
  }

  test("bare protocol defaults the format to precomputed") {
    val p = CloudPath.parse("gs://test_bucket/em")
    assert(p.format === "precomputed")
    assert(p.protocol === "gs")
    assert(p.bucket === "test_bucket")
    // two segments: dataset collapses to the bucket (test_paths.py
    // strict_extract('precomputed://gs://fafb-ffn1-1234567/segmentation'))
    assert(p.dataset === "test_bucket")
    assert(p.basepath === "test_bucket")
    assert(p.noBucketBasepath === "")
    assert(p.layer === "em")
  }

  test("bucket-only path: dataset and layer collapse to the bucket") {
    // test_paths.py strict_extract("precomputed://gs://bucket32_24")
    val p = CloudPath.parse("precomputed://gs://bucket32_24")
    assert(p === CloudPath("precomputed", "gs", "bucket32_24", "", "",
      "bucket32_24", "bucket32_24"))
  }

  test("intermediate path segments live in basepath, not dataset") {
    // test_paths.py extract('s3://seunglab-test/intermediate/path/
    // dataset/layer')
    val p = CloudPath.parse("s3://seunglab-test/intermediate/path/dataset/layer")
    assert(p === CloudPath("precomputed", "s3", "seunglab-test",
      "seunglab-test/intermediate/path/dataset", "intermediate/path/dataset",
      "dataset", "layer"))
  }

  test("graphene over http: host is the bucket") {
    // test_paths.py strict_extract('graphene://http://localhost:8080/
    // segmentation/1.0/testvol')
    val p = CloudPath.parse(
      "graphene://http://localhost:8080/segmentation/1.0/testvol")
    assert(p === CloudPath("graphene", "http", "localhost:8080",
      "localhost:8080/segmentation/1.0", "segmentation/1.0", "1.0",
      "testvol"))
  }

  test("file paths keep the root slash and deep intermediates") {
    val p = CloudPath.parse("zarr3://file:///tmp/fixtures/ds/sub/layer1")
    assert(p.format === "zarr3")
    // test_paths.py: extract('file:///tmp/dataset/layer').bucket == "/tmp"
    assert(p.bucket === "/tmp")
    assert(p.basepath === "/tmp/fixtures/ds/sub")
    assert(p.noBucketBasepath === "fixtures/ds/sub")
    assert(p.dataset === "sub")
    assert(p.layer === "layer1")
    assert(p.localPath === "/tmp/fixtures/ds/sub/layer1")
  }

  test("double format and unknown tokens are rejected (paths.py errors)") {
    intercept[IllegalArgumentException] {
      CloudPath.parse("gs://graphene://bucket/x") // format after protocol
    }
    intercept[IllegalArgumentException] { CloudPath.parse("wow://bucket/x") }
    intercept[IllegalArgumentException] { CloudPath.parse("just/a/path") }
  }

  test("png codec round-trips uint8 chunks losslessly") {
    val vox = Array.tabulate(16 * 16 * 8)(i => ((i * 31 + 7) % 251).toByte)
    val png = Codec.encodePng(vox, 16)
    // real png container
    assert(png.take(4).toSeq === Seq[Byte](-119, 'P', 'N', 'G'))
    assert(Codec.decodePng(png).toSeq === vox.toSeq)
  }

  test("jpeg codec round-trips with bounded error (lossy by design)") {
    // smooth gradient — jpeg's friendly case; assert bounded error and
    // exact dimensions, never equality (chunks.py jpeg is lossy)
    val sx = 64
    val vox = Array.tabulate(sx * 64)(i => ((i / sx) * 4 % 256).toByte)
    val jpg = Codec.encodeJpeg(vox, sx)
    assert(jpg.take(2).toSeq === Seq[Byte](-1, -40)) // SOI marker
    val back = Codec.decodeJpeg(jpg)
    assert(back.length === vox.length)
    val meanErr = vox.zip(back)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble /
      vox.length
    assert(meanErr < 4.0, s"mean abs error $meanErr")
  }

  test("16-bit gray png round-trips exactly (uint16 microscopy path)") {
    val sx = 16
    val vox = Array.tabulate(sx * 24)(i => (i * 2749L) % 60000)
    val png = Codec.encodePng16(vox, sx)
    assert(png.take(4).toSeq === Seq[Byte](-119, 'P', 'N', 'G'))
    assert(Codec.decodePng16(png).toSeq === vox.toSeq)
    intercept[IllegalArgumentException](Codec.encodePng16(Array(70000L), 1))
  }

  test("multi-channel png round-trips exactly; 3-channel jpeg bounded error") {
    // planar channel-slowest RGBA block, 8x8x2 voxels
    val sx = 8; val plane = 8 * 8 * 2
    val rgba = Array.tabulate(plane * 4)(i =>
      ((i % plane) * 3 + (i / plane) * 50).toByte)
    val png = Codec.encodePngChannels(rgba, sx, 4)
    assert(png.take(4).toSeq === Seq[Byte](-119, 'P', 'N', 'G'))
    val back = Codec.decodePngChannelsToLongs(png, 4)
    assert(back.toSeq === rgba.map(_ & 0xffL).toSeq) // lossless
    // rgb subset through jpeg: bounded mean error on a smooth gradient
    val rgb = Array.tabulate(plane * 3)(i =>
      (((i % plane) / sx) * 4 % 256).toByte)
    val jpg = Codec.encodeJpegChannels(rgb, sx)
    assert(jpg.take(2).toSeq === Seq[Byte](-1, -40))
    val jback = Codec.decodeJpegChannelsToLongs(jpg)
    assert(jback.length === rgb.length)
    val meanErr = rgb.zip(jback)
      .map { case (a, b) => math.abs((a & 0xff) - b) }.sum.toDouble /
      rgb.length
    assert(meanErr < 4.0, s"mean abs error $meanErr")
  }

  test("n5 lz4 + bzip2 + xz + blosc block compression round-trips") {
    import graft.sources.N5IO
    val dims = Vec3(5, 4, 3)
    val vox = Array.tabulate(60)(i => (i * 17L) % 251)
    for (comp <- Seq("lz4", "bzip2", "xz", "blosc")) {
      val block = N5IO.encodeBlock(vox, dims, 4, comp)
      val (d2, v2) = N5IO.decodeBlock(block, 4, comp)
      assert(d2 == dims && v2.sameElements(vox), comp)
    }
    // raw compressor streams round-trip standalone too
    val data = Array.tabulate(200000)(i => (i % 97).toByte)
    assert(Codec.unlz4Block(Codec.lz4Block(data)).toSeq === data.toSeq)
    assert(Codec.unbzip2(Codec.bzip2(data)).toSeq === data.toSeq)
    assert(Codec.unxz(Codec.xz(data)).toSeq === data.toSeq)
  }

  test("zstd second-stage round-trip") {
    val data = Array.tabulate(100000)(i => (i % 97).toByte)
    val z = Codec.zstd(data)
    assert(z.length < data.length / 2)
    assert(Codec.unzstd(z).toSeq === data.toSeq)
  }

  test("zarr3 C<->F transpose round-trip") {
    import graft.sources.ChunkLayout.transpose
    val cs = Vec3(4, 3, 2)
    val f = Array.tabulate(24)(_.toLong)
    val enc = transpose(Codec.encodeRawFromLongs(f, 4), cs, 4, cToF = false)
    assert(Codec.decodeRawToLongs(transpose(enc, cs, 4, cToF = true), 4).toSeq === f.toSeq)
    // C order: last dim (z) fastest — element (x=1,y=0,z=0) sits at
    // C-index 1*3*2=6; F-index of that voxel is 1
    val c = Codec.decodeRawToLongs(enc, 4)
    assert(c(6) === f(1))
  }

  test("zarr3 meta rejects a big-endian bytes codec") {
    import graft.sources.Zarr3IO
    val dir = Files.createTempDirectory("zarr3_be").toString
    Files.writeString(Paths.get(dir, "zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[4,4,4],
        |"data_type":"uint16",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4,4,4]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"big"}}]}"""
        .stripMargin)
    val e = intercept[IllegalArgumentException] { Zarr3IO.readMeta(dir) }
    assert(e.getMessage.contains("endian"))
  }

  test("n5 block payload is big-endian (canonical spec, not numpy-native)") {
    import graft.sources.N5IO
    val vox = Array(0x0102L, 0xBEEFL)
    val block = N5IO.encodeBlock(vox, Vec3(2, 1, 1), 2, "raw")
    // 16-byte header then u16 voxels, most significant byte first
    assert(block.drop(16).toSeq ===
      Seq[Byte](0x01, 0x02, 0xBE.toByte, 0xEF.toByte))
    val (dims, back) = N5IO.decodeBlock(block, 2, "raw")
    assert(dims === Vec3(2, 1, 1) && back.toSeq === vox.toSeq)
  }

  test("npz codec round-trips and carries shape/dtype in the header") {
    val dims = Vec3(5, 3, 2)
    val vox = Array.tabulate(30)(i => (i * 2654435761L) & 0xffffffffL)
    for (dtb <- Seq(1, 2, 4, 8)) {
      val mask = if (dtb == 8) -1L else (1L << (8 * dtb)) - 1
      val v = vox.map(_ & mask)
      val enc = Codec.encodeNpz(v, dims, dtb)
      val (d2, back) = Codec.decodeNpz(enc)
      assert(d2 === dims && back.toSeq === v.toSeq, s"dtb=$dtb")
    }
    // npy prelude + 64-byte-aligned header inside the zlib wrap
    val npy = Codec.zlibDecompress(Codec.encodeNpz(vox, dims, 4))
    assert((npy(0) & 0xff) == 0x93 &&
      new String(npy, 1, 5, "US-ASCII") == "NUMPY")
    val hlen = (npy(8) & 0xff) | ((npy(9) & 0xff) << 8)
    assert((10 + hlen) % 64 == 0)
    assert(new String(npy, 10, hlen, "US-ASCII")
      .contains("'shape': (5, 3, 2, 1)"))
  }
}
