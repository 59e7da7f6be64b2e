package graft.sources

import graft.core.{Blosc, Brotli, Codec, Vec3}

/** The one second-stage codec table: every compressor name a chunk
  * object can carry (precomputed `.gz`/`.br` suffixes, the zarr2
  * numcodecs ids, zarr3 codecs, N5 compression types) to its compress
  * and decompress. Chunk readers ([[ChunkLayout]]'s decompress step and
  * [[PrecomputedIO.readChunkObject]]) and every chunk writer go through
  * it. Each decompressor keeps its own output ceiling: the codecs'
  * [[Codec.MaxDecodedChunkBytes]] default, and for brotli the chunk's
  * [[PrecomputedIO.chunkDecodeCeiling]].
  */
object Compressors {

  /** numcodecs Blosc settings; the defaults are what zarr3 and N5 write. */
  final case class BloscConf(cname: String = "lz4", clevel: Int = 5,
      shuffle: Int = 1)

  private type Pack = (Array[Byte], Int, BloscConf) => Array[Byte]
  private type Unpack = (Array[Byte], Vec3) => Array[Byte]

  private val none: (Pack, Unpack) = ((b, _, _) => b, (b, _) => b)
  private val bzip2: (Pack, Unpack) =
    ((b, _, _) => Codec.bzip2(b), (b, _) => Codec.unbzip2(b))
  private val xz: (Pack, Unpack) =
    ((b, _, _) => Codec.xz(b), (b, _) => Codec.unxz(b))

  private val table: Map[String, (Pack, Unpack)] = Map(
    "none" -> none,
    "raw" -> none,
    "gzip" -> ((b, _, _) => Codec.gzip(b), (b, _) => Codec.gunzip(b)),
    "zlib" -> ((b, _, _) => Codec.zlibCompress(b), (b, _) => Codec.zlibDecompress(b)),
    "zstd" -> ((b, _, _) => Codec.zstd(b), (b, _) => Codec.unzstd(b)),
    "bz2" -> bzip2,
    "bzip2" -> bzip2,
    "lzma" -> xz, // numcodecs LZMA's default format is FORMAT_XZ
    "xz" -> xz,
    "lz4" -> ((b, _, _) => Codec.lz4Block(b), (b, _) => Codec.unlz4Block(b)),
    // typesize = the dtype width, so byte-shuffle groups value lanes
    "blosc" -> ((b, ts, c) => Blosc.compress(b, ts, c.cname, c.clevel, c.shuffle),
      (b, _) => Blosc.decompress(b)),
    "br" -> ((b, _, _) => Brotli.compress(b),
      (b, cs) => Brotli.decompress(b, PrecomputedIO.chunkDecodeCeiling(cs))))

  private def entry(name: String): (Pack, Unpack) = table.getOrElse(name,
    throw new IllegalArgumentException(s"unknown compressor '$name'"))

  def compress(name: String, b: Array[Byte], typesize: Int = 1,
      blosc: BloscConf = BloscConf()): Array[Byte] =
    entry(name)._1(b, typesize, blosc)

  /** `b` decompressed; `chunk` is the chunk's shape (brotli's ceiling). */
  def decompress(name: String, b: Array[Byte], chunk: Vec3): Array[Byte] =
    entry(name)._2(b, chunk)
}
