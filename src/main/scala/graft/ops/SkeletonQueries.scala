package graft.ops

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{ShardingSpec, SkeletonCodec}
import graft.core.SkeletonCodec.Skeleton

/** Skeleton pipeline over REAL precomputed skeleton binaries
  * (§1.1 Skeleton, §3.3 skeleton fetch; format per SkeletonCodec).
  *
  * Fixture: ~30 skeletons derived from `customer`, one path-chain per
  * segid (consecutive vertices joined by edges), with an f32 radius
  * attribute — encoded and written one file per segid
  * (skeleton/unsharded.py names files by segid). The oracle re-derives
  * everything from `customer` directly.
  */
object SkeletonQueries {
  import Derived.{table, idiv}

  val Root = "/tmp/graft_fixture/skeletons"
  val SkelDir = s"$Root/skeletons"

  private val NSeg = 30L

  /** Vertex derivation, mirrored in VertCte. */
  private def baseVertices(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(
      col("c_custkey").cast("long").as("ck"),
      (col("c_custkey") % NSeg).cast("long").as("segid"),
      (col("c_custkey") % 40).cast("long").as("x"),
      ((col("c_custkey") * 3) % 40).cast("long").as("y"),
      (col("c_custkey") % 20).cast("long").as("z"),
      (lit(1L) + col("c_custkey") % 10).cast("long").as("radius"),
      (col("c_custkey") % 3).cast("long").as("vtype"))

  private val VertCte =
    """v AS (
      |  SELECT c_custkey AS ck, c_custkey % 30 AS segid,
      |         c_custkey % 40 AS x, (c_custkey * 3) % 40 AS y,
      |         c_custkey % 20 AS z, 1 + c_custkey % 10 AS radius,
      |         c_custkey % 3 AS vtype
      |  FROM customer),
      |g AS (SELECT *, row_number() OVER (
      |        PARTITION BY segid ORDER BY ck) - 1 AS vid FROM v)""".stripMargin

  /** Build stamp for downstream (sharded) fixture staleness checks. */
  def stamp: String = Fixtures.stampOf(s"$Root/.built_from")

  /** Encode + write one skeleton file per segid into `outDir` — the
    * write path shared by the fixture build and the write-roundtrip
    * entry (which re-runs it on a fresh target every invocation).
    */
  private def writeSkeletons(s: SparkSession, sfDir: String,
      outDir: String): Unit = {
    import s.implicits._
    graft.sources.ShardedIO.writeLabeled(baseVertices(s, sfDir)
      .groupBy("segid")
      .agg(sort_array(collect_list(struct(col("ck"), col("x"), col("y"),
        col("z"), col("radius"), col("vtype")))).as("vs"))
      .as[(Long, Seq[(Long, Long, Long, Long, Long, Long)])]
      .map { case (segid, vs) =>
        val verts = new Array[Float](3 * vs.length)
        val radii = new Array[Float](vs.length)
        val vtypes = new Array[Byte](vs.length)
        vs.zipWithIndex.foreach { case ((_, x, y, z, r, t), i) =>
          verts(3 * i) = x.toFloat
          verts(3 * i + 1) = y.toFloat
          verts(3 * i + 2) = z.toFloat
          radii(i) = r.toFloat
          vtypes(i) = t.toByte
        }
        val edges = new Array[Int](2 * math.max(vs.length - 1, 0))
        (0 until vs.length - 1).foreach { i =>
          edges(2 * i) = i; edges(2 * i + 1) = i + 1
        }
        (segid, SkeletonCodec.encode(Skeleton(verts, edges, radii, vtypes)))
      }
      .toDF("label", "payload"), outDir, None)
  }

  def ensure(s: SparkSession, sfDir: String): Unit = synchronized {
    // v2: vertex_types attribute; the nonce lets ensureSharded see rebuilds
    Fixtures.guard(s"$Root/.built_from", s"${Fixtures.srcStamp(sfDir)}|v2|",
        wipe = Seq(Root), nonce = true) {
      writeSkeletons(s, sfDir, SkelDir)
    }
  }

  /** The unsharded skeleton objects of `skelDir`, (segid, payload):
    * listing driver-side, reads in executor tasks. */
  private def stored(s: SparkSession, skelDir: String) = {
    import s.implicits._
    // streamed listing (no O(objects) driver Seq — VERDICT r18 item 7)
    // + open-cost-aware sizing; skeleton files are KB-scale (guide §6)
    graft.sources.ShardedIO.readLabeled(graft.sources.ScanSizing
      .listedNames(s, Paths.get(skelDir), _.matches("\\d+"), 4096L)
      .map(_.toLong), skelDir, None)
  }

  /** Scan + decode all skeleton files -> (segid, skeleton struct
    * columns).
    */
  private def decoded(s: SparkSession, skelDir: String = SkelDir)
      : DataFrame = {
    import s.implicits._
    stored(s, skelDir).map { case (segid, bin) =>
      val sk = SkeletonCodec.decode(bin)
      (segid, sk.vertices, sk.edges, sk.radii, sk.vertexTypes.map(_.toLong))
    }.toDF("segid", "verts", "edges", "radii", "vtypes")
  }

  // Sharded skeleton container (skeleton/sharded.py:38-71): the same
  // uint64-sharded file format images use, keyed by segid. Built from
  // the unsharded fixture files.
  val ShardedDir = s"$Root/skeletons_sharded"
  val skelShardSpec: ShardingSpec = ShardingSpec(
    preshiftBits = 0, minishardBits = 2, shardBits = 1,
    hashName = "murmurhash3_x86_128",
    minishardIndexEncoding = "gzip", dataEncoding = "gzip")

  def ensureSharded(s: SparkSession, sfDir: String): Unit = synchronized {
    ensure(s, sfDir)
    // rebuild when the unsharded source rebuilt
    Fixtures.guard(s"$Root/.built_sharded_from", stamp,
        wipe = Seq(ShardedDir)) {
      // skeleton binaries into shard files keyed by segid (S12 shuffle
      // shape, non-image payloads)
      graft.sources.ShardedIO.writeLabeled(stored(s, SkelDir)
        .toDF("label", "payload"), ShardedDir, Some(skelShardSpec))
    }
  }

  val queries: Map[String, Q] = Map(

    // Sharded skeleton fetch: segid -> shard file -> minishard index
    // -> byte range -> decode; output matches the unsharded derivation
    "skel_sharded_decode" -> Q(
      (s, dir) => {
        ensureSharded(s, dir)
        import s.implicits._
        // one task per shard, index + coalesced byte-range reads
        // (skeleton/sharded.py via ShardReader) — not a whole-file read
        // per segid
        graft.sources.ShardedIO.readLabeled(s.createDataset(0L until NSeg),
            ShardedDir, Some(skelShardSpec))
          .flatMap { case (segid, bin) =>
            val sk = SkeletonCodec.decode(bin)
            (0 until sk.nv).map { i =>
              (segid, i.toLong, sk.vertices(3 * i).toLong,
                sk.vertices(3 * i + 1).toLong,
                sk.vertices(3 * i + 2).toLong, sk.radii(i).toLong)
            }
          }.toDF("segid", "vid", "x", "y", "z", "radius")
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z, radius FROM g""".stripMargin)),

    // Skeleton binary decode: vertices + both default vertex
    // attributes (f32 radius, u8 vertex_types —
    // skeleton/metadata.py:117-140) round-trip
    "skel_decode" -> Q(
      (s, dir) => {
        ensure(s, dir)
        // Array params, NOT Seq: Spark 4 / Scala 2.13 deserializes a
        // Seq[Float] UDF argument as a List, so every vs(3*i) below
        // would be O(nv) and the loop O(nv^2) per skeleton — the r17
        // full-suite sf1 slope run caught exactly this (skel_decode
        // 20x on 10x data). Array args arrive as primitive arrays.
        val vertRows = udf((vs: Array[Float], rs: Array[Float],
            ts: Array[Long]) =>
          rs.indices.map(i => (i.toLong, vs(3 * i).toLong,
            vs(3 * i + 1).toLong, vs(3 * i + 2).toLong, rs(i).toLong,
            ts(i))))
        decoded(s)
          .select(col("segid"),
            explode(vertRows(col("verts"), col("radii"), col("vtypes")))
              .as("v"))
          .select(col("segid"), col("v._1").as("vid"), col("v._2").as("x"),
            col("v._3").as("y"), col("v._4").as("z"),
            col("v._5").as("radius"), col("v._6").as("vtype"))
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z, radius, vtype FROM g""".stripMargin)),

    // Skeleton write roundtrip: engine-encode + write one precomputed
    // skeleton file per segid into a FRESH target at query time, then
    // decode them back — gates the skeleton write path at query time
    // like the s18 format and p8i annotation roundtrips (the cached
    // fixture only proves the writer that built it once)
    "skel_write_roundtrip" -> Q(
      (s, dir) => SkeletonQueries.synchronized {
        val target = s"$Root/rt_skels"
        Fixtures.rmTree(target)
        writeSkeletons(s, dir, target)
        // Array params, NOT Seq: Spark 4 / Scala 2.13 deserializes a
        // Seq[Float] UDF argument as a List, so every vs(3*i) below
        // would be O(nv) and the loop O(nv^2) per skeleton — the r17
        // full-suite sf1 slope run caught exactly this (skel_decode
        // 20x on 10x data). Array args arrive as primitive arrays.
        val vertRows = udf((vs: Array[Float], rs: Array[Float],
            ts: Array[Long]) =>
          rs.indices.map(i => (i.toLong, vs(3 * i).toLong,
            vs(3 * i + 1).toLong, vs(3 * i + 2).toLong, rs(i).toLong,
            ts(i))))
        decoded(s, target)
          .select(col("segid"),
            explode(vertRows(col("verts"), col("radii"), col("vtypes")))
              .as("v"))
          .select(col("segid"), col("v._1").as("vid"), col("v._2").as("x"),
            col("v._3").as("y"), col("v._4").as("z"),
            col("v._5").as("radius"), col("v._6").as("vtype"))
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z, radius, vtype FROM g""".stripMargin)),

    // SWC text roundtrip (public SWC format, Cannon et al. 1998; the
    // reference's Skeleton.to_swc/from_swc surface via osteoid —
    // skeleton.py:1, test/test_skeletons.py:461-527): every decoded
    // skeleton exports to SWC text and re-imports, and the re-imported
    // vertices must reproduce the skel_decode oracle exactly. The
    // export re-roots the undirected edge list depth-first from each
    // component's lowest vertex, so the chain fixture preserves vertex
    // order; parse happens in the same executor task (narrow map, no
    // shuffle added over skel_decode).
    "skel_swc_roundtrip" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val swcRows = udf((vs: Array[Float], es: Array[Int],
            rs: Array[Float], ts: Array[Long]) => {
          val sk = SkeletonCodec.Skeleton(vs, es, rs, ts.map(_.toByte))
          val back = SkeletonCodec.fromSwc(SkeletonCodec.toSwc(sk))
          require(back.ne == sk.ne, s"SWC edge count ${back.ne} != ${sk.ne}")
          back.radii.indices.map(i => (i.toLong,
            back.vertices(3 * i).toLong, back.vertices(3 * i + 1).toLong,
            back.vertices(3 * i + 2).toLong, back.radii(i).toLong,
            (back.vertexTypes(i) & 0xff).toLong))
        })
        decoded(s)
          .select(col("segid"),
            explode(swcRows(col("verts"), col("edges"), col("radii"),
              col("vtypes"))).as("v"))
          .select(col("segid"), col("v._1").as("vid"), col("v._2").as("x"),
            col("v._3").as("y"), col("v._4").as("z"),
            col("v._5").as("radius"), col("v._6").as("vtype"))
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z, radius, vtype FROM g""".stripMargin)),

    // Skeleton path-downsample (reference Skeleton.downsample via
    // osteoid — vectors test/test_skeletons.py:350-456): each
    // branch-free path keeps every 2nd vertex from its start plus its
    // endpoints, so terminals and branch points always survive.
    // Narrow per-skeleton map over the decode scan — the chain fixture
    // keeps vid % 2 == 0 and the chain tail, which is what the oracle
    // replays relationally.
    "skel_downsample" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val dsRows = udf((vs: Array[Float], es: Array[Int],
            rs: Array[Float], ts: Array[Long]) => {
          val sk = SkeletonCodec.Skeleton(vs, es, rs, ts.map(_.toByte))
          val d = SkeletonCodec.downsample(sk, 2)
          d.radii.indices.map(i => (i.toLong,
            d.vertices(3 * i).toLong, d.vertices(3 * i + 1).toLong,
            d.vertices(3 * i + 2).toLong, d.radii(i).toLong,
            (d.vertexTypes(i) & 0xff).toLong))
        })
        decoded(s)
          .select(col("segid"),
            explode(dsRows(col("verts"), col("edges"), col("radii"),
              col("vtypes"))).as("v"))
          .select(col("segid"), col("v._1").as("vid"), col("v._2").as("x"),
            col("v._3").as("y"), col("v._4").as("z"),
            col("v._5").as("radius"), col("v._6").as("vtype"))
      },
      Some(s"""WITH $VertCte,
        |n AS (SELECT segid, max(vid) AS mx FROM g GROUP BY segid),
        |k AS (SELECT g.segid, g.vid, g.x, g.y, g.z, g.radius, g.vtype
        |      FROM g JOIN n ON g.segid = n.segid
        |      WHERE g.vid % 2 = 0 OR g.vid = n.mx),
        |r AS (SELECT segid, row_number() OVER (
        |        PARTITION BY segid ORDER BY vid) - 1 AS nvid,
        |        x, y, z, radius, vtype FROM k)
        |SELECT segid, nvid AS vid, x, y, z, radius, vtype
        |FROM r""".stripMargin)),

    // Skeleton connected components (reference Skeleton.components,
    // test/test_skeletons.py:561-585) over genuinely multi-component
    // skeletons: the merge grouping's 3 disconnected chain fragments
    // per merged id. Fragments concatenate with vertex offsets (the
    // skel_merge shape), then split back into components ordered by
    // lowest vertex index — which is fragment order by segid, the
    // relational replay the oracle runs.
    "skel_components" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val compRows = udf((frags: Seq[Row]) => {
          val sorted = frags.sortBy(_.getLong(0))
          val verts = Array.newBuilder[Float]
          val edges = Array.newBuilder[Int]
          val radii = Array.newBuilder[Float]
          val vtypes = Array.newBuilder[Byte]
          var off = 0
          sorted.foreach { r =>
            val vs = r.getSeq[Float](1); val es = r.getSeq[Int](2)
            verts ++= vs
            es.foreach(e => edges += off + e)
            radii ++= r.getSeq[Float](3)
            vtypes ++= r.getSeq[Long](4).map(_.toByte)
            off += vs.length / 3
          }
          val merged = SkeletonCodec.Skeleton(verts.result(),
            edges.result(), radii.result(), vtypes.result())
          SkeletonCodec.components(merged).zipWithIndex.map {
            case (c, i) => (i.toLong, c.nv.toLong, c.ne.toLong)
          }
        })
        decoded(s)
          .groupBy((col("segid") % 10).as("mid"))
          .agg(collect_list(struct(col("segid"), col("verts"),
            col("edges"), col("radii"), col("vtypes"))).as("frags"))
          .select(col("mid"), explode(compRows(col("frags"))).as("c"))
          .select(col("mid"), col("c._1").as("cid"), col("c._2").as("nv"),
            col("c._3").as("ne"))
      },
      Some(s"""WITH $VertCte,
        |cnt AS (SELECT segid, segid % 10 AS mid, count(*) AS nv
        |        FROM g GROUP BY segid),
        |r AS (SELECT mid, row_number() OVER (
        |        PARTITION BY mid ORDER BY segid) - 1 AS cid, nv
        |      FROM cnt)
        |SELECT mid, cid, CAST(nv AS BIGINT) AS nv,
        |       CAST(nv - 1 AS BIGINT) AS ne FROM r""".stripMargin)),

    // Skeleton PRUNE (skeleton.py remove_disconnected_vertices,
    // test_skeletons.py:240): vertices referenced by no edge drop,
    // survivors keep their order, edges renumber through the
    // order-preserving map. Each decoded fragment gets a synthetic
    // isolated vertex INSERTED mid-array (position (segid*7) % (nv+1))
    // with edge indices shifted — the prune must restore the original
    // chain exactly, so the oracle is the untouched edge table. Narrow
    // per-fragment map; no shuffle.
    "skel_prune_disconnected" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val pruneRows = udf((vs: Array[Float], es: Array[Int],
            segid: Long) => {
          val nv = vs.length / 3
          val p = ((segid * 7) % (nv + 1)).toInt
          val vs2 = vs.take(3 * p) ++ Array(9999f, 9999f, 9999f) ++
            vs.drop(3 * p)
          val es2 = es.map(e => if (e >= p) e + 1 else e)
          val pruned = SkeletonCodec.removeDisconnected(
            SkeletonCodec.Skeleton(vs2, es2,
              new Array[Float](nv + 1), new Array[Byte](nv + 1)))
          (0 until pruned.ne).map { i =>
            (i.toLong, pruned.edges(2 * i).toLong,
              pruned.edges(2 * i + 1).toLong)
          }
        })
        decoded(s)
          .select(col("segid"),
            explode(pruneRows(col("verts"), col("edges"), col("segid")))
              .as("e"))
          .select(col("segid"), col("e._1").as("eid"),
            col("e._2").as("va"), col("e._3").as("vb"))
      },
      Some(s"""WITH $VertCte,
        |n AS (SELECT segid, count(*) AS nv FROM g GROUP BY segid)
        |SELECT g.segid, CAST(g.vid AS BIGINT) AS eid,
        |       CAST(g.vid AS BIGINT) AS va, CAST(g.vid + 1 AS BIGINT) AS vb
        |FROM g JOIN n ON n.segid = g.segid
        |WHERE g.vid < n.nv - 1""".stripMargin)),

    // Skeleton edges + per-skeleton cable metric: edge list decode and
    // the sum of squared segment lengths (integer-exact across
    // engines; the reference's cable_length is the sqrt-sum analog)
    "skel_cable" -> Q(
      (s, dir) => {
        ensure(s, dir)
        // Array args (see skel_decode): indexed access on a List-backed
        // Seq made this O(ne^2) per skeleton — 31x on 10x data at sf1
        val edgeRows = udf((vs: Array[Float], es: Array[Int]) =>
          (0 until es.length / 2).map { i =>
            val a = es(2 * i); val b = es(2 * i + 1)
            val dx = (vs(3 * a) - vs(3 * b)).toLong
            val dy = (vs(3 * a + 1) - vs(3 * b + 1)).toLong
            val dz = (vs(3 * a + 2) - vs(3 * b + 2)).toLong
            (i.toLong, a.toLong, b.toLong, dx * dx + dy * dy + dz * dz)
          })
        decoded(s)
          .select(col("segid"),
            explode(edgeRows(col("verts"), col("edges"))).as("e"))
          .groupBy("segid")
          .agg(count(lit(1)).as("n_edges"),
            sum(col("e._4")).as("cable_len2"))
      },
      Some(s"""WITH $VertCte,
        |e AS (SELECT a.segid,
        |        (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |          + (a.z - b.z) * (a.z - b.z) AS len2
        |      FROM g a JOIN g b
        |        ON a.segid = b.segid AND b.vid = a.vid + 1)
        |SELECT segid, count(*) AS n_edges,
        |       CAST(sum(len2) AS BIGINT) AS cable_len2
        |FROM e GROUP BY segid""".stripMargin)),

    // Skeleton fragment MERGE (skeleton.py Skeleton.merge /
    // consolidate — the multi-fragment assembly the sharded fetch
    // feeds): fragments concatenate in fragment order and every edge
    // index shifts by the cumulative vertex count of the fragments
    // before it. Here the 30 per-segid files act as fragments of 10
    // merged skeletons (segid % 10). The offset window partitions by
    // merged id — millions of small partitions at scale, the same
    // shape as mesh consolidate's reindex, never a global window.
    "skel_merge" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val w = Window.partitionBy("mid").orderBy("segid")
        val withOff = decoded(s)
          .select((col("segid") % 10).as("mid"), col("segid"),
            col("edges"), size(col("radii")).cast("long").as("nv"))
          .withColumn("off", coalesce(sum(col("nv")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val edgeRows = udf((es: Array[Int], off: Long) =>
          (0 until es.length / 2).map(i =>
            (off + es(2 * i), off + es(2 * i + 1))))
        withOff
          .select(col("mid"), explode(edgeRows(col("edges"), col("off"))).as("e"))
          .select(col("mid"), col("e._1").as("va"), col("e._2").as("vb"))
      },
      Some(s"""WITH $VertCte,
        |cnt AS (SELECT segid, count(*) AS nv FROM g GROUP BY segid),
        |off AS (SELECT segid, segid % 10 AS mid,
        |          CAST(coalesce(sum(nv) OVER (PARTITION BY segid % 10
        |            ORDER BY segid ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND 1 PRECEDING), 0) AS BIGINT) AS off
        |        FROM cnt),
        |e AS (SELECT o.mid, o.off + a.vid AS va, o.off + b.vid AS vb
        |      FROM g a JOIN g b ON a.segid = b.segid AND b.vid = a.vid + 1
        |      JOIN off o ON o.segid = a.segid)
        |SELECT mid, va, vb FROM e""".stripMargin)),

    // Skeleton CROP (osteoid Skeleton.crop, reached through
    // cloud-volume's skeleton frontend): vertices outside the bbox
    // are removed, every edge touching a removed vertex is dropped,
    // and surviving vertex ids COMPACT (renumber by original order).
    // The renumber is a per-segid window (millions of small
    // partitions at scale, like skel_merge's offset window), and the
    // edge remap is two co-keyed joins on (segid, vid) — broadcast-
    // free, partitioned by skeleton.
    "skel_crop" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val vertRows = udf((vs: Array[Float]) =>
          (0 until vs.length / 3).map(i =>
            (i.toLong, vs(3 * i).toLong, vs(3 * i + 1).toLong,
              vs(3 * i + 2).toLong)))
        val edgeRows = udf((es: Array[Int]) =>
          (0 until es.length / 2).map(i =>
            (es(2 * i).toLong, es(2 * i + 1).toLong)))
        val d = decoded(s).localCheckpoint() // feeds verts AND edges
        val kept = d
          .select(col("segid"), explode(vertRows(col("verts"))).as("v"))
          .select(col("segid"), col("v._1").as("vid"), col("v._2").as("x"),
            col("v._3").as("y"), col("v._4").as("z"))
          .filter(col("x") >= 5 && col("x") < 30 &&
            col("y") >= 4 && col("y") < 32 && col("z") >= 2 && col("z") < 16)
          .withColumn("nvid", row_number().over(
            Window.partitionBy("segid").orderBy("vid")).cast("long") - 1)
        val edges = d
          .select(col("segid"), explode(edgeRows(col("edges"))).as("e"))
          .select(col("segid"), col("e._1").as("a"), col("e._2").as("b"))
        edges
          .join(kept.select(col("segid"), col("vid").as("a"),
            col("nvid").as("na")), Seq("segid", "a"))
          .join(kept.select(col("segid"), col("vid").as("b"),
            col("nvid").as("nb")), Seq("segid", "b"))
          .select(col("segid"), col("na"), col("nb"))
      },
      Some(s"""WITH $VertCte,
        |kept AS (SELECT segid, vid, row_number() OVER (
        |           PARTITION BY segid ORDER BY vid) - 1 AS nvid
        |         FROM g WHERE x >= 5 AND x < 30 AND y >= 4 AND y < 32
        |           AND z >= 2 AND z < 16)
        |SELECT a.segid, ka.nvid AS na, kb.nvid AS nb
        |FROM g a JOIN g b ON a.segid = b.segid AND b.vid = a.vid + 1
        |JOIN kept ka ON ka.segid = a.segid AND ka.vid = a.vid
        |JOIN kept kb ON kb.segid = b.segid AND kb.vid = b.vid""".stripMargin)),

    // Skeleton affine TRANSFORM (datasource/precomputed/skeleton/
    // metadata.py:72-77 — the 3x4 `transform` field applied to
    // vertex positions when a layer's physical space differs from
    // voxel space). Integer-diagonal affine (scale 2,3,4 + translate
    // 7,-5,11) keeps both engines exact. Pure narrow map over the
    // decoded vertex stream — no shuffle at all.
    "skel_transform" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val vertRows = udf((vs: Array[Float], rs: Array[Float]) =>
          (0 until vs.length / 3).map(i =>
            (i.toLong, vs(3 * i).toLong, vs(3 * i + 1).toLong,
              vs(3 * i + 2).toLong, rs(i).toLong)))
        decoded(s)
          .select(col("segid"),
            explode(vertRows(col("verts"), col("radii"))).as("v"))
          .select(col("segid"), col("v._1").as("vid"),
            (col("v._2") * 2 + 7).as("tx"),
            (col("v._3") * 3 - 5).as("ty"),
            (col("v._4") * 4 + 11).as("tz"),
            col("v._5").as("radius"))
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x * 2 + 7 AS tx, y * 3 - 5 AS ty,
        |       z * 4 + 11 AS tz, radius
        |FROM g""".stripMargin)),

    // Terminals + branch points (osteoid Skeleton.terminals /
    // .branches — the reference's Skeleton delegates to osteoid,
    // skeleton.py:1): degree classification over a BRANCHED topology.
    // The chain fixture has no branches, so this entry builds a
    // binary-tree skeleton per segid (edge vid -> vid div 2), runs it
    // through the REAL precomputed codec (encode -> decode in the
    // task — non-chain edge lists through the wire format), and
    // classifies decoded vertices by degree: 1 = terminal, >= 3 =
    // branch point. The oracle replays the tree arithmetic
    // relationally. Per-skeleton work stays task-local; the vertex
    // stream out is a narrow flatMap.
    "skel_terminals" -> Q(
      (s, dir) => {
        import s.implicits._
        baseVertices(s, dir)
          .groupBy("segid")
          .agg(sort_array(collect_list(struct(col("ck"), col("x"),
            col("y"), col("z"), col("radius"), col("vtype")))).as("vs"))
          .as[(Long, Seq[(Long, Long, Long, Long, Long, Long)])]
          .flatMap { case (segid, vs) =>
            val n = vs.length
            val verts = new Array[Float](3 * n)
            val radii = new Array[Float](n)
            val vtypes = new Array[Byte](n)
            vs.zipWithIndex.foreach { case ((_, x, y, z, r, t), i) =>
              verts(3 * i) = x.toFloat
              verts(3 * i + 1) = y.toFloat
              verts(3 * i + 2) = z.toFloat
              radii(i) = r.toFloat
              vtypes(i) = t.toByte
            }
            val edges = new Array[Int](2 * math.max(n - 1, 0))
            (1 until n).foreach { i =>
              edges(2 * (i - 1)) = i
              edges(2 * (i - 1) + 1) = i / 2
            }
            val sk = SkeletonCodec.decode(SkeletonCodec.encode(
              SkeletonCodec.Skeleton(verts, edges, radii, vtypes)))
            val degree = new Array[Long](n)
            var i = 0
            while (i < sk.edges.length) {
              degree(sk.edges(i)) += 1; i += 1
            }
            (0 until n).map(v => (segid, v.toLong, degree(v)))
          }
          .toDF("segid", "vid", "degree")
          .select(col("segid"), col("vid"), col("degree"),
            (col("degree") === 1).cast("long").as("is_terminal"),
            (col("degree") >= 3).cast("long").as("is_branch"))
      },
      Some(s"""WITH $VertCte,
        |ed AS (SELECT segid, vid AS a, vid // 2 AS b
        |       FROM g WHERE vid >= 1),
        |touch AS (SELECT segid, a AS v FROM ed
        |          UNION ALL SELECT segid, b AS v FROM ed),
        |degs AS (SELECT segid, v AS vid, CAST(count(*) AS BIGINT)
        |           AS degree
        |         FROM touch GROUP BY 1, 2)
        |SELECT g.segid, CAST(g.vid AS BIGINT) AS vid,
        |  coalesce(d.degree, 0) AS degree,
        |  CAST(CASE WHEN coalesce(d.degree, 0) = 1 THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_terminal,
        |  CAST(CASE WHEN coalesce(d.degree, 0) >= 3 THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_branch
        |FROM g LEFT JOIN degs d ON d.segid = g.segid
        |  AND d.vid = g.vid""".stripMargin)),
  )
}
