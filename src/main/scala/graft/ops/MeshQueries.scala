package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.core.MeshCodec.MeshFragment

/** Mesh pipeline over REAL precomputed mesh binaries on disk
  * (F16/F17/A6/P9/W5/O3).
  *
  * Fixture: ~40 meshes deterministically derived from the `part`
  * table, each split into two fragments, encoded with the precomputed
  * binary codec (mesh.py:174-230) and written as real fragment files
  * plus a `<segid>:0` manifest JSON (mesh/unsharded.py:66-85) and a
  * multires `.index` manifest binary (mesh/multilod.py:327-466). The
  * DuckDB oracle re-derives every expected row straight from `part` —
  * fully independent of the writer — so a green row proves the whole
  * encode → file → scan → decode pipeline plus the relational algebra.
  *
  * Scale shape: fragment files scan as independent binaryFile tasks
  * (one row per object — at 100 TB this is the same listing-partitioned
  * scan Spark uses for any object store); all windows partition by
  * segid (mesh-sized groups, no global window); the vertex-dedup and
  * face-remap joins shuffle on (segid, position)/(segid, vid) keys.
  */
object MeshQueries {
  import Derived.{table, idiv}

  val Root = "/tmp/graft_fixture/mesh"
  val MeshDir = s"$Root/mesh"
  val MultiresDir = s"$Root/multires"
  val MultiresShardedDir = s"$Root/multires_sharded"

  private val NSeg = 40L

  /** Sharded multires mesh container (mesh/multilod.py:188-196):
    * segid-keyed; raw data encoding is REQUIRED — the fragment bytes
    * live in the same file at offsets computed from the manifest's
    * record offset, which gzip'd records would break.
    */
  val meshShardSpec: ShardingSpec = ShardingSpec(
    preshiftBits = 0, minishardBits = 2, shardBits = 1,
    hashName = "identity",
    minishardIndexEncoding = "gzip", dataEncoding = "raw")

  /** Synthesize the sharded multires container from the unsharded
    * multires fixture: per segid the fragment blob is the PREAMBLE
    * and the manifest is the indexed record — the reference layout
    * where `manifest_byte_start = shard_offset - total_fragment_size`
    * (multilod.py:282-284).
    */
  def ensureMultiresSharded(s: SparkSession, sfDir: String): Unit =
    synchronized {
      ensure(s, sfDir)
      Fixtures.guard(s"$Root/.built_multires_sharded_from",
          s"${Fixtures.srcStamp(sfDir)}|v3|meshsh-v1",
          wipe = Seq(MultiresShardedDir)) {
        Files.createDirectories(Paths.get(MultiresShardedDir))
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val spec = meshShardSpec
        val mrDir = MultiresDir
        val outDir = MultiresShardedDir
        val segids = Files.list(Paths.get(mrDir)).iterator.asScala
          .map(_.getFileName.toString).filter(_.endsWith(".index"))
          .map(_.stripSuffix(".index").toLong).toSeq.sorted
        segids.toDS()
          .groupByKey(segid => spec.shardLocation(segid)._1)
          .mapGroups { (shard, it) =>
            val items = it.map { segid =>
              (segid,
                Files.readAllBytes(Paths.get(mrDir, s"$segid.blob")),
                Files.readAllBytes(Paths.get(mrDir, s"$segid.index")))
            }.toSeq
            (shard, ShardCodec.synthesizeShardWithPreambles(spec, items))
          }
          .foreach { t: (Long, Array[Byte]) =>
            graft.sources.ChunkLayout.put(
              Paths.get(outDir, spec.shardFilename(t._1)), t._2)
          }
      }
    }

  /** Vertex derivation (mirrored verbatim in the oracle CTEs): one
    * vertex per part row; coarse coordinates so positions repeat and
    * A6 dedup has real work.
    */
  private def baseVertices(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(
      col("p_partkey").cast("long").as("pk"),
      (col("p_partkey") % NSeg).cast("long").as("segid"),
      (idiv(col("p_partkey"), NSeg) % 2).cast("long").as("frag"),
      (col("p_partkey") % 7).cast("long").as("x"),
      (idiv(col("p_partkey"), 7) % 6).cast("long").as("y"),
      (idiv(col("p_partkey"), 42) % 5).cast("long").as("z"))

  private val VertCte =
    """v AS (
      |  SELECT p_partkey AS pk, p_partkey % 40 AS segid,
      |         (p_partkey // 40) % 2 AS frag,
      |         p_partkey % 7 AS x, (p_partkey // 7) % 6 AS y,
      |         (p_partkey // 42) % 5 AS z
      |  FROM part),
      |g AS (SELECT *, row_number() OVER (
      |        PARTITION BY segid ORDER BY frag, pk) - 1 AS vid FROM v)""".stripMargin

  /** Global face table CTE: per-fragment chained faces (i, i+1, i+2)
    * with concatenation offsets (mesh.py:129-146) in sorted fragment
    * order (O3, mesh/unsharded.py:99).
    */
  private val FaceCte = VertCte +
    """,
      |c AS (SELECT segid, frag, count(*) AS n FROM v GROUP BY segid, frag),
      |o AS (SELECT segid, frag, n,
      |        CAST(coalesce(sum(n) OVER (PARTITION BY segid ORDER BY frag
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |          AS off
      |      FROM c),
      |fl AS (SELECT segid, frag, off,
      |         unnest(range(0, greatest(n - 2, 0))) AS i FROM o),
      |f AS (SELECT segid, frag, i, off + i AS v0, off + i + 1 AS v1,
      |        off + i + 2 AS v2,
      |        row_number() OVER (PARTITION BY segid ORDER BY frag, i) - 1 AS fid
      |      FROM fl)""".stripMargin

  /** Write mesh fragment binaries + manifests if not yet built for
    * this sf (marker-keyed, same pattern as RealLayerQueries.ensure).
    */
  def ensure(s: SparkSession, sfDir: String): Unit = synchronized {
    // v3: executor-side manifest/blob assembly
    Fixtures.guard(s"$Root/.built_from", s"${Fixtures.srcStamp(sfDir)}|v3",
        wipe = Seq(Root)) {
      Files.createDirectories(Paths.get(MeshDir))
      Files.createDirectories(Paths.get(MultiresDir))
      import s.implicits._
      val meshDirStr = MeshDir
      val frags = baseVertices(s, sfDir)
        .groupBy("segid", "frag")
        .agg(sort_array(collect_list(struct(col("pk"), col("x"), col("y"),
          col("z")))).as("vs"))
        .as[(Long, Long, Seq[(Long, Long, Long, Long)])]
        .map { case (segid, frag, vs) =>
          val verts = new Array[Float](3 * vs.length)
          vs.zipWithIndex.foreach { case ((_, x, y, z), i) =>
            verts(3 * i) = x.toFloat
            verts(3 * i + 1) = y.toFloat
            verts(3 * i + 2) = z.toFloat
          }
          val nf = math.max(vs.length - 2, 0)
          val faces = new Array[Int](3 * nf)
          (0 until nf).foreach { i =>
            faces(3 * i) = i; faces(3 * i + 1) = i + 1; faces(3 * i + 2) = i + 2
          }
          (segid, frag, MeshCodec.encode(MeshFragment(verts, faces)), vs.length.toLong)
        }.toDF("segid", "frag", "binary", "nv").cache()
      // fragment files written executor-side (tasks replace the
      // reference's upload thread pool, tx-style)
      frags.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          val name = s"${r.getLong(0)}:0:${r.getLong(1)}"
          Files.write(Paths.get(meshDirStr, name), r.getAs[Array[Byte]](2))
        }
      }
      // manifests + multires blobs are per-segid manifest-sized payloads
      // assembled executor-side from the in-hand fragment bytes (one
      // groupBy(segid) shuffle, then foreachPartition) — no per-segid
      // driver loop and no fragment-file re-reads, so at scale the
      // driver only coordinates tasks.
      val multiresDirStr = MultiresDir
      frags
        .groupBy("segid")
        .agg(collect_list(struct(col("frag"), col("binary"), col("nv")))
          .as("fs"))
        .as[(Long, Seq[(Long, Array[Byte], Long)])]
        .foreachPartition {
          it: Iterator[(Long, Seq[(Long, Array[Byte], Long)])] =>
          it.foreach { case (segid, fs) =>
            val sorted = fs.sortBy(_._1)
            // manifest JSON {"fragments": [...]} (mesh/unsharded.py:66-85)
            val names = sorted.map(f => s""""$segid:0:${f._1}"""").mkString(",")
            Files.writeString(Paths.get(meshDirStr, s"$segid:0"),
              s"""{"fragments":[$names]}""")
            // multires manifest: lod0 = the real fragments, lod1 = one
            // synthetic coarse fragment whose size is the vertex section
            // of a merged mesh (deterministic in SQL)
            val lod1Bytes = 4 + 12 * sorted.map(_._3).sum
            val m = MeshCodec.MultiresManifest(
              chunkShape = Array(7f, 6f, 5f),
              gridOrigin = Array(0f, 0f, 0f),
              lodScales = Array(1f, 2f),
              vertexOffsets = Array.fill(6)(0f),
              fragmentPositions = Seq(
                sorted.flatMap(f =>
                  Array(f._1.toInt, (segid % 3).toInt, 0)).toArray,
                Array(0, (segid % 3).toInt, 1)),
              fragmentOffsets = Seq(
                sorted.map(_._2.length).toArray,
                Array(lod1Bytes.toInt)))
            Files.write(Paths.get(multiresDirStr, s"$segid.index"),
              MeshCodec.encodeManifest(m))
            // the concatenated fragment blob the manifest's running
            // offsets index into (multilod.py:276-289): lod0 fragments in
            // order, then the lod1 coarse fragment (vertices, no faces)
            val lod0 = sorted.flatMap(_._2)
            val allVerts = sorted.flatMap(f => MeshCodec.decode(f._2).vertices)
            val lod1 = MeshCodec.encode(MeshFragment(allVerts.toArray, Array.empty))
            require(lod1.length == lod1Bytes,
              s"lod1 fragment ${lod1.length}B != manifest $lod1Bytes")
            Files.write(Paths.get(multiresDirStr, s"$segid.blob"),
              (lod0 ++ lod1).toArray)
          }
        }
      frags.unpersist()
    }
  }

  // ---- decode helpers (shared by all queries) ----

  private val decodeUdf = udf((b: Array[Byte]) => {
    val m = MeshCodec.decode(b)
    (m.vertices, m.faces)
  })

  /** Scan fragment files -> (segid, frag, verts, faces, nv, off) with
    * the concatenation offset from a per-segid window over fragments
    * in sorted-filename order (O3).
    *
    * Listing is metadata-sized and driver-side (the object-store
    * listing API at scale); the byte reads + decode run in executor
    * tasks. Hadoop's binaryFile source rejects the reference's
    * colon-bearing fragment names ("<segid>:0:<frag>"), so the read is
    * a plain task-side file read — the same IO the DSv2 chunk source
    * does.
    */
  private def fragmentRows(s: SparkSession): DataFrame = {
    import s.implicits._
    val meshDirStr = MeshDir
    // streamed listing (no O(objects) driver Seq) + open-cost sizing —
    // the draco decode is real work, so per-fragment est bytes keep the
    // task count at the parallelism cap at bench scale
    val files = graft.sources.ScanSizing
      .listedNames(s, Paths.get(MeshDir), _.matches("\\d+:0:\\d+"), 16384L)
      .map { n =>
        val parts = n.split(":")
        (parts(0).toLong, parts(2).toLong,
          Files.readAllBytes(Paths.get(meshDirStr, n)))
      }.toDF("segid", "frag", "content")
      .select(col("segid"), col("frag"), decodeUdf(col("content")).as("m"))
      .select(col("segid"), col("frag"),
        col("m._1").as("verts"), col("m._2").as("faces"))
      .withColumn("nv", (size(col("verts")) / 3).cast("long"))
    val w = Window.partitionBy("segid").orderBy("frag")
      .rowsBetween(Window.unboundedPreceding, -1)
    files.withColumn("off", coalesce(sum(col("nv")).over(w), lit(0L)))
  }

  // Array params (r17, UdfSeqAuditSpec): a Seq arg deserializes as
  // List — grouped(3) iterates sequentially so these were linear, but
  // every element paid List-cons boxing on the mesh hot path
  private val vertRowsUdf = udf((vs: Array[Float]) =>
    vs.grouped(3).zipWithIndex.map { case (v, i) =>
      (i.toLong, v(0).toLong, v(1).toLong, v(2).toLong)
    }.toSeq)

  private val faceRowsUdf = udf((fs: Array[Int]) =>
    fs.grouped(3).zipWithIndex.map { case (f, i) =>
      (i.toLong, f(0).toLong, f(1).toLong, f(2).toLong)
    }.toSeq)

  /** Decoded global vertex table (segid, vid, x, y, z). */
  def globalVertices(s: SparkSession): DataFrame = verticesOf(fragmentRows(s))

  private def verticesOf(fr: DataFrame): DataFrame =
    fr.select(col("segid"), col("off"),
        explode(vertRowsUdf(col("verts"))).as("v"))
      .select(col("segid"), (col("off") + col("v._1")).as("vid"),
        col("v._2").as("x"), col("v._3").as("y"), col("v._4").as("z"))

  /** Decoded global face table (segid, fid, v0, v1, v2) with
    * concatenation index offsets applied (mesh.py:129-146).
    */
  def globalFaces(s: SparkSession): DataFrame = facesOf(fragmentRows(s))

  private def facesOf(fr: DataFrame): DataFrame =
    fr.select(col("segid"), col("frag"), col("off"),
        explode(faceRowsUdf(col("faces"))).as("f"))
      .withColumn("fid", (row_number().over(
        Window.partitionBy("segid").orderBy("frag", "f._1")) - 1).cast("long"))
      .select(col("segid"), col("fid"),
        (col("off") + col("f._2")).as("v0"),
        (col("off") + col("f._3")).as("v1"),
        (col("off") + col("f._4")).as("v2"))

  val queries: Map[String, Q] = Map(

    // F16: precomputed mesh binary decode + fragment concatenation —
    // real fragment files scanned and decoded, vertices re-indexed
    // into the concatenated mesh (mesh.py:174-206,129-146)
    "f16_mesh_decode" -> Q(
      (s, dir) => { ensure(s, dir); globalVertices(s) },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z FROM g""".stripMargin)),

    // F16 export: the reference's OBJ serialization (mesh.py:277-283
    // to_obj — 5-decimal vertex lines, 1-indexed face lines) of each
    // segid's concatenated mesh; one row per emitted line so the
    // DuckDB oracle replays the exact text with printf. PLY export
    // (to_ply) is binary — MeshSpec parses it back instead.
    "f16b_mesh_obj_export" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        fragmentRows(s)
          .select(col("segid"), col("frag"), col("verts"), col("faces"))
          .as[(Long, Long, Seq[Float], Seq[Int])]
          .groupByKey(_._1)
          .flatMapGroups { (segid: Long,
              it: Iterator[(Long, Long, Seq[Float], Seq[Int])]) =>
            val frags = it.toSeq.sortBy(_._2)
            val verts = Array.newBuilder[Float]
            val faces = Array.newBuilder[Int]
            var off = 0
            frags.foreach { case (_, _, vs, fs) =>
              verts ++= vs
              fs.foreach(f => faces += f + off)
              off += vs.length / 3
            }
            val obj = new String(graft.core.MeshCodec.toObj(
              graft.core.MeshCodec.MeshFragment(
                verts.result(), faces.result())), "UTF-8")
            obj.split("\n").zipWithIndex.map { case (l, i) =>
              (segid, i.toLong, l)
            }
          }.toDF("segid", "line_no", "line")
      },
      Some(s"""WITH $FaceCte,
        |nv AS (SELECT segid, count(*) AS n FROM g GROUP BY segid),
        |vlines AS (SELECT segid, vid AS line_no,
        |         printf('v %.5f %.5f %.5f', CAST(x AS DOUBLE),
        |           CAST(y AS DOUBLE), CAST(z AS DOUBLE)) AS line
        |       FROM g),
        |flines AS (SELECT f.segid, nv.n + f.fid AS line_no,
        |         printf('f %d %d %d', f.v0 + 1, f.v1 + 1, f.v2 + 1)
        |           AS line
        |       FROM f JOIN nv ON f.segid = nv.segid)
        |SELECT segid, CAST(line_no AS BIGINT) AS line_no, line FROM vlines
        |UNION ALL
        |SELECT segid, CAST(line_no AS BIGINT) AS line_no, line FROM flines"""
        .stripMargin)),

    // O3/W5-shape: deterministic fragment decode order (sort by
    // filename, mesh/unsharded.py:99) drives the face index offsets —
    // the faces of fragment k are shifted by the vertex counts of
    // fragments 0..k-1 (prefix-sum window)
    // T4 mesh-manifest existence (mesh/unsharded.py:102-128 exists:
    // {label: path or None}): requested segids left-join the manifest
    // listing; probes past the populated range so both branches
    // execute. The oracle derives the populated set from `part`
    // itself — independent of the writer.
    "t4b_mesh_exists" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val listed = Files.list(Paths.get(MeshDir)).iterator.asScala
          .map(_.getFileName.toString).filter(_.matches("\\d+:0"))
          .map(_.stripSuffix(":0").toLong).toSeq.sorted
        val listedDf = listed.toDF("segid").withColumn("found", lit(1L))
        s.range(0, 60).toDF("segid")
          .join(broadcast(listedDf), Seq("segid"), "left")
          .select(col("segid"), coalesce(col("found"), lit(0L)).as("exists"))
      },
      Some("""WITH req AS (SELECT unnest(range(60)) AS segid),
        |pop AS (SELECT DISTINCT p_partkey % 40 AS segid FROM part)
        |SELECT CAST(r.segid AS BIGINT) AS segid,
        |  CAST(CASE WHEN p.segid IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS exists
        |FROM req r LEFT JOIN pop p ON p.segid = r.segid""".stripMargin)),

    "o3_mesh_concat" -> Q(
      (s, dir) => { ensure(s, dir); globalFaces(s) },
      Some(s"""WITH $FaceCte
        |SELECT segid, fid, v0, v1, v2 FROM f""".stripMargin)),

    // A6: consolidate — np.unique on vertex rows (lexicographic rank
    // per segid), faces remapped through the inverse map, then
    // deduplicated (mesh.py:148-172)
    "a6_mesh_consolidate" -> Q(
      (s, dir) => {
        ensure(s, dir)
        // one decode pass feeds both the vertex rank map and the faces
        val fr = fragmentRows(s).localCheckpoint()
        val verts = verticesOf(fr)
        val ranked = verts.withColumn("nidx", (dense_rank().over(
          Window.partitionBy("segid").orderBy("x", "y", "z")) - 1).cast("long"))
          .select(col("segid"), col("vid"), col("nidx"))
        val faces = facesOf(fr)
        // the rank map is mesh-metadata-sized -> broadcast hash joins
        def m(c: String) = broadcast(ranked
          .withColumnRenamed("vid", c)
          .withColumnRenamed("nidx", s"n$c"))
        faces.join(m("v0"), Seq("segid", "v0"))
          .join(m("v1"), Seq("segid", "v1"))
          .join(m("v2"), Seq("segid", "v2"))
          .select(col("segid"), col("nv0"), col("nv1"), col("nv2"))
          .distinct()
      },
      Some(s"""WITH $FaceCte,
        |r AS (SELECT segid, vid, dense_rank() OVER (
        |        PARTITION BY segid ORDER BY x, y, z) - 1 AS nidx FROM g)
        |SELECT DISTINCT f.segid, r0.nidx AS nv0, r1.nidx AS nv1, r2.nidx AS nv2
        |FROM f
        |JOIN r r0 ON r0.segid = f.segid AND r0.vid = f.v0
        |JOIN r r1 ON r1.segid = f.segid AND r1.vid = f.v1
        |JOIN r r2 ON r2.segid = f.segid AND r2.vid = f.v2""".stripMargin)),

    // A6 boundary variant: deduplicate_chunk_boundaries
    // (mesh.py:379-419; vectors test_meshing.py:89-148) — the dedup
    // get_mesh actually runs when assembling adjacent chunks' meshes:
    // merge a coordinate ONLY if it occurs exactly TWICE and lies on a
    // chunk-boundary plane (mod chunk_size == 0 on any axis), so
    // coincidental interior duplicates and triples stay distinct.
    // Reindexing replays np.unique over face-referenced (x,y,z,w) keys
    // (w = -1 for merged pairs, original vid otherwise) — unreferenced
    // vertices drop, survivors rank lexicographically.
    "a6b_mesh_dedup_boundary" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val fr = fragmentRows(s).localCheckpoint()
        val verts = verticesOf(fr)
        val cnt = verts.groupBy("segid", "x", "y", "z")
          .agg(count(lit(1)).as("c"))
        val keyed = verts.join(cnt, Seq("segid", "x", "y", "z"))
          .withColumn("w", when(col("c") === 2 &&
              ((col("x") % 4) === 0 || (col("y") % 3) === 0 ||
                (col("z") % 100) === 0), lit(-1L))
            .otherwise(col("vid")))
          .select(col("segid"), col("vid"), col("x"), col("y"), col("z"),
            col("w"))
        val faces = facesOf(fr)
        val refd = faces.select(col("segid"), col("v0").as("vid"))
          .unionAll(faces.select(col("segid"), col("v1").as("vid")))
          .unionAll(faces.select(col("segid"), col("v2").as("vid")))
          .distinct()
        val ranked = keyed.join(refd, Seq("segid", "vid"))
          .select("segid", "x", "y", "z", "w").distinct()
          .withColumn("nid", (dense_rank().over(
            Window.partitionBy("segid").orderBy("x", "y", "z", "w")) - 1)
            .cast("long"))
        // vid -> new index map is mesh-metadata-sized -> broadcast
        val kmap = keyed
          .join(ranked, Seq("segid", "x", "y", "z", "w"))
          .select(col("segid"), col("vid"), col("nid"))
        def m(c: String) = broadcast(kmap
          .withColumnRenamed("vid", c)
          .withColumnRenamed("nid", s"n$c"))
        faces.join(m("v0"), Seq("segid", "v0"))
          .join(m("v1"), Seq("segid", "v1"))
          .join(m("v2"), Seq("segid", "v2"))
          .select(col("segid"), col("fid"), col("nv0"), col("nv1"),
            col("nv2"))
      },
      Some(s"""WITH $FaceCte,
        |cnt AS (SELECT segid, x, y, z, count(*) AS c FROM g
        |        GROUP BY segid, x, y, z),
        |k AS (SELECT g.segid, g.vid, g.x, g.y, g.z,
        |        CASE WHEN cnt.c = 2 AND (g.x % 4 = 0 OR g.y % 3 = 0
        |            OR g.z % 100 = 0)
        |          THEN -1 ELSE g.vid END AS w
        |      FROM g JOIN cnt ON cnt.segid = g.segid AND cnt.x = g.x
        |        AND cnt.y = g.y AND cnt.z = g.z),
        |refd AS (SELECT DISTINCT segid, vid FROM (
        |        SELECT segid, v0 AS vid FROM f
        |        UNION ALL SELECT segid, v1 AS vid FROM f
        |        UNION ALL SELECT segid, v2 AS vid FROM f)),
        |fk AS (SELECT DISTINCT k.segid, k.x, k.y, k.z, k.w
        |       FROM k JOIN refd ON refd.segid = k.segid
        |         AND refd.vid = k.vid),
        |rk AS (SELECT segid, x, y, z, w, row_number() OVER (
        |         PARTITION BY segid ORDER BY x, y, z, w) - 1 AS nid
        |       FROM fk),
        |km AS (SELECT k.segid, k.vid, rk.nid FROM k
        |       JOIN rk ON rk.segid = k.segid AND rk.x = k.x
        |         AND rk.y = k.y AND rk.z = k.z AND rk.w = k.w)
        |SELECT f.segid, f.fid, m0.nid AS nv0, m1.nid AS nv1,
        |       m2.nid AS nv2
        |FROM f
        |JOIN km m0 ON m0.segid = f.segid AND m0.vid = f.v0
        |JOIN km m1 ON m1.segid = f.segid AND m1.vid = f.v1
        |JOIN km m2 ON m2.segid = f.segid AND m2.vid = f.v2""".stripMargin)),

    // P9: mesh crop — drop vertices outside the (inclusive,
    // lib.py:869-881 contains) bbox, drop faces touching dropped
    // vertices, reindex surviving vertices densely (mesh.py:421-470)
    "p9_mesh_crop" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val fr = fragmentRows(s).localCheckpoint()
        val keepCond = col("x").between(1, 5) && col("y").between(1, 4) &&
          col("z").between(1, 3)
        val kept = verticesOf(fr).filter(keepCond)
          .withColumn("nvid", (row_number().over(
            Window.partitionBy("segid").orderBy("vid")) - 1).cast("long"))
          .select(col("segid"), col("vid"), col("nvid"))
        def m(c: String) = broadcast(kept
          .withColumnRenamed("vid", c)
          .withColumnRenamed("nvid", s"n$c"))
        facesOf(fr)
          .join(m("v0"), Seq("segid", "v0"))
          .join(m("v1"), Seq("segid", "v1"))
          .join(m("v2"), Seq("segid", "v2"))
          .select(col("segid"), col("fid"), col("nv0"), col("nv1"), col("nv2"))
      },
      Some(s"""WITH $FaceCte,
        |k AS (SELECT segid, vid, row_number() OVER (
        |        PARTITION BY segid ORDER BY vid) - 1 AS nvid
        |      FROM g
        |      WHERE x BETWEEN 1 AND 5 AND y BETWEEN 1 AND 4
        |        AND z BETWEEN 1 AND 3)
        |SELECT f.segid, f.fid, k0.nvid AS nv0, k1.nvid AS nv1, k2.nvid AS nv2
        |FROM f
        |JOIN k k0 ON k0.segid = f.segid AND k0.vid = f.v0
        |JOIN k k1 ON k1.segid = f.segid AND k1.vid = f.v1
        |JOIN k k2 ON k2.segid = f.segid AND k2.vid = f.v2""".stripMargin)),

    // W5 proof-of-offsets: slice the lod0 fragments OUT of the
    // concatenated blob using the manifest's running byte offsets,
    // decode each slice, and reproduce the full global vertex table —
    // the multires read path end-to-end (multilod.py:230-319)
    "w5b_multires_slice" -> Q(
      (s, dir) => {
        ensure(s, dir)
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val mrDir = MultiresDir
        // streamed listing (no O(objects) driver Seq) + open-cost sizing
        graft.sources.ScanSizing
          .listedNames(s, Paths.get(MultiresDir), _.endsWith(".index"),
            65536L)
          .flatMap { nm =>
            val segid = nm.stripSuffix(".index").toLong
            val man = MeshCodec.decodeManifest(
              Files.readAllBytes(Paths.get(mrDir, s"$segid.index")))
            val blob = Files.readAllBytes(Paths.get(mrDir, s"$segid.blob"))
            val offs = man.fragmentOffsets(0)
            var start = 0L
            var vidBase = 0L
            offs.toSeq.flatMap { sz =>
              // manifest sizes are UNTRUSTED: copyOfRange would
              // silently ZERO-PAD past the blob end (and a negative/
              // wrapping size would throw raw errors) — fail loudly
              require(sz >= 0 && start + sz <= blob.length,
                s"corrupt multires manifest: fragment [$start, " +
                  s"${start + sz}) outside the ${blob.length}-byte blob")
              val frag = MeshCodec.decode(java.util.Arrays.copyOfRange(
                blob, start.toInt, (start + sz).toInt))
              start += sz
              val rows = frag.vertices.grouped(3).zipWithIndex.map {
                case (v, i) =>
                  (segid, vidBase + i, v(0).toLong, v(1).toLong, v(2).toLong)
              }.toSeq
              vidBase += frag.vertices.length / 3
              rows
            }
          }.toDF("segid", "vid", "x", "y", "z")
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z FROM g""".stripMargin)),

    // W5 SHARDED multires read (mesh/multilod.py:188-319
    // ShardedMultiLevelPrecomputedMeshSource.get): each segid's
    // manifest is the minishard-indexed record and its fragment bytes
    // sit immediately BEFORE it in the same shard file, located by
    // `manifest_byte_start = shard_offset - total_fragment_size`
    // (:282-284). Segids group by shard; each task resolves manifests
    // via index + ranged reads (return_byte_range=True), computes the
    // lod0 span from the manifest's fragment sizes, ranged-reads JUST
    // that span, and decodes per-fragment slices into the same global
    // vertex table w5b proves for the unsharded layout.
    "w5c_multires_sharded" -> Q(
      (s, dir) => {
        ensureMultiresSharded(s, dir)
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val spec = meshShardSpec
        val shardDir = MultiresShardedDir
        // streamed id listing, no repartition (groupByKey re-keys)
        graft.sources.ScanSizing
          .listedNames(s, Paths.get(MultiresDir), _.endsWith(".index"),
            0L, repartitionBySize = false)
          .map(_.stripSuffix(".index").toLong)
          .groupByKey(segid => spec.shardLocation(segid)._1)
          .flatMapGroups { (shardNo, it) =>
            val path =
              Paths.get(shardDir, spec.shardFilename(shardNo)).toString
            val manifests = graft.sources.ShardedIO
              .readLabelsRangedWithOffsets(path, spec, it.toSeq)
            val raf = new java.io.RandomAccessFile(path, "r")
            try {
              manifests.flatMap { case (segid, shardOffset, manBytes) =>
                val man = MeshCodec.decodeManifest(manBytes)
                val totalFrag =
                  man.fragmentOffsets.map(_.map(_.toLong).sum).sum
                val lod0Size = man.fragmentOffsets(0).map(_.toLong).sum
                // lod 0 starts at the front of the preamble; the span
                // is read as one buffer, so an over-2GB lod-0 preamble
                // must fail loudly (fragment-at-a-time ranged reads are
                // the fallback shape) rather than truncate via toInt
                // manifest-declared spans are UNTRUSTED: bound the
                // allocation (decode-bomb ceiling) and the seek range
                // against the real file, or a crafted manifest turns
                // into a 2 GB allocation / raw EOF/seek errors
                require(lod0Size >= 0 &&
                    lod0Size <= graft.core.Codec.MaxDecodedChunkBytes,
                  s"corrupt multires manifest: lod-0 span $lod0Size " +
                    s"outside [0, ${graft.core.Codec.MaxDecodedChunkBytes}]")
                val lod0Start = shardOffset - totalFrag
                require(lod0Start >= 0 &&
                    lod0Start + lod0Size <= raf.length(),
                  s"corrupt multires manifest: lod-0 range [$lod0Start, " +
                    s"${lod0Start + lod0Size}) outside the " +
                    s"${raf.length()}-byte shard")
                val lod0 = new Array[Byte](lod0Size.toInt)
                raf.seek(lod0Start); raf.readFully(lod0)
                var start = 0L
                var vidBase = 0L
                man.fragmentOffsets(0).toSeq.flatMap { sz =>
                  val frag = MeshCodec.decode(java.util.Arrays.copyOfRange(
                    lod0, start.toInt, (start + sz).toInt))
                  start += sz
                  val rows = frag.vertices.grouped(3).zipWithIndex.map {
                    case (v, i) =>
                      (segid, vidBase + i, v(0).toLong, v(1).toLong,
                        v(2).toLong)
                  }.toSeq
                  vidBase += frag.vertices.length / 3
                  rows
                }
              }.iterator
            } finally raf.close()
          }.toDF("segid", "vid", "x", "y", "z")
      },
      Some(s"""WITH $VertCte
        |SELECT segid, vid, x, y, z FROM g""".stripMargin)),

    // F17/W5: multires manifest binary decode + per-fragment running
    // byte offsets (prefix-sum window over (lod, frag) order) locating
    // each fragment in the concatenated blob (multilod.py:276-289)
    "w5_multires_offsets" -> Q(
      (s, dir) => {
        ensure(s, dir)
        val manUdf = udf((b: Array[Byte]) => {
          val m = MeshCodec.decodeManifest(b)
          (0 until m.numLods).flatMap { lod =>
            val pos = m.fragmentPositions(lod)
            val offs = m.fragmentOffsets(lod)
            offs.indices.map { i =>
              (lod.toLong, i.toLong, pos(3 * i).toLong, pos(3 * i + 1).toLong,
                pos(3 * i + 2).toLong, offs(i).toLong)
            }
          }
        })
        val rows = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.index")
          .load(MultiresDir)
          .select(
            regexp_extract(element_at(split(col("path"), "/"), -1),
              "^(\\d+)", 1).cast("long").as("segid"),
            explode(manUdf(col("content"))).as("r"))
          .select(col("segid"), col("r._1").as("lod"), col("r._2").as("fidx"),
            col("r._3").as("px"), col("r._4").as("py"), col("r._5").as("pz"),
            col("r._6").as("nbytes"))
        val w = Window.partitionBy("segid").orderBy("lod", "fidx")
          .rowsBetween(Window.unboundedPreceding, -1)
        rows.withColumn("byte_start",
          coalesce(sum(col("nbytes")).over(w), lit(0L)))
      },
      Some(s"""WITH $VertCte,
        |c AS (SELECT segid, frag, count(*) AS n FROM v GROUP BY segid, frag),
        |lod0 AS (SELECT segid, 0 AS lod, frag AS fidx, frag AS px,
        |           segid % 3 AS py, 0 AS pz,
        |           4 + 12 * n + 12 * greatest(n - 2, 0) AS nbytes
        |         FROM c),
        |lod1 AS (SELECT segid, 1 AS lod, 0 AS fidx, 0 AS px, segid % 3 AS py,
        |           1 AS pz, CAST(4 + 12 * sum(n) AS BIGINT) AS nbytes
        |         FROM c GROUP BY segid),
        |m AS (SELECT * FROM lod0 UNION ALL SELECT * FROM lod1)
        |SELECT segid, lod, fidx, px, py, pz, nbytes,
        |  CAST(coalesce(sum(nbytes) OVER (PARTITION BY segid ORDER BY lod, fidx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS byte_start
        |FROM m""".stripMargin)),
  )
}
