package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** Spatial index over REAL `.spatial` JSON tile files
  * (spatial_index.py:248-307): each tile file is named by its physical
  * bbox ("x0-x1_y0-y1_z0-z1.spatial") and holds a JSON map
  * `{segid: [x0,y0,z0,x1,y1,z1]}`. A label appears in EVERY tile its
  * bbox overlaps (task enumeration writes per-tile maps).
  *
  * The read side is Spark-native JSON handling (F15): wholetext scan →
  * `from_json` with an explicit MapType schema (dynamic segid keys) →
  * explode — no JSON UDF. The DuckDB oracle re-derives labels + boxes
  * + tile assignment straight from `part`.
  */
object SpatialIndexQueries {
  import Derived.table

  val Root = "/tmp/graft_fixture/spatial"
  val TileDir = s"$Root/spatial0"

  // spatial grid: 2x2x2 tiles of (32,32,16) over the 64x64x32 volume
  private val TX = 32L; private val TY = 32L; private val TZ = 16L

  /** Label bbox derivation (mirrored in LblCte). */
  private def labelBoxes(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(col("p_partkey").cast("long").as("label"))
      .distinct()
      .select(col("label"),
        (col("label") % 50).as("x0"), ((col("label") * 3) % 50).as("y0"),
        (col("label") % 25).as("z0"))
      .withColumn("x1", col("x0") + 1 + col("label") % 10)
      .withColumn("y1", col("y0") + 1 + (col("label") * 7) % 12)
      .withColumn("z1", col("z0") + 1 + col("label") % 6)

  private val LblCte =
    """lbl AS (
      |  SELECT DISTINCT p_partkey AS label,
      |         p_partkey % 50 AS x0, (p_partkey * 3) % 50 AS y0,
      |         p_partkey % 25 AS z0,
      |         p_partkey % 50 + 1 + p_partkey % 10 AS x1,
      |         (p_partkey * 3) % 50 + 1 + (p_partkey * 7) % 12 AS y1,
      |         p_partkey % 25 + 1 + p_partkey % 6 AS z1
      |  FROM part)""".stripMargin

  /** label -> overlapped tiles (half-open boxes) + tile filename. */
  private def withTiles(boxes: DataFrame): DataFrame = {
    val s = boxes.sparkSession
    val cells = s.range(8).select(
      (col("id") % 2).as("tx"), ((col("id") / 2).cast("long") % 2).as("ty"),
      (col("id") / 4).cast("long").as("tz"))
    boxes.crossJoin(broadcast(cells))
      .filter(col("x0") < (col("tx") + 1) * TX && col("x1") > col("tx") * TX &&
        col("y0") < (col("ty") + 1) * TY && col("y1") > col("ty") * TY &&
        col("z0") < (col("tz") + 1) * TZ && col("z1") > col("tz") * TZ)
      .withColumn("filename", concat(
        col("tx") * TX, lit("-"), (col("tx") + 1) * TX, lit("_"),
        col("ty") * TY, lit("-"), (col("ty") + 1) * TY, lit("_"),
        col("tz") * TZ, lit("-"), (col("tz") + 1) * TZ, lit(".spatial")))
  }

  private val TileCte = LblCte +
    """,
      |cells AS (SELECT tx, ty, tz FROM
      |  (SELECT unnest(range(0, 2)) AS tx) ,
      |  (SELECT unnest(range(0, 2)) AS ty) ,
      |  (SELECT unnest(range(0, 2)) AS tz)),
      |tiled AS (
      |  SELECT l.*, c.tx, c.ty, c.tz,
      |    printf('%d-%d_%d-%d_%d-%d.spatial', c.tx * 32, (c.tx + 1) * 32,
      |      c.ty * 32, (c.ty + 1) * 32, c.tz * 16, (c.tz + 1) * 16) AS filename
      |  FROM lbl l, cells c
      |  WHERE l.x0 < (c.tx + 1) * 32 AND l.x1 > c.tx * 32
      |    AND l.y0 < (c.ty + 1) * 32 AND l.y1 > c.ty * 32
      |    AND l.z0 < (c.tz + 1) * 16 AND l.z1 > c.tz * 16)""".stripMargin

  def ensure(s: SparkSession, sfDir: String): Unit = synchronized {
    Fixtures.guard(s"$Root/.built_from", Fixtures.srcStamp(sfDir),
        wipe = Seq(Root)) {
      Files.createDirectories(Paths.get(TileDir))
      val dirStr = TileDir
      withTiles(labelBoxes(s, sfDir))
        .groupBy("filename")
        .agg(sort_array(collect_list(struct(col("label"), col("x0"), col("y0"),
          col("z0"), col("x1"), col("y1"), col("z1")))).as("entries"))
        .foreachPartition { rows: Iterator[Row] =>
          rows.foreach { r =>
            val sb = new StringBuilder("{")
            val entries = r.getSeq[Row](1)
            entries.zipWithIndex.foreach { case (e, i) =>
              if (i > 0) sb.append(',')
              sb.append('"').append(e.getLong(0)).append("\":[")
                .append((1 to 6).map(e.getLong).mkString(",")).append(']')
            }
            sb.append('}')
            Files.writeString(Paths.get(dirStr, r.getString(0)), sb.toString)
          }
        }
    }
  }

  /** Tiles with segid keys in uint64 territory: odd labels get the
    * top bit and render as UNSIGNED decimal JSON keys — the exact
    * encoding the reference fights in spatial_index.py:876-879 (a
    * signed render would write a '-' the JSON map key grammar of other
    * readers chokes on, and Spark's CAST(key AS BIGINT) NULLs the
    * high half on read). Lives inside its own dir so ensure()'s
    * whole-Root rebuild also invalidates it (marker inside the dir).
    */
  val TileDirU64 = s"$Root/spatial0_u64"

  def ensureU64(s: SparkSession, sfDir: String): Unit = synchronized {
    Fixtures.guard(s"$TileDirU64/.built_from", Fixtures.srcStamp(sfDir),
        wipe = Seq(TileDirU64)) {
      val dirStr = TileDirU64
      val u64Boxes = labelBoxes(s, sfDir).withColumn("label",
        when(col("label") % 2 === 1,
          col("label").bitwiseOR(lit(Long.MinValue))).otherwise(col("label")))
      withTiles(u64Boxes)
        .groupBy("filename")
        .agg(sort_array(collect_list(struct(col("label"), col("x0"), col("y0"),
          col("z0"), col("x1"), col("y1"), col("z1")))).as("entries"))
        .foreachPartition { rows: Iterator[Row] =>
          rows.foreach { r =>
            val sb = new StringBuilder("{")
            val entries = r.getSeq[Row](1)
            entries.zipWithIndex.foreach { case (e, i) =>
              if (i > 0) sb.append(',')
              sb.append('"')
                .append(java.lang.Long.toUnsignedString(e.getLong(0)))
                .append("\":[")
                .append((1 to 6).map(e.getLong).mkString(",")).append(']')
            }
            sb.append('}')
            Files.writeString(Paths.get(dirStr, r.getString(0)), sb.toString)
          }
        }
    }
  }

  /** Scan + parse the tile files: (filename, label, x0..z1). */
  private def tileRows(s: SparkSession): DataFrame = {
    val mapType = MapType(StringType, ArrayType(LongType))
    s.read.option("wholetext", "true").text(TileDir)
      .withColumn("filename", element_at(
        split(input_file_name(), "/"), -1))
      .select(col("filename"),
        explode(from_json(col("value"), mapType)).as(Seq("label", "b")))
      .select(col("filename"), col("label").cast("long").as("label"),
        col("b").getItem(0).as("x0"), col("b").getItem(1).as("y0"),
        col("b").getItem(2).as("z0"), col("b").getItem(3).as("x1"),
        col("b").getItem(4).as("y1"), col("b").getItem(5).as("z1"))
  }

  val queries: Map[String, Q] = Map(

    // A3 over real tile files: labels intersecting a query bbox —
    // only tiles overlapping the query need parsing (tile-name prune
    // happens at planning time in the reference; the filter on decoded
    // rows is the same predicate)
    "a3_spatial_real" -> Q(
      (s, dir) => {
        ensure(s, dir)
        tileRows(s)
          .filter(col("x0") < 40 && col("x1") > 8 &&
            col("y0") < 44 && col("y1") > 6 && col("z0") < 20 && col("z1") > 3)
          .select("label").distinct()
      },
      Some(s"""WITH $LblCte
        |SELECT DISTINCT label FROM lbl
        |WHERE x0 < 40 AND x1 > 8 AND y0 < 44 AND y1 > 6
        |  AND z0 < 20 AND z1 > 3""".stripMargin)),

    // A3 over the reference's OWN committed spatial-index tile
    // (test_cv/skeletons_mip_2/0-8192_0-8192_0-20480.spatial,
    // spatial_index.py:248-307 format): same from_json MapType parse as
    // a3_spatial_real, against real reference bytes; the oracle reads
    // golden parquet emitted by tools/spatial_oracle_gen.py's
    // independent stdlib-json parse. SURVEY §5 pattern (b) on a real
    // spatial tile rather than a synthesized one.
    "a3_spatial_golden" -> Q(
      (s, dir) => {
        val tile =
          "/root/reference/test/test_cv/skeletons_mip_2/" // committed fixture
        val mapType = MapType(StringType, ArrayType(LongType))
        val rows = s.read.option("wholetext", "true")
          .text(tile + "0-8192_0-8192_0-20480.spatial")
          .select(explode(from_json(col("value"), mapType))
            .as(Seq("label", "b")))
          .select(col("label").cast("long").as("label"),
            col("b").getItem(0).as("x0"), col("b").getItem(1).as("y0"),
            col("b").getItem(2).as("z0"), col("b").getItem(3).as("x1"),
            col("b").getItem(4).as("y1"), col("b").getItem(5).as("z1"))
        // spatial query: labels whose bbox intersects [0,1024)^2 x [0,2048)
        rows.filter(col("x0") < 1024 && col("x1") > 0 &&
            col("y0") < 1024 && col("y1") > 0 &&
            col("z0") < 2048 && col("z1") > 0)
          .select("label", "x0", "y0", "z0", "x1", "y1", "z1")
      },
      Some("""SELECT label, x0, y0, z0, x1, y1, z1
        |FROM read_parquet(
        |  '/root/repo/src/test/resources/golden/skeleton_spatial.parquet')
        |WHERE x0 < 1024 AND x1 > 0 AND y0 < 1024 AND y1 > 0
        |  AND z0 < 2048 AND z1 > 0""".stripMargin)),

    // The §2 marquee as PURE SQL (r16 verdict item 6): no DataFrame
    // combinators anywhere — the tile scan is a CREATE TEMPORARY VIEW
    // ... USING text, the JSON parse is SQL from_json, and the spatial
    // predicate is the registered codegen'd graft_bbox_overlaps
    // expression (functions/BboxExprs.scala). Same query box as
    // a3_spatial_real, so the two entries cross-check each other.
    "a3d_spatial_sql" -> Q(
      (s, dir) => {
        ensure(s, dir)
        graft.functions.GraftFunctions.register(s)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_spatial_tiles
          |USING text OPTIONS (path '$TileDir', wholetext 'true')""".stripMargin)
        s.sql("""
          |SELECT DISTINCT CAST(t.label AS BIGINT) AS label
          |FROM graft_spatial_tiles
          |LATERAL VIEW explode(from_json(value,
          |  'map<string,array<bigint>>')) t AS label, b
          |WHERE graft_bbox_overlaps(b[0], b[1], b[2], b[3], b[4], b[5],
          |                          8, 6, 3, 40, 44, 20)""".stripMargin)
      },
      Some(s"""WITH $LblCte
        |SELECT DISTINCT label FROM lbl
        |WHERE x0 < 40 AND x1 > 8 AND y0 < 44 AND y1 > 6
        |  AND z0 < 20 AND z1 > 3""".stripMargin)),

    // A3/J1 with labels STRADDLING 2^63 (r16 verdict item 5): real
    // tile files whose JSON keys are unsigned decimals >= 2^63,
    // parsed by the codegen'd graft_parse_u64 (CAST would NULL them —
    // the reference's uint64 fight, spatial_index.py:876-879), spatial
    // overlap via graft_bbox_overlaps, then distinct + UNSIGNED rank
    // through the native label-set aggregate (no global window).
    "j1c_spatial_u64" -> Q(
      (s, dir) => {
        ensureU64(s, dir)
        graft.functions.GraftFunctions.register(s)
        val mapType = MapType(StringType, ArrayType(LongType))
        val rows = s.read.option("wholetext", "true").text(TileDirU64)
          .select(explode(from_json(col("value"), mapType)).as(Seq("k", "b")))
          .select(expr("graft_parse_u64(k)").as("label"),
            col("b").getItem(0).as("x0"), col("b").getItem(1).as("y0"),
            col("b").getItem(2).as("z0"), col("b").getItem(3).as("x1"),
            col("b").getItem(4).as("y1"), col("b").getItem(5).as("z1"))
        rows.filter(expr(
            "graft_bbox_overlaps(x0, y0, z0, x1, y1, z1, 8, 6, 3, 40, 44, 20)"))
          .agg(expr("graft_label_set(label)").as("set"))
          .select(posexplode(col("set")).as(Seq("i", "label")))
          .select((col("i") + 1).cast("long").as("rank"), col("label"))
      },
      Some(s"""WITH $LblCte,
        |m AS (SELECT CAST(CASE WHEN label % 2 = 1
        |        THEN label - 9223372036854775808 ELSE label END AS BIGINT)
        |        AS h, x0, y0, z0, x1, y1, z1 FROM lbl),
        |q AS (SELECT DISTINCT h FROM m
        |      WHERE x0 < 40 AND x1 > 8 AND y0 < 44 AND y1 > 6
        |        AND z0 < 20 AND z1 > 3)
        |SELECT CAST(row_number() OVER (ORDER BY (h < 0), h) AS BIGINT)
        |    AS rank, h AS label
        |FROM q""".stripMargin)),

    // A3/J2 write side: BUILD a spatial index from the real layer's
    // voxels (the reference's index construction — per-task label
    // bboxes aggregated per tile, spatial_index.py:80-160 +
    // tasks that emit per-tile {segid: bbox} JSON). One algebraic
    // min/max groupBy over (tile, label) — partial-aggregated
    // map-side, so at 100 TB each chunk task contributes one partial
    // row per resident label, not its voxels. The tile JSONs are then
    // written as real `.spatial` objects and READ BACK through the
    // same from_json scan the read ops use — a full round trip
    // checked against the voxel sidecar.
    "a3b_spatial_index_build" -> Q(
      (s, dir) => {
        RealLayerQueries.ensure(s, dir)
        val outDir = s"${RealLayerQueries.Root}/spatial_built0"
        Fixtures.rmTree(outDir)
        Files.createDirectories(Paths.get(outDir))
        import RealLayerQueries.{SX, SY, SZ}
        val entries = graft.sources.PrecomputedIO
          .cutoutVoxels(s, RealLayerQueries.LayerDir,
            Bbox(Vec3(0, 0, 0), Vec3(SX, SY, SZ)))
          .filter(col("label") =!= 0)
          .select(expr("x div 32").as("tx"), expr("y div 32").as("ty"),
            expr("z div 16").as("tz"), col("label"),
            col("x"), col("y"), col("z"))
          .groupBy("tx", "ty", "tz", "label")
          .agg(min("x").as("x0"), min("y").as("y0"), min("z").as("z0"),
            (max("x") + 1).as("x1"), (max("y") + 1).as("y1"),
            (max("z") + 1).as("z1"))
          .withColumn("filename", concat(
            col("tx") * 32, lit("-"), (col("tx") + 1) * 32, lit("_"),
            col("ty") * 32, lit("-"), (col("ty") + 1) * 32, lit("_"),
            col("tz") * 16, lit("-"), (col("tz") + 1) * 16, lit(".spatial")))
        val outStr = outDir
        entries.groupBy("filename")
          .agg(sort_array(collect_list(struct(col("label"), col("x0"),
            col("y0"), col("z0"), col("x1"), col("y1"), col("z1"))))
            .as("entries"))
          .foreachPartition { rows: Iterator[Row] =>
            rows.foreach { r =>
              val sb = new StringBuilder("{")
              r.getSeq[Row](1).zipWithIndex.foreach { case (e, i) =>
                if (i > 0) sb.append(',')
                sb.append('"').append(e.getLong(0)).append("\":[")
                  .append((1 to 6).map(e.getLong).mkString(",")).append(']')
              }
              sb.append('}')
              Files.writeString(Paths.get(outStr, r.getString(0)), sb.toString)
            }
          }
        // read back through the standard tile scan
        val mapType = MapType(StringType, ArrayType(LongType))
        s.read.option("wholetext", "true").text(outDir)
          .withColumn("filename", element_at(
            split(input_file_name(), "/"), -1))
          .select(col("filename"),
            explode(from_json(col("value"), mapType)).as(Seq("label", "b")))
          .select(col("filename"), col("label").cast("long").as("label"),
            col("b").getItem(0).as("x0"), col("b").getItem(1).as("y0"),
            col("b").getItem(2).as("z0"), col("b").getItem(3).as("x1"),
            col("b").getItem(4).as("y1"), col("b").getItem(5).as("z1"))
      },
      Some(s"""WITH v AS (
        |  SELECT x, y, z, label
        |  FROM read_parquet('${RealLayerQueries.VoxelsDir}/*.parquet')
        |  WHERE label <> 0),
        |e AS (SELECT x // 32 AS tx, y // 32 AS ty, z // 16 AS tz, label,
        |        CAST(min(x) AS BIGINT) AS x0, CAST(min(y) AS BIGINT) AS y0,
        |        CAST(min(z) AS BIGINT) AS z0,
        |        CAST(max(x) + 1 AS BIGINT) AS x1,
        |        CAST(max(y) + 1 AS BIGINT) AS y1,
        |        CAST(max(z) + 1 AS BIGINT) AS z1
        |      FROM v GROUP BY 1, 2, 3, 4)
        |SELECT printf('%d-%d_%d-%d_%d-%d.spatial',
        |         tx * 32, (tx + 1) * 32, ty * 32, (ty + 1) * 32,
        |         tz * 16, (tz + 1) * 16) AS filename,
        |       label, x0, y0, z0, x1, y1, z1
        |FROM e""".stripMargin)),

    // J2 over real tile files: label -> sorted list of tile files
    // (file_locations_per_label, spatial_index.py:763-835)
    "j2_file_inversion_real" -> Q(
      (s, dir) => {
        ensure(s, dir)
        tileRows(s)
          .groupBy("label")
          .agg(sort_array(collect_list(col("filename"))).as("files"),
            count(lit(1)).as("n_tiles"))
          .select(col("label"), concat_ws(",", col("files")).as("files"),
            col("n_tiles"))
      },
      Some(s"""WITH $TileCte
        |SELECT label, string_agg(filename, ',' ORDER BY filename) AS files,
        |       count(*) AS n_tiles
        |FROM tiled GROUP BY label""".stripMargin)),

    // A3c: spatial RANGE JOIN — bbox-overlap join between two box sets
    // with NO cartesian product: each box fans out (narrow explode,
    // bounded by the extent cap: <= 2 cells/axis for the order boxes,
    // <= 3 for ellipsoid bounds at cell = 8) to the grid cells it
    // covers, candidates pair on a cell equi-join, dedupe, then the
    // exact half-open overlap predicate and a per-box aggregate
    // (n_overlaps + total shared volume). This is the standard
    // scalable spatial-join plan — the thing a naive Spark overlap
    // join (theta join -> cartesian + filter) cannot do at 100 TB.
    // Coordinates are +64-shifted so cell arithmetic never goes
    // negative (Spark div truncates toward zero, DuckDB // floors —
    // they disagree below 0).
    "a3c_spatial_range_join" -> Q(
      (s, dir) => {
        val boxes = table(s, dir, "orders")
          .filter(col("o_orderkey") % 10 === 0).select(
            col("o_orderkey").cast("long").as("aid"),
            (col("o_orderkey") % 50 + 64).cast("long").as("x0"),
            (col("o_custkey") % 50 + 64).cast("long").as("y0"),
            (col("o_orderkey") % 25 + 64).cast("long").as("z0"))
          .withColumn("x1", col("x0") + 1 + col("aid") % 8)
          .withColumn("y1", col("y0") + 1 + (col("aid") * 3) % 8)
          .withColumn("z1", col("z0") + 1 + col("aid") % 6)
        val els = table(s, dir, "customer")
          .filter(col("c_custkey") % 4 === 0).select(
            col("c_custkey").cast("long").as("eid"),
            (col("c_custkey") % 60 + 64 - (col("c_custkey") % 5 + 1))
              .cast("long").as("ex0"),
            ((col("c_custkey") * 3) % 60 + 64 - (col("c_custkey") % 7 + 1))
              .cast("long").as("ey0"),
            (col("c_custkey") % 30 + 64 - (col("c_custkey") % 3 + 1))
              .cast("long").as("ez0"))
          .withColumn("ex1",
            col("ex0") + (col("eid") % 5 + 1) * 2 + 1)
          .withColumn("ey1",
            col("ey0") + (col("eid") % 7 + 1) * 2 + 1)
          .withColumn("ez1",
            col("ez0") + (col("eid") % 3 + 1) * 2 + 1)
        val cellsA = boxes
          .withColumn("cx", explode(expr("sequence(x0 div 8, (x1 - 1) div 8)")))
          .withColumn("cy", explode(expr("sequence(y0 div 8, (y1 - 1) div 8)")))
          .withColumn("cz", explode(expr("sequence(z0 div 8, (z1 - 1) div 8)")))
        val cellsB = els
          .withColumn("cx", explode(expr("sequence(ex0 div 8, (ex1 - 1) div 8)")))
          .withColumn("cy", explode(expr("sequence(ey0 div 8, (ey1 - 1) div 8)")))
          .withColumn("cz", explode(expr("sequence(ez0 div 8, (ez1 - 1) div 8)")))
        val ov = cellsA.join(cellsB, Seq("cx", "cy", "cz"))
          .filter(col("x0") < col("ex1") && col("ex0") < col("x1") &&
            col("y0") < col("ey1") && col("ey0") < col("y1") &&
            col("z0") < col("ez1") && col("ez0") < col("z1"))
          .select("aid", "eid", "x0", "y0", "z0", "x1", "y1", "z1",
            "ex0", "ey0", "ez0", "ex1", "ey1", "ez1")
          .distinct()
          .withColumn("vol", expr(
            "(least(x1, ex1) - greatest(x0, ex0)) * " +
              "(least(y1, ey1) - greatest(y0, ey0)) * " +
              "(least(z1, ez1) - greatest(z0, ez0))"))
          .groupBy("aid")
          .agg(count(lit(1)).as("n_overlaps"), sum("vol").as("vol_sum"))
        boxes.select("aid").join(ov, Seq("aid"), "left")
          .na.fill(0L, Seq("n_overlaps", "vol_sum"))
          .select("aid", "n_overlaps", "vol_sum")
      },
      Some("""WITH ab AS (
        |  SELECT o_orderkey AS aid,
        |    o_orderkey % 50 + 64 AS x0, o_custkey % 50 + 64 AS y0,
        |    o_orderkey % 25 + 64 AS z0,
        |    o_orderkey % 50 + 64 + 1 + o_orderkey % 8 AS x1,
        |    o_custkey % 50 + 64 + 1 + (o_orderkey * 3) % 8 AS y1,
        |    o_orderkey % 25 + 64 + 1 + o_orderkey % 6 AS z1
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |el AS (
        |  SELECT c_custkey AS eid,
        |    c_custkey % 60 + 64 - (c_custkey % 5 + 1) AS ex0,
        |    (c_custkey * 3) % 60 + 64 - (c_custkey % 7 + 1) AS ey0,
        |    c_custkey % 30 + 64 - (c_custkey % 3 + 1) AS ez0,
        |    c_custkey % 60 + 64 + (c_custkey % 5 + 1) + 1 AS ex1,
        |    (c_custkey * 3) % 60 + 64 + (c_custkey % 7 + 1) + 1 AS ey1,
        |    c_custkey % 30 + 64 + (c_custkey % 3 + 1) + 1 AS ez1
        |  FROM customer WHERE c_custkey % 4 = 0),
        |ov AS (SELECT ab.aid,
        |    (least(ab.x1, el.ex1) - greatest(ab.x0, el.ex0)) *
        |    (least(ab.y1, el.ey1) - greatest(ab.y0, el.ey0)) *
        |    (least(ab.z1, el.ez1) - greatest(ab.z0, el.ez0)) AS vol
        |  FROM ab JOIN el
        |    ON ab.x0 < el.ex1 AND el.ex0 < ab.x1
        |   AND ab.y0 < el.ey1 AND el.ey0 < ab.y1
        |   AND ab.z0 < el.ez1 AND el.ez0 < ab.z1),
        |agg AS (SELECT aid, CAST(count(*) AS BIGINT) AS n_overlaps,
        |          CAST(sum(vol) AS BIGINT) AS vol_sum
        |        FROM ov GROUP BY 1)
        |SELECT ab.aid, coalesce(agg.n_overlaps, 0) AS n_overlaps,
        |  coalesce(agg.vol_sum, 0) AS vol_sum
        |FROM ab LEFT JOIN agg USING (aid)""".stripMargin)),
  )
}
