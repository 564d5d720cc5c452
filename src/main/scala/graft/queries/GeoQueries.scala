package graft.queries

import org.apache.spark.sql.functions._
import graft.geo.{GeoClip, GeoFunctions}
import Qx._

/** Geospatial operator coverage without geo testdata: deterministic
  * geometries are derived from the star-schema tables in both engines.
  * Containment/clipping semantics come from the graft geo layer; the
  * DuckDB mirrors use the equivalent closed-form predicates (rectangle
  * containment = range predicates; axis-aligned clip area = interval
  * overlap product), which independently validates the geometry code.
  */
object GeoQueries {

  val all: Seq[Q] = Seq(

    // ---- A13/J5 zonal statistics: points-in-polygon tag + aggregate -------
    // Points from events (x = value mod 20, y = user_id mod 20); zones are a
    // 2x2 grid of 10x10 rectangle polygons. Ray-casting on rectangles gives
    // half-open [min, max) containment — mirrored as range predicates.
    Q("q45_zonal_stats",
      (s, dir) => {
        val e = t(s, dir, "events")
        val pts = e.select(
          (col("value") % 20.0).as("x"),
          (col("user_id") % 20).cast("double").as("y"),
          col("value").as("v"))
        val zones = s.createDataFrame(Seq(
          ("sw", 0.0, 0.0), ("se", 10.0, 0.0), ("nw", 0.0, 10.0), ("ne", 10.0, 10.0)))
          .toDF("zone", "x0", "y0")
          .select(col("zone"),
            array(array(
              array(col("x0"), col("y0")),
              array(col("x0") + 10.0, col("y0")),
              array(col("x0") + 10.0, col("y0") + 10.0),
              array(col("x0"), col("y0") + 10.0),
              array(col("x0"), col("y0")))).as("geom"))
        // envelope prefilter before the exact ray cast (the reference's
        // prep(bbox) fast path): the range predicates are cheap codegen'd
        // comparisons and AND short-circuits, so the native ray-cast
        // expression only evaluates for envelope survivors
        val zonesEnv = zones.withColumn("env", GeoFunctions.stEnvelope(col("geom")))
        pts.join(broadcast(zonesEnv),
          col("x") >= col("env.minx") && col("x") <= col("env.maxx") &&
            col("y") >= col("env.miny") && col("y") <= col("env.maxy") &&
            graft.geo.ContainsPoint(col("geom"), col("x"), col("y")))
          .groupBy("zone")
          .agg(count(lit(1)).as("points"),
            dbl(sum(d12(col("v")))).as("sum_value"),
            min("v").as("min_value"),
            max("v").as("max_value"))
          .orderBy("zone")
      },
      Some("""
        WITH pts AS (
          SELECT value % 20.0 AS x, CAST(user_id % 20 AS DOUBLE) AS y, value AS v
          FROM events),
        zones AS (
          SELECT * FROM (VALUES
            ('sw', 0.0, 0.0), ('se', 10.0, 0.0), ('nw', 0.0, 10.0), ('ne', 10.0, 10.0))
            AS z(zone, x0, y0))
        SELECT zone, COUNT(*) AS points,
          CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
          MIN(v) AS min_value, MAX(v) AS max_value
        FROM pts JOIN zones
          ON x >= x0 AND x < x0 + 10.0 AND y >= y0 AND y < y0 + 10.0
        GROUP BY 1 ORDER BY 1""")),

    // ---- J3 bbox intersection via the custom Catalyst expression ----------
    // Axis-aligned squares derived from nation keys, clipped to a fixed
    // bbox; the oracle checks the Sutherland-Hodgman + shoelace result
    // against the closed-form interval-overlap product.
    Q("q46_rect_clip_area",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val cx = (col("n_nationkey") % 5).cast("double") * 2.0
        val cy = expr("n_nationkey div 5").cast("double") * 2.0
        val geom = array(array(
          array(cx - 1.5, cy - 1.5), array(cx + 1.5, cy - 1.5),
          array(cx + 1.5, cy + 1.5), array(cx - 1.5, cy + 1.5),
          array(cx - 1.5, cy - 1.5)))
        n.select(col("n_nationkey"),
          GeoFunctions.stRectIntersectionArea(geom,
            lit(2.0), lit(2.0), lit(8.0), lit(8.0)).as("clip_area"))
          .orderBy("n_nationkey")
      },
      Some("""
        WITH sq AS (
          SELECT n_nationkey,
            CAST(n_nationkey % 5 AS DOUBLE) * 2.0 AS cx,
            CAST(n_nationkey // 5 AS DOUBLE) * 2.0 AS cy
          FROM nation)
        SELECT n_nationkey,
          greatest(0.0, least(8.0, cx + 1.5) - greatest(2.0, cx - 1.5)) *
          greatest(0.0, least(8.0, cy + 1.5) - greatest(2.0, cy - 1.5)) AS clip_area
        FROM sq ORDER BY 1""")),

    // ---- F20/A12: centroid + envelope + area over derived polygons --------
    Q("q47_geometry_stats",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val cx = (col("n_nationkey") % 5).cast("double") * 2.0
        val cy = expr("n_nationkey div 5").cast("double") * 2.0
        val geom = array(array(
          array(cx - 1.5, cy - 1.5), array(cx + 1.5, cy - 1.5),
          array(cx + 1.5, cy + 1.5), array(cx - 1.5, cy + 1.5),
          array(cx - 1.5, cy - 1.5)))
        val withGeom = n.select(col("n_nationkey"), col("n_regionkey"), geom.as("geom"))
        withGeom.select(col("n_regionkey"),
          GeoFunctions.stArea(col("geom")).as("area"),
          GeoFunctions.stCentroidVertexMean(col("geom")).getField("lon").as("c_lon"),
          GeoFunctions.stEnvelope(col("geom")).getField("maxx").as("maxx"))
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("polys"),
            dbl(sum(d12(col("area")))).as("total_area"),
            dbl(sum(d12(col("c_lon")))).as("sum_c_lon"),
            max("maxx").as("max_maxx"))
          .orderBy("n_regionkey")
      },
      Some("""
        WITH sq AS (
          SELECT n_nationkey, n_regionkey,
            CAST(n_nationkey % 5 AS DOUBLE) * 2.0 AS cx,
            CAST(n_nationkey // 5 AS DOUBLE) * 2.0 AS cy
          FROM nation),
        g AS (
          SELECT n_regionkey,
            9.0 AS area,
            -- vertex mean over the 5 ring vertices (closing vertex repeated)
            (5 * cx - 1.5) / 5 AS c_lon,
            cx + 1.5 AS maxx
          FROM sq)
        SELECT n_regionkey, COUNT(*) AS polys,
          CAST(SUM(CAST(area AS DECIMAL(12,2))) AS DOUBLE) AS total_area,
          CAST(SUM(CAST(c_lon AS DECIMAL(12,2))) AS DOUBLE) AS sum_c_lon,
          MAX(maxx) AS max_maxx
        FROM g GROUP BY 1 ORDER BY 1""")),

    // ---- F21 runtime half: column-level geometry reprojection -------------
    // UTM 35S squares derived from nation keys (a synthetic in-Rwanda grid),
    // reprojected to WGS84 by the native st_reproject expression walking
    // every ring/vertex. The oracle recomputes the same Snyder
    // transverse-Mercator inverse in SQL (derived constants inlined from
    // the SAME Scala doubles); outputs are rounded to 1e-7 deg (~1 cm) to
    // absorb cross-engine libm last-bit variance in sin/cos/tan/pow.
    // ---- S5 runtime half: raster polygonize via two-level CCL -------------
    // A deterministic 64-wide raster is derived from part keys; the class
    // function paints concentric rings, so regions snake across many tiles
    // (tile=13 deliberately misaligns with the ring geometry). Component id
    // = min cell id per 4-connected region, computed distributedly
    // (tile-local union-find + large-star/small-star on boundary roots) and
    // mirrored in DuckDB by a recursive-CTE min-label flood — two utterly
    // different algorithms, identical fixpoint.
    Q("q102_polygonize",
      (s, dir) => {
        val cells = t(s, dir, "part")
          .filter(col("p_partkey") < 4096) // partkeys are 0-based in the testdata
          .selectExpr(
            "CAST(p_partkey AS BIGINT) AS id",
            "CAST(p_partkey div 64 AS INT) AS r",
            "CAST(p_partkey % 64 AS INT) AS c")
          .selectExpr("id", "r", "c",
            "CAST((((r-16)*(r-16) + (c-32)*(c-32)) div 96) % 2 AS INT) AS v")
        graft.geo.RasterPolygonize.regions(s, cells, tile = 13)
          .orderBy("component_id")
      },
      Some("""
        WITH RECURSIVE cl AS (
          SELECT id, r, c, CAST((((r-16)*(r-16) + (c-32)*(c-32)) // 96) % 2 AS INT) AS v
          FROM (
            SELECT CAST(p_partkey AS BIGINT) AS id,
              CAST(p_partkey // 64 AS INT) AS r,
              CAST(p_partkey % 64 AS INT) AS c
            FROM part WHERE p_partkey < 4096)),
        edges AS (
          SELECT a.id AS u, b.id AS w FROM cl a JOIN cl b
            ON a.v = b.v AND ((b.r = a.r AND b.c = a.c + 1) OR (b.r = a.r + 1 AND b.c = a.c))),
        sym AS (SELECT u, w FROM edges UNION ALL SELECT w AS u, u AS w FROM edges),
        reach(id, l) AS (
          SELECT id, id AS l FROM cl
          UNION
          SELECT s.w AS id, r.l FROM reach r JOIN sym s ON s.u = r.id WHERE r.l < s.w),
        lab AS (SELECT id, MIN(l) AS comp FROM reach GROUP BY id)
        SELECT l.comp AS component_id, c.v AS klass, COUNT(*) AS n_cells,
          MIN(c.r) AS min_r, MAX(c.r) AS max_r, MIN(c.c) AS min_c, MAX(c.c) AS max_c
        FROM lab l JOIN cl c ON l.id = c.id
        GROUP BY 1, 2 ORDER BY 1""")),

    // ---- st_simplify: Douglas-Peucker decimation, recursion vs CTE --------
    // Jittered 25-vertex squares derived from nation keys (integer-derived
    // doubles only — no trig, so every coordinate is bit-identical across
    // engines). The engine runs the native StSimplify expression
    // (stack-recursive DP); the oracle re-derives the SAME kept-vertex set
    // with a recursive-CTE segment tree — two different algorithmic
    // formulations, one fixpoint, like q102's union-find vs flood. Output:
    // vertex counts + area + coordinate checksum of the decimated ring
    // (decimal-rounded to absorb summation-order last-bits).
    Q("q115_simplify",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val geom = array(simplifyTestRing())
        val simp = graft.geo.StSimplify(geom, 0.001)
        val ring = element_at(simp, 1)
        n.select(col("n_nationkey"),
          size(element_at(geom, 1)).as("n_before"),
          size(ring).as("n_after"),
          dbl(graft.geo.GeoFunctions.stArea(simp).cast("decimal(18,6)")).as("area_after"),
          dbl(aggregate(ring, lit(0.0),
            (acc, p) => acc + element_at(p, 1) + element_at(p, 2))
            .cast("decimal(18,6)")).as("sum_coords"))
          .orderBy("n_nationkey")
      },
      Some(simplifyOracleSql)),

    Q("q82_reproject", (s, dir) => {
        val n = t(s, dir, "nation")
        val e0 = (col("n_nationkey") % 5).cast("double") * 40000.0 + 650000.0
        val n0 = expr("n_nationkey div 5").cast("double") * 40000.0 + 9680000.0
        val geom = array(array(
          array(e0, n0), array(e0 + 20000.0, n0),
          array(e0 + 20000.0, n0 + 20000.0), array(e0, n0 + 20000.0),
          array(e0, n0)))
        n.select(col("n_nationkey"),
            graft.geo.StReproject(geom, 32735).as("g"))
          .select(col("n_nationkey"), posexplode(element_at(col("g"), 1)))
          .select(col("n_nationkey"), col("pos").as("pt_idx"),
            round(element_at(col("col"), 1), 7).as("lon"),
            round(element_at(col("col"), 2), 7).as("lat"))
          .orderBy("n_nationkey", "pt_idx")
      },
      Some(reprojectOracleSql)),

    // ---- S5 parity: compressed + tiled GeoTIFF ingest ----------------------
    // One 61x47 slope raster per nation key, PAINTED closed-form
    // (v = ((x*31 + y*17 + b) % 97) / 4.0, nodata holes at
    // (x*7 + y*11) % 23 == 0), encoded into a REAL GeoTIFF whose layout
    // rotates through the rasterio envelope — compression none/LZW/
    // Deflate/PackBits/ZSTD ((b/2)%5), strips vs 16x16 tiles ((b/3)%2),
    // and a predictor-2 uint16 variant (b%5==4, values stored x4) — then
    // decoded back and aggregated. The oracle predicts the zonal facts
    // from the painting function alone, so any byte-level defect in any
    // layout (LZW width schedule, tile clipping, differencing, nodata)
    // flips the hash. Scale: encode+decode run INSIDE the flatMap
    // (partition-local, the q252 WARC discipline); only (b, numerics)
    // reach the exchange.
    Q("q269_geotiff_compressed",
      (s, dir) => {
        import s.implicits._
        import graft.sources.{TiffReader, TiffWriter}
        val W = 61; val H = 47
        val decoded = t(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("b")).as[Long]
          .flatMap { b =>
            val intVariant = b % 5 == 4
            val vals = Array.tabulate(W * H) { i =>
              val x = i % W; val y = i / W
              if ((x * 7 + y * 11) % 23 == 0) { if (intVariant) 65535.0 else -9999.0 }
              else {
                val paint = ((x * 31 + y * 17 + b) % 97).toDouble
                if (intVariant) paint else paint / 4.0
              }
            }
            val layout = TiffWriter.Layout(
              // (b/2)%5 walks none/LZW/Deflate/PackBits/ZSTD with a
              // period coprime-ish to the other rotations, so ZSTD
              // crosses strips, tiles, BigTIFF and the predictor-2
              // uint16 variant across the 25 nation keys
              compression = Seq(1, 5, 8, 32773, 50000)(((b / 2) % 5).toInt),
              predictor = if (intVariant) 2 else 1,
              tile = if ((b / 3) % 2 == 1) Some((16, 16)) else None,
              rowsPerStrip = 9,
              sampleFormat = if (intVariant) 1 else 3,
              bits = if (intVariant) 16 else 32,
              // odd keys emit BigTIFF (magic 43, 64-bit offsets/LONG8):
              // half the board crosses the >4 GiB-layout GDAL switches to,
              // same closed-form oracle hash
              bigTiff = b % 2 == 1)
            val tiff = TiffWriter.encode(W, H, vals, layout,
              0.5, 0.25, 30.0, -1.0,
              nodata = Some(if (intVariant) 65535.0 else -9999.0))
            val g = TiffReader.parseBytes(tiff)
            for {
              py <- 0 until g.height
              px <- 0 until g.width
              raw = g.value(px, py)
              if !g.nodata.contains(raw)
            } yield (b, if (intVariant) raw / 4.0 else raw,
              g.centerX(px), g.centerY(py))
          }
          .toDF("b", "v", "x", "y")
        decoded.groupBy("b")
          .agg(count(lit(1)).as("valid_px"),
            dbl(sum(col("v").cast("decimal(12,2)"))).as("sum_v"),
            min("v").as("min_v"),
            max("v").as("max_v"),
            dbl(sum(col("x").cast("decimal(12,2)"))).as("sum_x"))
          .orderBy("b")
      },
      Some("""
        WITH px AS (
          SELECT CAST(n.n_nationkey AS BIGINT) AS b, x.x, y.y,
            CASE WHEN (x.x*7 + y.y*11) % 23 = 0 THEN NULL
                 ELSE ((x.x*31 + y.y*17 + n.n_nationkey) % 97) / 4.0 END AS v
          FROM nation n, range(61) x(x), range(47) y(y))
        SELECT b, COUNT(v) AS valid_px,
          CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
          MIN(v) AS min_v, MAX(v) AS max_v,
          CAST(SUM(CAST(CASE WHEN v IS NOT NULL
            THEN 30.0 + (x.x + 0.5) * 0.5 END AS DECIMAL(12,2))) AS DOUBLE) AS sum_x
        FROM px x
        GROUP BY b ORDER BY b"""))
    ,

    // ---- S4 parity: FULL shapefile-zip e2e (PolygonZ + multipart) ----------
    // One record per nation key, rotating through the pyshp envelope:
    // b%3==0 a PolygonZ (type 15, real Z block trailing the XY section —
    // misreading Z as coordinates breaks area AND centroid), b%3==1 a
    // multipart type-5 with two CW exteriors + a CCW hole (winding
    // organization must split it into a 2-polygon MultiPolygon and attach
    // the hole by containment), b%3==2 a Point. Geometry + .dbf
    // attributes ride a REAL zip through [[graft.sources.ShapefileZip]]
    // (archive walk, picker, case-variant .DBF sidecar). The output pins
    // the reference's centroid quirk IN the oracle: `_calculate_centroid`
    // handles only Point/Polygon, so MultiPolygon rows yield NULL lon/lat
    // (village_admin_boundaries_etl_view.py:299-321). All coordinates are
    // small exact integers (sums exact, one correctly-rounded division),
    // so the closed-form oracle is hash-exact. Driver-side build is the
    // upload-payload contract (request bodies, not bulk scans).
    Q("q275_shapefile_zip_e2e",
      (s, dir) => {
        import graft.sources.{ShapefileZip, ShpWriter}
        val keys = t(s, dir, "nation")
          .select(col("n_nationkey").cast("int"))
          .collect().map(_.getInt(0)).sorted.toSeq
        def cw(x: Double, y: Double, side: Double) = Seq(
          (x, y), (x, y + side), (x + side, y + side), (x + side, y), (x, y))
        def ccw(x: Double, y: Double, side: Double) = Seq(
          (x, y), (x + side, y), (x + side, y + side), (x, y + side), (x, y))
        val recs: Seq[ShpWriter.Rec] = keys.map { b =>
          val x0 = b.toDouble; val y0 = 2.0 * b
          (b % 3) match {
            case 0 => ShpWriter.PolyRec(Seq(cw(x0, y0, 1.0 + b % 4)), withZ = true)
            case 1 => ShpWriter.PolyRec(Seq(
              cw(x0, y0, 4.0), cw(x0 + 10.0, y0, 2.0), ccw(x0 + 1.0, y0 + 1.0, 1.0)))
            case _ => ShpWriter.PointRec(1.5 * b, -b.toDouble)
          }
        }
        val zip = ShpWriter.zipArchive(
          "upload/villages.shp" -> ShpWriter.encode(recs),
          "upload/villages.DBF" -> ShpWriter.dbf(
            Seq(("VILL_NAME", 12)), keys.map(b => Seq(s"feat$b"))))
        val c = graft.geo.GeoFunctions.stCentroidVertexMean(col("geom"))
        ShapefileZip.read(s, zip).features.select(
            col("feature_index"),
            col("geometry_type"),
            when(col("geometry_type") === "Polygon",
              graft.geo.GeoFunctions.stArea(col("geom"))).as("area"),
            when(col("geometry_type") === "MultiPolygon",
              size(col("geom_multi"))).as("n_polys"),
            c.getField("lon").as("lon"), // null geom ⇒ null centroid: the quirk
            c.getField("lat").as("lat"),
            col("properties")("VILL_NAME").as("vill_name"))
          .orderBy("feature_index")
      },
      Some("""
        WITH k AS (SELECT CAST(n_nationkey AS INT) AS b FROM nation)
        SELECT
          b AS feature_index,
          CASE b % 3 WHEN 0 THEN 'Polygon' WHEN 1 THEN 'MultiPolygon'
            ELSE 'Point' END AS geometry_type,
          CASE WHEN b % 3 = 0
            THEN CAST((1 + b % 4) * (1 + b % 4) AS DOUBLE) END AS area,
          CASE WHEN b % 3 = 1 THEN 2 END AS n_polys,
          CASE WHEN b % 3 = 0 THEN (5.0 * b + 2.0 * (1 + b % 4)) / 5.0
               WHEN b % 3 = 2 THEN 1.5 * b END AS lon,
          CASE WHEN b % 3 = 0 THEN (10.0 * b + 2.0 * (1 + b % 4)) / 5.0
               WHEN b % 3 = 2 THEN CAST(-b AS DOUBLE) END AS lat,
          'feat' || b AS vill_name
        FROM k ORDER BY feature_index"""))
  )

  /** The q115 test ring: a 25-vertex closed square (side 6, corner at
    * (cx, cy) from the nation key) whose vertices carry a deterministic
    * perpendicular jitter of (key*31 + i*17) % 7 / 2500 ∈ {0 … 0.0024} —
    * straddling the 0.001 DP tolerance. Every coordinate is built from
    * integer-derived doubles with explicit association (no trig, division
    * by exact constants only), so Spark and DuckDB compute bit-identical
    * values and the DP decisions cannot diverge.
    */
  private def simplifyTestRing(): org.apache.spark.sql.Column = {
    val k = col("n_nationkey")
    val cx = (k % 5).cast("double") * 10.0
    val cy = expr("n_nationkey div 5").cast("double") * 10.0
    def j(i: Int): org.apache.spark.sql.Column =
      ((k * 31 + lit(i * 17)) % 7).cast("double") / 2500.0
    def pt(i: Int): org.apache.spark.sql.Column = {
      val t = (i % 6).toDouble
      (i / 6) match {
        case 0 => array(cx + lit(t), cy + j(i))
        case 1 => array(cx + lit(6.0) - j(i), cy + lit(t))
        case 2 => array(cx + lit(6.0) - lit(t), cy + lit(6.0) - j(i))
        case _ => array(cx + j(i), cy + lit(6.0) - lit(t))
      }
    }
    array(((0 until 24).map(pt) :+ pt(0)): _*)
  }

  /** DuckDB mirror of q115: the SAME ring construction, then Douglas-
    * Peucker re-derived as a recursive-CTE segment tree — each working-set
    * row (lo, hi) computes the chord distances of its interior vertices
    * with the exact formula order of [[graft.geo.StSimplify.chordDist]],
    * splits at the FIRST max when it exceeds the tolerance, and emits both
    * halves. The kept-vertex set is the union of all segment endpoints
    * (order-independent, same fixpoint as the engine's stack recursion).
    */
  private def simplifyOracleSql: String = {
    def jSql(i: Int) = s"(CAST((n_nationkey*31 + ${i * 17}) % 7 AS DOUBLE) / 2500.0)"
    def ptSql(i: Int): String = {
      val t = (i % 6).toDouble
      val j = jSql(i)
      (i / 6) match {
        case 0 => s"[(cx + $t), (cy + $j)]"
        case 1 => s"[((cx + 6) - $j), (cy + $t)]"
        case 2 => s"[((cx + 6) - $t), ((cy + 6) - $j)]"
        case _ => s"[(cx + $j), ((cy + 6) - $t)]"
      }
    }
    val ptsList = ((0 until 24).map(ptSql) :+ ptSql(0)).mkString(",\n            ")
    s"""
      WITH RECURSIVE base AS (
        SELECT n_nationkey,
          CAST(n_nationkey % 5 AS DOUBLE) * 10.0 AS cx,
          CAST(n_nationkey // 5 AS DOUBLE) * 10.0 AS cy
        FROM nation),
      p AS (
        SELECT n_nationkey AS k,
          [$ptsList] AS pts
        FROM base),
      seg AS (
        SELECT k, 1 AS lo, 25 AS hi FROM p
        UNION ALL
        SELECT x.k,
          CASE WHEN h.half = 0 THEN x.lo ELSE x.split END AS lo,
          CASE WHEN h.half = 0 THEN x.split ELSE x.hi END AS hi
        FROM (
          SELECT d.k, d.lo, d.hi,
            d.lo + list_position(d.ds, list_aggregate(d.ds, 'max')) AS split
          FROM (
            SELECT s.k, s.lo, s.hi,
              list_transform(generate_series(s.lo + 1, s.hi - 1), i ->
                CASE WHEN (pp.pts[s.hi][1] - pp.pts[s.lo][1]) = 0
                      AND (pp.pts[s.hi][2] - pp.pts[s.lo][2]) = 0
                THEN sqrt((pp.pts[i][1] - pp.pts[s.lo][1]) * (pp.pts[i][1] - pp.pts[s.lo][1])
                        + (pp.pts[i][2] - pp.pts[s.lo][2]) * (pp.pts[i][2] - pp.pts[s.lo][2]))
                ELSE abs((pp.pts[s.hi][1] - pp.pts[s.lo][1]) * (pp.pts[i][2] - pp.pts[s.lo][2])
                       - (pp.pts[s.hi][2] - pp.pts[s.lo][2]) * (pp.pts[i][1] - pp.pts[s.lo][1]))
                   / sqrt((pp.pts[s.hi][1] - pp.pts[s.lo][1]) * (pp.pts[s.hi][1] - pp.pts[s.lo][1])
                        + (pp.pts[s.hi][2] - pp.pts[s.lo][2]) * (pp.pts[s.hi][2] - pp.pts[s.lo][2]))
                END) AS ds
            FROM seg s JOIN p pp USING (k)
            WHERE s.hi - s.lo >= 2) d
          WHERE list_aggregate(d.ds, 'max') > (CAST(1 AS DOUBLE) / 1000.0)) x
        CROSS JOIN (VALUES (0), (1)) AS h(half)),
      kidx AS (
        SELECT k, list_sort(list(DISTINCT i)) AS idx
        FROM (SELECT k, lo AS i FROM seg UNION SELECT k, hi AS i FROM seg)
        GROUP BY k),
      simp AS (
        SELECT pp.k,
          CASE WHEN len(ki.idx) < 4 THEN pp.pts
               ELSE list_transform(ki.idx, ii -> pp.pts[ii]) END AS s
        FROM kidx ki JOIN p pp USING (k))
      SELECT s2.k AS n_nationkey,
        CAST(len(pp.pts) AS INTEGER) AS n_before,
        CAST(len(s2.s) AS INTEGER) AS n_after,
        CAST(CAST(abs(list_sum(list_transform(generate_series(1, len(s2.s) - 1),
          jx -> s2.s[jx][1] * s2.s[jx+1][2] - s2.s[jx+1][1] * s2.s[jx][2])) / 2) AS DECIMAL(18,6)) AS DOUBLE) AS area_after,
        CAST(CAST(list_sum(list_transform(s2.s, pp2 -> pp2[1] + pp2[2])) AS DECIMAL(18,6)) AS DOUBLE) AS sum_coords
      FROM simp s2 JOIN p pp USING (k)
      ORDER BY 1"""
  }

  /** DuckDB mirror of [[graft.geo.CrsDetect.utmInverse]] for EPSG 32735:
    * same formula sequence, with every DATA-INDEPENDENT derived constant
    * computed here in Scala (identical doubles, round-tripped through
    * Double.toString) so only the per-point transcendentals differ at the
    * last bit — absorbed by the 7-dp rounding.
    */
  private def reprojectOracleSql: String = {
    val ell = graft.geo.CrsDetect.Wgs84
    // every constant lands in SQL as CAST(... AS DOUBLE): a bare decimal
    // literal is DECIMAL in DuckDB and overflows in the series products
    def d(x: Double): String = s"CAST($x AS DOUBLE)"
    val e2v = ell.f * (2 - ell.f)
    val sqv = math.sqrt(1 - e2v)
    val e1v = (1 - sqv) / (1 + sqv)
    val a = d(ell.a)
    val e2 = d(e2v)
    val ep2 = d(e2v / (1 - e2v))
    val oneMinusE2 = d(1 - e2v)
    val mDen = d(ell.a * (1 - e2v / 4 - 3 * e2v * e2v / 64 - 5 * e2v * e2v * e2v / 256))
    val p2 = d(3 * e1v / 2 - 27 * math.pow(e1v, 3) / 32)
    val p4 = d(21 * e1v * e1v / 16 - 55 * math.pow(e1v, 4) / 32)
    val p6 = d(151 * math.pow(e1v, 3) / 96)
    val p8 = d(1097 * math.pow(e1v, 4) / 512)
    val lam0 = d(math.toRadians(27.0))
    s"""
      WITH grid AS (
        SELECT n_nationkey,
          CAST(n_nationkey % 5 AS DOUBLE) * 40000.0 + 650000.0 AS e0,
          CAST(n_nationkey // 5 AS DOUBLE) * 40000.0 + 9680000.0 AS n0
        FROM nation),
      verts AS (
        SELECT g.n_nationkey, v.pt_idx,
          g.e0 + v.dx * 20000.0 AS x, g.n0 + v.dy * 20000.0 AS y
        FROM grid g CROSS JOIN (VALUES
          (0, 0.0, 0.0), (1, 1.0, 0.0), (2, 1.0, 1.0), (3, 0.0, 1.0), (4, 0.0, 0.0))
          AS v(pt_idx, dx, dy)),
      s3 AS (
        SELECT *, mu + $p2 * sin(2*mu) + $p4 * sin(4*mu) + $p6 * sin(6*mu) + $p8 * sin(8*mu) AS phi1
        FROM (SELECT *, ((y - 10000000.0) / 0.9996) / $mDen AS mu FROM verts)),
      s5 AS (
        SELECT *,
          $ep2 * cp * cp AS c1, tp * tp AS t1,
          $a / sqrt(1 - $e2 * sp * sp) AS n1,
          $a * $oneMinusE2 / pow(1 - $e2 * sp * sp, 1.5) AS r1
        FROM (SELECT *, sin(phi1) AS sp, cos(phi1) AS cp, tan(phi1) AS tp FROM s3)),
      s6 AS (
        SELECT *, (x - 500000.0) / (n1 * 0.9996) AS d FROM s5),
      pts AS (
        SELECT n_nationkey, pt_idx,
          ($lam0 + (d - (1 + 2*t1 + c1) * pow(d, 3) / 6 +
            (5 - 2*c1 + 28*t1 - 3*c1*c1 + 8*$ep2 + 24*t1*t1) * pow(d, 5) / 120) / cp) * 180.0 / pi() AS lon,
          (phi1 - (n1 * tp / r1) * (d*d/2 -
            (5 + 3*t1 + 10*c1 - 4*c1*c1 - 9*$ep2) * pow(d, 4) / 24 +
            (61 + 90*t1 + 298*c1 + 45*t1*t1 - 252*$ep2 - 3*c1*c1) * pow(d, 6) / 720)) * 180.0 / pi() AS lat
        FROM s6)
      SELECT n_nationkey, pt_idx, round(lon, 7) AS lon, round(lat, 7) AS lat
      FROM pts ORDER BY n_nationkey, pt_idx"""
  }
}
