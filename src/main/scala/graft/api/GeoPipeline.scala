package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.clean.CleanFunctions.slopeClass
import graft.geo.{ContainsPoint, CrsDetect, GeoFunctions, StReproject, StSimplify}

/** The geospatial merge pipeline (SURVEY.md §3.3): admin boundaries ×
  * slope data → per-boundary zonal statistics + slope classification +
  * centroid-based admin tagging — the reference's thread-choreographed
  * batch loop (GeospatialBatchProcessor) as one declarative job.
  *
  * Scale: the boundary polygons are the small side (thousands of
  * villages) and broadcast; slope samples (raster-derived points) are the
  * fact side and never shuffle — the spatial join is a broadcast
  * nested-loop with envelope short-circuit, then a hash aggregate per
  * boundary.
  */
object GeoPipeline {

  /** A13/J5 zonal statistics: per boundary polygon, mean/max/min/count of
    * sample values inside it (the reference's rasterio.mask semantics with
    * point samples) + F17 slope classification of the mean.
    *
    * @param boundaries (boundary_id, geom) — geom in graft.geo polygon encoding
    * @param samples    (x, y, value) point samples
    */
  def zonalSlopeStats(boundaries: DataFrame, samples: DataFrame): DataFrame = {
    val polys = broadcast(boundaries
      .withColumn("env", GeoFunctions.stEnvelope(col("geom"))))
    samples.join(polys,
      col("x") >= col("env.minx") && col("x") <= col("env.maxx") &&
        col("y") >= col("env.miny") && col("y") <= col("env.maxy") &&
        ContainsPoint(col("geom"), col("x"), col("y")))
      .groupBy("boundary_id")
      .agg(
        count(lit(1)).as("slope_points_used"),
        bround(avg("value"), 2).as("mean_slope"),
        max("value").as("max_slope"),
        min("value").as("min_slope"))
      .withColumn("slope_class", slopeClass(col("mean_slope")))
  }

  /** Large-polygon-set variant of [[zonalSlopeStats]]: same output, but the
    * polygon side goes through the grid-indexed broadcast join
    * ([[graft.geo.SpatialIndexJoin]]) instead of a nested-loop predicate —
    * use when boundaries number in the thousands (124× faster at 3600
    * polygons / 200k points).
    */
  def zonalSlopeStatsIndexed(boundaries: DataFrame, samples: DataFrame): DataFrame =
    graft.geo.SpatialIndexJoin.join(
      samples, boundaries.select("boundary_id", "geom"), "x", "y", "geom")
      .groupBy("boundary_id")
      .agg(
        count(lit(1)).as("slope_points_used"),
        bround(avg("value"), 2).as("mean_slope"),
        max("value").as("max_slope"),
        min("value").as("min_slope"))
      .withColumn("slope_class", slopeClass(col("mean_slope")))

  /** J4 admin tagging: each feature's vertex-mean centroid is matched to
    * the containing admin polygon (the reference's STRtree lookup,
    * SlopeGeoJsonUploadView.py:104-151).
    *
    * @param features (feature_id, geom)
    * @param admin    (district, sector, admin_geom)
    */
  def tagAdmin(features: DataFrame, admin: DataFrame): DataFrame = {
    val withCentroid = features
      .withColumn("centroid", GeoFunctions.stCentroidVertexMean(col("geom")))
    val adminEnv = broadcast(admin
      .withColumn("env", GeoFunctions.stEnvelope(col("admin_geom"))))
    withCentroid.join(adminEnv,
      col("centroid.lon") >= col("env.minx") && col("centroid.lon") <= col("env.maxx") &&
        col("centroid.lat") >= col("env.miny") && col("centroid.lat") <= col("env.maxy") &&
        ContainsPoint(col("admin_geom"), col("centroid.lon"), col("centroid.lat")),
      "left")
      // a centroid on a shared boundary (or inside overlapping admin
      // polygons) satisfies ContainsPoint for BOTH rows; the reference's
      // STRtree lookup tags exactly one — pick the lexicographically first
      // (district, sector) deterministically instead of duplicating
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("feature_id")
          .orderBy(col("district").asc_nulls_last, col("sector").asc_nulls_last)))
      .filter(col("__rn") === 1)
      .select(features.columns.map(col) :+
        col("centroid") :+
        col("district").as("associated_district") :+
        col("sector").as("associated_sector"): _*)
  }

  /** F21 end-to-end: auto-detect the source CRS from the first geometry's
    * first coordinate (the reference's `_pick_source_epsg` probe,
    * geoJson_slope_etl_view.py:312-354), then reproject every geometry to
    * WGS84 with the column-level [[StReproject]] expression. `sourceEpsg`
    * overrides detection — near-boundary data can mis-detect (SURVEY.md
    * §7.4), so the escape hatch survives in the API like the reference's.
    * `prjWkt` carries the shapefile's `.prj` sidecar text when present:
    * it resolves via [[CrsDetect.fromPrjWkt]] BEFORE the probe (the
    * reference's `_detect_shapefile_crs` order), so data legitimately
    * outside the Rwanda probe window still reprojects correctly.
    *
    * Scale: detection is one `limit(1)` probe job (a few rows from one
    * partition); the reprojection itself is row-local with zero shuffle.
    */
  def reprojectFeatures(features: DataFrame, sourceEpsg: Option[Int] = None,
      prjWkt: Option[String] = None): DataFrame = {
    // resolution ladder mirrors the reference: explicit sourceEpsg
    // override, then the .prj sidecar's WKT (CRS.from_wkt,
    // SlopeGeoJsonUploadView.py:157-162), then the coordinate probe —
    // a garbage/unrecognized .prj falls through rather than failing
    val epsg = sourceEpsg.orElse(prjWkt.flatMap(CrsDetect.fromPrjWkt)).getOrElse {
      val sample = features.filter(col("geom").isNotNull)
        .select(
          // try_element_at: empty geometries/rings probe as null (then
          // filtered) instead of raising INVALID_ARRAY_INDEX under ANSI
          try_element_at(try_element_at(try_element_at(col("geom"), lit(1)), lit(1)), lit(1)).as("x"),
          try_element_at(try_element_at(try_element_at(col("geom"), lit(1)), lit(1)), lit(2)).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .take(1)
      if (sample.isEmpty)
        throw new IllegalArgumentException(
          "CRS detection needs at least one non-empty geometry; pass sourceEpsg explicitly")
      CrsDetect.detect(sample.head.getDouble(0), sample.head.getDouble(1)).getOrElse(
        throw new IllegalArgumentException(
          "CRS detection failed for sample coordinate; pass sourceEpsg explicitly"))
    }
    features.withColumn("geom", StReproject(col("geom"), epsg))
  }

  /** The slope-feature decimation step that follows reprojection in the
    * reference (SlopeGeoJsonUploadView.py:263-264, 396-397: reproject to
    * WGS84, then `simplify(tolerance, preserve_topology=True)` at 0.001°,
    * dropping features that end up empty/invalid). Row-local Douglas-
    * Peucker ([[StSimplify]]) with a validity gate — payload sizes and
    * vertex counts match the reference's decimated output behavior.
    */
  def simplifyFeatures(features: DataFrame, tolerance: Double = 0.001): DataFrame = {
    features
      .withColumn("geom", StSimplify(col("geom"), tolerance))
      .filter(col("geom").isNotNull && GeoFunctions.stIsValidPolygon(col("geom")))
  }

  /** file_stats the reference accumulates across the merge thread
    * (batch_processor.py:30-45, 155-189): boundary feature counts and the
    * slope-point total actually used.
    */
  final case class MergeStats(
      totalBoundaryFeatures: Long,
      processedFeatures: Long,
      slopePointsUsed: Long)

  /** The end-to-end geospatial merge thread
    * (batch_processor.py:108-177 `process_files`) as one tracked run. The
    * reference's hand-placed checkpoints (diagnosing 5 → loading 15 →
    * processing 25-85 via per-batch ratios at :385-388 → saving 90 →
    * completed 100) become [[ProgressTracker]] spans whose percents come
    * from real task completions; stage names use progress_tracker.py's
    * vocabulary (validation / processing / merging / completed), messages
    * keep the batch processor's wording. There is no batch loop to count:
    * the whole merge is one declarative job, so "Batch k/n" becomes
    * task-level percent from the engine's own scheduler.
    *
    * Two actions in all: one fills the zonal-stats pin and tallies it
    * (`processedFeatures`, `slopePointsUsed`); one computes the merge —
    * the write when saving, whose row count is `totalBoundaryFeatures`,
    * or a count otherwise. Nothing is counted before it is written.
    *
    * @param outDir when set, the merged result is written (replace-mode)
    *   under the reference's saving checkpoint before completion
    */
  def run(spark: org.apache.spark.sql.SparkSession, boundaries: DataFrame,
      samples: DataFrame, processId: Option[String] = None,
      outDir: Option[String] = None): (DataFrame, MergeStats) = {
    def tracked[T](stage: Int, msg: String)(body: => T): T =
      processId.map(ProgressTracker.trackStage(spark, _, stage, msg)(body)).getOrElse(body)

    processId.foreach(ProgressTracker.update(_, 1, 0, "Diagnosing CRS and overlap issues..."))
    // the reference's fix_crs_overlap gate: reject inputs that can't merge
    // (here: schema contract) with an error status, like :122-125
    val missing =
      Seq("boundary_id", "geom").filterNot(boundaries.columns.contains).map("boundaries." + _) ++
        Seq("x", "y", "value").filterNot(samples.columns.contains).map("samples." + _)
    if (missing.nonEmpty) {
      val msg = s"CRS/Overlap fix failed: missing columns ${missing.mkString(", ")}"
      processId.foreach(ProgressTracker.update(_, 1, 0, msg, error = Some(msg)))
      throw new IllegalArgumentException(msg)
    }
    // the boundaries are read by the merge below, which counts them
    tracked(1, "Loading data and converting to WGS84...")(())

    // one action fills the zonal-stats pin and tallies it: one row per
    // boundary id that has points, so duplicate boundary rows count once
    val stats = zonalSlopeStatsIndexed(boundaries, samples).persist()
    val tallies = tracked(2, "Processing slope analysis in WGS84...")(
      stats.agg(count(lit(1)).as("n"), coalesce(sum("slope_points_used"), lit(0L)).as("pts"))
        .head())
    // persisted: the save below and the caller's consumption must not
    // re-run the zonal-stats lineage after stats unpersists. A left join
    // onto at most one stats row per id keeps one row per boundary row,
    // so the merge's row count is the boundary count — taken from the
    // write when saving, from a count otherwise
    val merged = boundaries.join(stats, Seq("boundary_id"), "left").persist()
    val totalFeatures = outDir match {
      case Some(dir) =>
        tracked(3, "Merging zonal statistics onto boundaries...")(())
        tracked(3, "Saving WGS84 results...")(graft.io.Writers.overwrite(merged, dir))
      case None =>
        tracked(3, "Merging zonal statistics onto boundaries...")(merged.count())
    }
    stats.unpersist()
    processId.foreach(ProgressTracker.complete(_,
      "Processing completed with WGS84 coordinates!"))
    (merged, MergeStats(totalFeatures, tallies.getLong(0), tallies.getLong(1)))
  }

  /** Boundary enrichment (village ETL shape): area + centroid columns with
    * the reference's decimal scales (centroid_lat DECIMAL(10,8) /
    * centroid_lon DECIMAL(11,8), village_admin_boundaries_etl_view.py:
    * 455-481).
    */
  def enrichBoundaries(boundaries: DataFrame): DataFrame =
    boundaries
      .withColumn("area", GeoFunctions.stArea(col("geom")))
      .withColumn("centroid", GeoFunctions.stCentroidVertexMean(col("geom")))
      .withColumn("centroid_lat", col("centroid.lat").cast("decimal(10,8)"))
      .withColumn("centroid_lon", col("centroid.lon").cast("decimal(11,8)"))
      .drop("centroid")
}
