package perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api._
import graft.io.Writers
import graft.sources.{CsvSource, ShapefileZip, TiffReader, XlsxSource}

/** Operations attempted and failed, with the reason for each failure. */
final class Ops {
  var attempted = 0L
  val failures: ArrayBuffer[String] = ArrayBuffer()
  def failed: Long = failures.size.toLong
  /** Count one operation; it fails when any of its checks does. */
  def check(op: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) failures += s"$op: ${problems.mkString("; ")}"
  }
  /** Run `body`; an exception counts as one more failed operation. */
  def guard(what: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        attempted += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
}

/** What the workloads report besides their spans. */
final class Samples {
  val cycleNs: ArrayBuffer[Long] = ArrayBuffer()
  val requestNs: ArrayBuffer[Long] = ArrayBuffer()
  /** Bytes of the uploaded input files, summed over cycles (from the manifest). */
  var uploadedBytes = 0L
  /** Bytes of the inputs a `sources` call decodes eagerly (XLSX, shapefile
    * ZIP, GeoTIFF), summed over cycles.
    */
  var decodedBytes = 0L
  // per cycle, from the last cycle's outputs
  var sourceRows = 0L
  var pointsProbed = 0L
  var pointsMatched = 0L
  var docsIn = 0L
  var docsKept = 0L
}

/** One closed-loop workload with one client. `setup` prepares a fresh
  * session for the loop; `cycle` is one timed iteration; `finish` checks the
  * state the loop left behind.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def cycle(spark: SparkSession, sp: Spans, s: Samples, ops: Ops): Unit
  def finish(spark: SparkSession, s: Samples, ops: Ops): Unit
  /** Directory of the tables the workload writes (for store size). */
  def store: Option[Path]
}

object Workloads {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }

  // ---- dashboard requests -------------------------------------------------

  val Endpoints: Seq[String] = Seq("kpi", "gender", "trend", "location", "top_villages")

  /** Run one dashboard request against the current silver table and check
    * its response against the lab totals the store should hold.
    */
  def request(spark: SparkSession, sp: Spans, s: Samples, ops: Ops, silver: String,
      endpoint: String, years: Seq[Int], want: Gen.LabTotals): Unit = {
    var rows: Array[Row] = null
    val t0 = System.nanoTime()
    sp(s"api.dashboard.$endpoint") {
      val lab = spark.read.parquet(silver)
      rows = (endpoint match {
        case "kpi" => DashboardPipeline.kpiData(lab)
        case "gender" => DashboardPipeline.genderAnalysis(lab)
        case "trend" => DashboardPipeline.monthlyTrend(lab, years)
        case "location" => DashboardPipeline.locationSummary(lab, "district")
        case "top_villages" => DashboardPipeline.topVillages(lab)
      }).collect()
    }
    s.requestNs += System.nanoTime() - t0
    ops.check(s"dashboard.$endpoint", checkResponse(endpoint, rows, years, want))
  }

  private def checkResponse(endpoint: String, rows: Array[Row], years: Seq[Int],
      want: Gen.LabTotals): Seq[String] = {
    def eq(what: String, got: Any, exp: Any) =
      if (got == exp) Nil else Seq(s"$what = $got, expected $exp")
    endpoint match {
      case "kpi" =>
        val r = rows.head
        eq("total_tests", r.getAs[Long]("total_tests"), want.rows) ++
          eq("total_positive", r.getAs[Long]("total_positive"), want.positive) ++
          eq("total_negative", r.getAs[Long]("total_negative"), want.negative)
      case "gender" =>
        eq("sum(count)", rows.map(_.getAs[Long]("count")).sum, want.rows) ++
          eq("genders", rows.map(_.getAs[String]("gender")).toSet, Set("Male", "Female", "Unknown"))
      case "trend" =>
        eq("months", rows.map(_.getAs[Int]("month")).toSeq, (1 to 12)) ++
          eq("columns", rows.head.schema.fieldNames.toSeq, "month" +: years.map(y => s"y$y"))
      case "location" =>
        eq("sum(total_tests)", rows.map(_.getAs[Long]("total_tests")).sum, want.rows) ++
          eq("ordered", rows.map(_.getAs[Long]("total_tests")).toSeq,
            rows.map(_.getAs[Long]("total_tests")).toSeq.sorted.reverse)
      case "top_villages" =>
        val rates = rows.map(_.getAs[Double]("positivity_rate")).toSeq
        eq("rows", rows.length, 20) ++ eq("ordered", rates, rates.sorted.reverse) ++
          (if (rows.forall(_.getAs[Long]("total_tests") >= 10)) Nil
          else Seq("a village with fewer than 10 tests"))
    }
  }

  /** The directory name LabPipeline gives an analytics table. */
  def gold(base: String): String = TableNames.dynamicTableName(base)

  /** Gold tables A1–A5 against the lab totals (row conservation). */
  def checkGold(spark: SparkSession, store: Path, want: Gen.LabTotals, years: Seq[Int],
      ops: Ops): Unit = {
    def sumOf(base: String, c: String): Long =
      spark.read.parquet(store.resolve(gold(base)).toString).agg(sum(c)).head().getLong(0)
    val summary = spark.read.parquet(store.resolve(gold("hc_analytics_total_summary")).toString)
      .head()
    val checks = Seq(
      "total_summary.total_records" -> (summary.getAs[Long]("total_records"), want.rows),
      "total_summary.total_positive_cases" ->
        (summary.getAs[Long]("total_positive_cases"), want.positive),
      "yearly.sum(total_tests)" ->
        (sumOf("hc_analytics_yearly_statistics", "total_tests"), summary.getAs[Long]("total_records")),
      "yearly.sum(positive_cases)" ->
        (sumOf("hc_analytics_yearly_statistics", "positive_cases"), want.positive),
      "yearly.sum(negative_cases)" ->
        (sumOf("hc_analytics_yearly_statistics", "negative_cases"), want.negative),
      "gender.sum(total_tests)" -> (sumOf("hc_analytics_gender_pos_by_year", "total_tests"), want.rows),
      "village.sum(total_tests)" -> (sumOf("hc_analytics_village_pos_by_year", "total_tests"), want.rows),
      "monthly.sum(total_tests)" -> (sumOf("hc_analytics_monthly_positivity", "total_tests"), want.rows),
      "silver rows" ->
        (spark.read.parquet(store.resolve(gold("health_center_lab_data")).toString).count(),
          want.rows))
    checks.foreach { case (what, (got, exp)) =>
      ops.check(s"gold.$what", if (got == exp) Nil else Seq(s"$got, expected $exp"))
    }
  }

  def labResultChecks(r: LabPipeline.Result, batchRows: Long, years: Seq[Int]): Seq[String] = {
    def c(base: String) = r.analyticsCounts(gold(base))
    def eq(what: String, got: Long, exp: Long) =
      if (got == exp) Nil else Seq(s"$what = $got, expected $exp")
    eq("rawRecords", r.rawRecords, batchRows) ++
      eq("yearly rows", c("hc_analytics_yearly_statistics"), years.size) ++
      eq("monthly rows", c("hc_analytics_monthly_positivity"), years.size * 12L) ++
      eq("gender rows", c("hc_analytics_gender_pos_by_year"), years.size * 3L) ++
      eq("summary rows", c("hc_analytics_total_summary"), 1)
  }
}

import Workloads._

/** One full replace-mode refresh from the raw uploads of all five kinds. */
final class Refresh(in: Gen.Inputs, work: Path) extends Workload {
  private val inputs = work.resolve("inputs")
  private val bronze = work.resolve("bronze")
  private val gold = work.resolve("store")
  def store: Option[Path] = Some(gold)
  private def input(name: String) = inputs.resolve(name).toString
  private val eagerDecoded = Set("lab_upload.xlsx", "hmis_wide.xlsx", "boundaries.zip",
    "slope.tif")
  private var admin: DataFrame = _
  /** The last cycle's decoded frames by input name, counted in `finish`. */
  private var decoded: Seq[(String, DataFrame)] = Nil

  def setup(spark: SparkSession): Unit = {
    deleteTree(bronze); deleteTree(gold)
    admin = spark.createDataFrame(in.geo.adminPolygons).toDF("district", "sector", "admin_geom")
  }

  def cycle(spark: SparkSession, sp: Spans, s: Samples, ops: Ops): Unit = {
    deleteTree(bronze)
    val t0 = System.nanoTime()
    var lab: LabPipeline.Result = null
    var weatherRows = 0L
    var merge: GeoPipeline.MergeStats = null
    var tags: Array[Row] = null
    sp("cycle") {
      val csv = sp("sources.csv_read")(CsvSource.read(spark, input("lab_upload.csv"),
        inferSchema = false))
      val xlsx = sp("sources.xlsx_read")(XlsxSource.read(spark, input("lab_upload.xlsx")))
      sp("api.bronze_ingest") {
        Bronze.ingest(csv, bronze.toString, "health_center_lab", "all", "all", in.weatherYears.max)
        Bronze.ingest(xlsx, bronze.toString, "health_center_lab", "all", "all", in.weatherYears.max)
      }
      val raw = sp("api.bronze_read")(Bronze.read(spark, bronze.toString,
        datasetName = Some("health_center_lab")).drop(Bronze.metadataColumns: _*))
      lab = sp("api.lab_run")(LabPipeline.run(spark, raw, LabPipeline.Params(),
        outDir = Some(gold.toString)))

      val weather = sp("sources.csv_read")(CsvSource.read(spark, input("weather.csv")))
      val (merged, _, n) = sp("api.weather_run")(WeatherPipeline.run(spark, weather, weather,
        in.weatherYears, "Gasabo", "Kimironko", "Kigali Aero", "Kigali Aero",
        outDir = Some(gold.toString)))
      merged.unpersist()
      weatherRows = n

      val hmis = sp("sources.xlsx_read")(XlsxSource.read(spark, input("hmis_wide.xlsx")))
      val api = sp("api.malaria_calculate")(MalariaApiPipeline.calculate(hmis, "hmis_upload"))
      sp("io.overwrite")(Writers.overwrite(api, gold.resolve("hc_api_east").toString))

      val silver = gold.resolve(lab.tableNamesCreated.head).toString
      Endpoints.foreach(e => request(spark, sp, s, ops, silver, e, in.weatherYears, in.lab))

      val picked = sp("sources.shp_zip_read")(ShapefileZip.read(spark,
        Files.readAllBytes(inputs.resolve("boundaries.zip"))))
      val features = sp("api.geo_reproject")(GeoPipeline.reprojectFeatures(picked.features,
        prjWkt = picked.prjWkt))
      val samples = sp("sources.tiff_read")(TiffReader.read(spark, input("slope.tif")))
      val (zonal, stats) = sp("api.geo_run")(GeoPipeline.run(spark,
        features.select(col("properties")("VILLAGE_ID").as("boundary_id"), col("geom")),
        samples, outDir = Some(gold.resolve("geo_merge").toString)))
      zonal.unpersist()
      merge = stats
      tags = sp("api.geo_tag_admin")(GeoPipeline.tagAdmin(
        features.select(col("properties")("VILLAGE_ID").as("feature_id"), col("geom")), admin)
        .select("feature_id", "associated_district", "associated_sector").collect())
      decoded = Seq("lab_upload.csv" -> csv, "lab_upload.xlsx" -> xlsx, "weather.csv" -> weather,
        "hmis_wide.xlsx" -> hmis, "boundaries.zip" -> picked.features, "slope.tif" -> samples)
    }
    s.cycleNs += System.nanoTime() - t0
    in.files.foreach { e =>
      s.uploadedBytes += e.bytes.length
      if (eagerDecoded(e.name)) s.decodedBytes += e.bytes.length
    }
    s.pointsMatched = merge.slopePointsUsed

    def eq(what: String, got: Any, exp: Any) =
      if (got == exp) Nil else Seq(s"$what = $got, expected $exp")
    ops.check("commit.lab", labResultChecks(lab, in.lab.rows, in.weatherYears))
    ops.check("commit.weather", eq("rows", weatherRows, 12L * in.weatherYears.size))
    ops.check("commit.geo_merge",
      eq("boundaries", merge.totalBoundaryFeatures, in.zones.size.toLong) ++
        eq("processed", merge.processedFeatures, in.zones.size.toLong) ++
        eq("points", merge.slopePointsUsed, in.zones.values.map(_.count).sum))
    ops.check("request.tag_admin", tags.toSeq.flatMap { r =>
      val id = r.getString(0)
      eq(s"$id admin", (r.getString(1), r.getString(2)), in.admin(id))
    } ++ eq("features", tags.length, in.zones.size))
  }

  def finish(spark: SparkSession, s: Samples, ops: Ops): Unit = {
    // rows each decoder returned against the generator's manifest; counted
    // here, after the traced loop, so the counts add no engine work to it
    val rowsOut = decoded.map { case (name, df) => name -> df.count() }
    s.sourceRows = rowsOut.map(_._2).sum
    s.pointsProbed = rowsOut.collectFirst { case ("slope.tif", n) => n }.getOrElse(0L)
    ops.check("sources.rows_out", rowsOut.flatMap { case (name, n) =>
      val want = in.files.find(_.name == name).get.rows
      if (n == want) Nil else Seq(s"$name: $n rows, expected $want")
    })
    checkGold(spark, gold, in.lab, in.weatherYears, ops)
    ops.check("bronze rows", {
      val n = Bronze.read(spark, bronze.toString).count()
      if (n == in.lab.rows) Nil else Seq(s"$n, expected ${in.lab.rows}")
    })
    val malaria = spark.read.parquet(gold.resolve("hc_api_east").toString)
      .agg(count(lit(1)), sum("total_cases")).head()
    ops.check("malaria table",
      (if (malaria.getLong(0) == in.hmisSectors.toLong * in.weatherYears.size) Nil
      else Seq(s"rows ${malaria.getLong(0)}")) ++
        (if (malaria.getLong(1) == in.hmisCases) Nil else Seq(s"cases ${malaria.getLong(1)}")))
    val weatherTable = TableNames.weatherTableName("Kigali Aero", "Kigali Aero", "Gasabo",
      "Kimironko", in.weatherYears)
    val w = spark.read.parquet(gold.resolve(weatherTable).toString)
    ops.check("weather table",
      if (w.count() == 12L * in.weatherYears.size &&
          w.filter(col("monthly_temperature").isNull).count() == 0) Nil
      else Seq("grid is not 12 x years with every temperature filled"))
    val zones = spark.read.parquet(gold.resolve("geo_merge").toString)
      .select("boundary_id", "slope_points_used", "mean_slope", "max_slope", "min_slope")
      .collect()
    ops.check("geo_merge zonal stats", zones.toSeq.flatMap { r =>
      val got = Gen.Zone(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val exp = in.zones(r.getString(0))
      if (got == exp) Nil else Seq(s"${r.getString(0)}: $got, expected $exp")
    } ++ (if (zones.length == in.zones.size) Nil else Seq(s"${zones.length} boundaries")))
  }
}

/** The registered q191 CCNet curation chain over the generated corpus. */
final class CurationChain(docs: IndexedSeq[Gen.Doc], work: Path, out: Path) extends Workload {
  private val corpusDir = work.resolve("corpus")
  def store: Option[Path] = None

  private lazy val q191 = graft.SparkEntry.queries("q191_ccnet_pipeline")
  private var first: Option[Seq[Row]] = None

  def setup(spark: SparkSession): Unit = ()

  def cycle(spark: SparkSession, sp: Spans, s: Samples, ops: Ops): Unit = {
    val t0 = System.nanoTime()
    val rows = sp("cycle") {
      val r = sp("curation.q191")(q191(spark, corpusDir.toString).collect().toSeq)
      spark.catalog.clearCache()
      r
    }
    s.cycleNs += System.nanoTime() - t0
    s.docsIn += rows.map(_.getAs[Long]("docs_total")).sum
    s.docsKept += rows.map(r => Option(r.getAs[java.lang.Long]("after_budget")).map(_.toLong)
      .getOrElse(0L)).sum
    val sorted = rows.sortBy(_.getAs[String]("lang"))
    if (first.isEmpty) first = Some(sorted)
    ops.check("chain.q191",
      if (first.contains(sorted)) Nil else Seq("output differs from the first run's"))
  }

  def finish(spark: SparkSession, s: Samples, ops: Ops): Unit = {
    // the DuckDB oracle comparison runs after the process exits (run.py)
    Files.createDirectories(out)
    val rows = first.getOrElse(Nil)
    val json = Json.pretty(rows.map(r => ListMap(r.schema.fieldNames.toSeq.zip(r.toSeq): _*)))
    Files.write(out.resolve("q191_result.json"), json.getBytes("UTF-8"))
    Files.write(out.resolve("q191_oracle.sql"),
      graft.SparkEntry.oracleSql("q191_ccnet_pipeline").getBytes("UTF-8"))
  }

  /** Write the corpus as the `documents` parquet table q191 reads. */
  def writeCorpus(spark: SparkSession): Unit = {
    import spark.implicits._
    deleteTree(corpusDir)
    docs.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(corpusDir.resolve("documents.parquet").toString)
    Gen.writeManifest(corpusDir,
      Seq(("documents", docs.size.toLong, docs.map(_._2.length.toLong).sum)))
  }
}
