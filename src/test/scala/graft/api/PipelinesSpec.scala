package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("TableNames.dynamicTableName reference parity") {
    assert(TableNames.dynamicTableName("health_center_lab_data") == "hc_raw")
    assert(TableNames.dynamicTableName("hc_analytics_yearly_statistics",
      Some("Gasabo"), Some("Remera")) == "yearly_statist_gasabo_remera")
    assert(TableNames.dynamicTableName("hc_analytics_total_summary",
      Some("Kigali City"), None) == "hc_data_sum_kigalicity")
    // 'all' and digits-only parts are dropped
    assert(TableNames.dynamicTableName("hc_raw", Some("all"), Some("123")) == "hc_raw")
    // 63-char budget fitting keeps the base and truncates locations
    val long = TableNames.dynamicTableName("hc_analytics_village_pos_by_year",
      Some("a" * 40), Some("b" * 40))
    assert(long.length <= 63)
    assert(long.startsWith("hc_data_village_pos_"))
    assert(TableNames.simpleTableName("hc", Some("Ga sabo"), None, Seq(2023, 2021, 2023))
      == "hc_gasabo_2021_2023")
  }

  test("TableNames.weatherTableName reference parity") {
    // goldens from the reference's _generate_monthly_weather_table_name
    // run standalone (weather_data_prec_temp_etl_view.py:97-132)
    assert(TableNames.weatherTableName("stprec", "sttemp", "Kigali", "all", Seq(2023))
      == "weather_stprec_prec_and_sttemp_temp_kigali_all")
    assert(TableNames.weatherTableName("", "St. Témp-1", "", "Remera")
      == "weather_unknown_prec_and_st_t_mp_1_temp_unknown_remera")
    // >60 chars: proportional re-fit under the year-part budget
    assert(TableNames.weatherTableName("Kigali Meteorological Station Alpha",
      "Butare Temperature Observatory", "Nyarugenge District",
      "Kimisagara Sector", Seq(2021, 2022))
      == "weather_kigal_prec_and_butar_temp_nyaru_kimisaga")
    // >3 years collapse to min_max in the budget arithmetic
    assert(TableNames.weatherTableName("Kigali Meteorological Station Alpha",
      "Butare Temperature Observatory", "Nyarugenge District",
      "Kimisagara Sector", Seq(2018, 2019, 2020, 2021))
      == "weather_kigal_prec_and_butar_temp_nyaru_kimisaga")
    assert(TableNames.weatherTableName("A", "B", "C", "D")
      == "weather_a_prec_and_b_temp_c_d")
  }

  test("WeatherPipeline.run: tracked run saves the reference table name") {
    val precip = Seq(("2023", "1", 100.5), ("2023", "2", 80.0))
      .toDF("Year", "Month", "PRECIP").repartition(4)
    val temp = Seq(("2023", "1", 25.0), ("2023", "3", 18.0))
      .toDF("Year", "Month", "TMPMAX").repartition(4)
    val dir = Files.createTempDirectory("weather_run").toString
    val id = ProgressTracker.createProcess()

    val (merged, table, n) = WeatherPipeline.run(spark, precip, temp, Seq(2023),
      "Kigali", "all", "stprec", "sttemp", processId = Some(id), outDir = Some(dir))
    assert(table == "weather_stprec_prec_and_sttemp_temp_kigali_all")
    assert(n == 12)
    assert(spark.read.parquet(s"$dir/$table").count() == 12)

    val fin = ProgressTracker.getStatus(id)
    assert(fin.completed && fin.stage == "completed" && fin.progress == 100)
    assert(fin.message == s"Successfully saved 12 weather records to '$table'")
    val events = ProgressTracker.history(id)
    assert(events.map(_._1).distinct
      .containsSlice(Seq("validation", "processing", "merging", "completed")),
      s"stages: ${events.map(_._1).distinct}")
    // monotone percents within each tracked span
    events.groupBy(e => (e._1, e._2)).foreach { case (span, evs) =>
      val ps = evs.map(_._3)
      assert(ps == ps.sorted, s"non-monotone percents in $span: $ps")
    }
    merged.unpersist()
  }

  test("WeatherPipeline: golden merge with fill ladder and uuid5 ids") {
    // fixture mirrors the reference's SQL test seed (FIXTURES.md §5):
    // Jan-2023 precip 100.5 + 200.0 -> 150.25; Jan-2023 temp 25.0 + 30.0 -> 27.5
    val precip = Seq(("2023", "1", 100.5), ("2023", "January", 200.0), ("2023", "2", 80.0))
      .toDF("Year", "Month", "PRECIP")
    val temp = Seq(("2023", "1", 25.0), ("2023", "jan", 30.0), ("2023", "3", 18.0))
      .toDF("Year", "Month", "TMPMAX")
    val out = WeatherPipeline.monthlyMerge(spark, precip, temp, Seq(2023),
      "Kigali", "all", "stprec", "sttemp").collect()
    assert(out.length == 12) // full 12-month grid
    val jan = out.find(_.getAs[Int]("month") == 1).get
    assert(jan.getAs[Double]("monthly_precipitation") == 150.25)
    assert(jan.getAs[Double]("monthly_temperature") == 27.5)
    // uuid5 byte-parity: python uuid5(NAMESPACE_DNS, '2023_1_kigali_all_stprec_sttemp')
    assert(jan.getAs[String]("unique_id") == "99805989-eb6c-5509-88d1-3cf1af6c9069")
    assert(jan.getAs[String]("metadata") ==
      "prec station: stprec - monthly prec, temp station: sttemp - monthly temp, district: Kigali")
    // month 2: precip present, temp falls back to yearly avg of all temps
    val feb = out.find(_.getAs[Int]("month") == 2).get
    assert(feb.getAs[Double]("monthly_precipitation") == 80.0)
    assert(feb.getAs[Double]("monthly_temperature") == bd(Seq(25.0, 30.0, 18.0))) // yearly avg 24.33
    // month 4+: no data at all -> precip 0.0, temp yearly avg
    val apr = out.find(_.getAs[Int]("month") == 4).get
    assert(apr.getAs[Double]("monthly_precipitation") == 0.0)
    assert(apr.getAs[Double]("monthly_temperature") == bd(Seq(25.0, 30.0, 18.0)))
  }

  private def bd(xs: Seq[Double]): Double =
    BigDecimal(xs.sum / xs.size).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  test("WeatherPipeline: no temp at all -> 20.0 default") {
    val precip = Seq(("2024", "1", 10.0)).toDF("Year", "Month", "PRECIP")
    val temp = Seq.empty[(String, String, Double)].toDF("Year", "Month", "TMPMAX")
    val out = WeatherPipeline.monthlyMerge(spark, precip, temp, Seq(2024),
      "", "all", "", "").collect()
    assert(out.forall(_.getAs[Double]("monthly_temperature") == 20.0))
    assert(out.find(_.getAs[Int]("month") == 1).get
      .getAs[Double]("monthly_precipitation") == 10.0)
  }

  test("MalariaApiPipeline: wide->long unpivot with WHO risk categories") {
    val wide = Seq(
      ("East", "Rwamagana", "Muhazi", 120.0, 10000.0, 11.9, 30.0, 12000.0, 2.4),
      ("East", "Rwamagana", "Karenge", 0.0, 8000.0, 0.0, 600.0, 8000.0, 74.0)
    ).toDF("Province", "District", "Sector",
      "Total Cases_2021", "Pop2021", "Incidence_2021",
      "Total Cases_2022", "Pop2022", "Incidence_2022")
    assert(MalariaApiPipeline.discoverYears(wide) == Seq(2021, 2022))
    val long = MalariaApiPipeline.calculate(wide, "hmis-test").collect()
    assert(long.length == 4)
    val muh21 = long.find(r => r.getAs[String]("sector") == "Muhazi" && r.getAs[Int]("year") == 2021).get
    assert(muh21.getAs[Int]("total_cases") == 120)
    assert(muh21.getAs[Double]("api") == 12.0) // 120/10000*1000
    assert(muh21.getAs[String]("risk_category") == "Moderate Risk")
    assert(!muh21.getAs[Boolean]("high_burden"))
    val kar21 = long.find(r => r.getAs[String]("sector") == "Karenge" && r.getAs[Int]("year") == 2021).get
    assert(kar21.getAs[Double]("api") == 0.0)
    assert(kar21.getAs[String]("risk_category") == "No Transmission")
    assert(kar21.getAs[Boolean]("elimination_target"))
    val kar22 = long.find(r => r.getAs[String]("sector") == "Karenge" && r.getAs[Int]("year") == 2022).get
    assert(kar22.getAs[Double]("api") == 75.0)
    assert(kar22.getAs[String]("risk_category") == "High Risk")
    assert(kar22.getAs[Boolean]("high_burden"))

    val hier = MalariaApiPipeline.locationHierarchy(
      MalariaApiPipeline.calculate(wide, "hmis-test")).collect()
    assert(hier.length == 1)
    assert(hier.head.getAs[scala.collection.Seq[String]]("sectors").toSeq ==
      Seq("Karenge", "Muhazi"))
  }

  test("LabPipeline end-to-end: filter, analytics, write, table names") {
    val raw = Seq(
      ("2023", "1", "Gasabo", "Remera", "HC1", "V1", "25", "M", "POSITIVE"),
      ("2023", "1", "Gasabo", "Remera", "HC1", "V1", "30", "F", "negative"),
      ("2023", "2", "Gasabo", "Remera", "HC1", "V2", "40", "M", "neg"),
      ("2023", "2", "Nyarugenge", "Kimisagara", "HC2", "V3", "22", "F", "pos")
    ).toDF("Year", "Month", "District", "Sector", "Health Center", "Village",
      "Age", "Gender", "Slide Status")
    val dir = Files.createTempDirectory("lab_pipeline").toString
    val res = LabPipeline.run(spark, raw,
      LabPipeline.Params(years = Seq(2023), district = Some("gasabo")),
      Some(dir))
    assert(res.rawRecords == 3) // Nyarugenge filtered out, case-insensitive match
    assert(res.tableNamesCreated.head == "hc_raw_gasabo")
    assert(res.tableNamesCreated.contains("yearly_statist_gasabo"))
    val yearly = spark.read.parquet(s"$dir/yearly_statist_gasabo").collect()
    assert(yearly.length == 1)
    assert(yearly.head.getAs[Long]("total_tests") == 3)
    assert(yearly.head.getAs[Long]("positive_cases") == 1)
    val rawBack = spark.read.parquet(s"$dir/hc_raw_gasabo")
    assert(rawBack.count() == 3)
    assert(rawBack.columns.contains("filter_district"))
  }

  test("LabPipeline append mode: analytics reflect the merged store, not the batch") {
    def batch(year: String) = Seq(
      (year, "1", "Gasabo", "Remera", "HC1", "V1", "25", "M", "POSITIVE"),
      (year, "2", "Gasabo", "Remera", "HC1", "V2", "30", "F", "negative")
    ).toDF("Year", "Month", "District", "Sector", "Health Center", "Village",
      "Age", "Gender", "Slide Status")
    val dir = Files.createTempDirectory("lab_append").toString
    LabPipeline.run(spark, batch("2023"),
      LabPipeline.Params(years = Seq(2023)), Some(dir))
    LabPipeline.run(spark, batch("2024"),
      LabPipeline.Params(years = Seq(2024), updateMode = "append"), Some(dir))
    // raw store holds both batches...
    assert(spark.read.parquet(s"$dir/hc_raw").count() == 4)
    // ...and the OVERWRITTEN yearly analytics still cover BOTH years (the
    // batch-only regression dropped 2023 from the recomputed table)
    val years = spark.read.parquet(s"$dir/yearly_statist")
      .select("year").collect().map(_.getInt(0)).sorted.toSeq
    assert(years == Seq(2023, 2024))
  }

  test("ProgressTracker: staged LabPipeline run emits monotone percents") {
    val raw = (1 to 200).map { i =>
      ("2023", (i % 12 + 1).toString, "Gasabo", "Remera", s"HC${i % 3}",
        s"V${i % 10}", (20 + i % 40).toString, if (i % 2 == 0) "M" else "F",
        if (i % 3 == 0) "POSITIVE" else "negative")
    }.toDF("Year", "Month", "District", "Sector", "Health Center", "Village",
      "Age", "Gender", "Slide Status").repartition(8)
    val dir = Files.createTempDirectory("lab_progress").toString
    val id = ProgressTracker.createProcess()
    assert(ProgressTracker.getStatus(id).stage == "upload")
    assert(ProgressTracker.getStatus(id).message == "Initializing...")

    LabPipeline.run(spark, raw, LabPipeline.Params(years = Seq(2023)),
      Some(dir), processId = Some(id))

    val fin = ProgressTracker.getStatus(id)
    assert(fin.completed && fin.stage == "completed" && fin.progress == 100)
    assert(fin.processingTimeSeconds.exists(_ > 0))
    assert(fin.message.startsWith("Created 6 tables"))

    val events = ProgressTracker.history(id)
    // every reference stage fires, in vocabulary order
    val stagesSeen = events.map(_._1).distinct
    assert(stagesSeen.containsSlice(Seq("validation", "processing", "merging", "completed")),
      s"stages: $stagesSeen")
    // percents are monotone non-decreasing within each tracked span (a
    // stage name recurs — extract and analytics both run as "processing"
    // — so spans are identified by stage + message)
    events.groupBy(e => (e._1, e._2)).foreach { case (span, evs) =>
      val ps = evs.map(_._3)
      assert(ps == ps.sorted, s"non-monotone percents in $span: $ps")
    }
    // the listener produced real intermediate task-derived percents
    val processing = events.filter(_._1 == "processing").map(_._3)
    assert(processing.exists(p => p > 0 && p < 100),
      s"no intermediate task percents: $processing")
  }

  test("ProgressTracker: reference status semantics") {
    val ghost = ProgressTracker.getStatus("nope")
    assert(ghost.stage == "unknown" && ghost.error.contains("Invalid process ID"))
    val id = ProgressTracker.createProcess()
    ProgressTracker.update(id, 2, 40, "working", error = Some("boom"))
    val st = ProgressTracker.getStatus(id)
    assert(st.completed && st.error.contains("boom") && st.stage == "processing")
    assert(ProgressTracker.cleanupOldProcesses(hours = 0) >= 1)
    assert(ProgressTracker.getStatus(id).stage == "unknown")
  }

  test("YearsParser: every accepted form normalizes to sorted distinct ints") {
    assert(YearsParser.parse("[2021, 2022, 2023]") == Seq(2021, 2022, 2023))
    assert(YearsParser.parse("2023,2021,2021") == Seq(2021, 2023))
    assert(YearsParser.parse("2021") == Seq(2021))
    assert(YearsParser.parse("2020-2023") == Seq(2020, 2021, 2022, 2023))
    assert(YearsParser.parse("[2021, abc, 2022]") == Seq(2021, 2022)) // non-digits skipped
    assert(YearsParser.parse("") == Nil)
    assert(YearsParser.parse(null) == Nil)
    assert(YearsParser.parseAny(Seq("2022", 2021, "x")) == Seq(2021, 2022))
    assert(YearsParser.parseAny(2024) == Seq(2024))
    assert(YearsParser.parseAny(2024.0) == Seq(2024))
  }

  private def labBatch(year: String, n: Int) = (1 to n).map { i =>
    (year, (i % 12 + 1).toString, "Gasabo", "Remera", s"HC${i % 3}", s"V${i % 7}",
      (20 + i % 40).toString, if (i % 2 == 0) "M" else "F",
      if (i % 3 == 0) "POSITIVE" else "negative")
  }.toDF("Year", "Month", "District", "Sector", "Health Center", "Village",
    "Age", "Gender", "Slide Status")

  private def assertCountsMatchStore(res: LabPipeline.Result, dir: String): Unit = {
    assert(res.analyticsCounts.keySet == res.tableNamesCreated.tail.toSet)
    res.analyticsCounts.foreach { case (name, n) =>
      assert(spark.read.parquet(s"$dir/$name").count() == n, name)
    }
  }

  test("LabPipeline: analytics counts come from the writes, in replace and append mode") {
    val dir = Files.createTempDirectory("lab_counts").toString
    val (first, tag) = graft.QueryProfile.tagged(spark, "lab") {
      LabPipeline.run(spark, labBatch("2023", 60), LabPipeline.Params(years = Seq(2023)),
        Some(dir))
    }
    assertCountsMatchStore(first, dir)
    assert(first.analyticsCounts("yearly_statist") == 1)
    // the lineage pin is the only count the run makes
    val counts = graft.QueryProfile.read(spark, tag).jobs
      .filter(_.name.startsWith("count at LabPipeline"))
    assert(counts.size == 1, counts)

    val second = LabPipeline.run(spark, labBatch("2024", 40),
      LabPipeline.Params(years = Seq(2024), updateMode = "append"), Some(dir))
    assertCountsMatchStore(second, dir)
    assert(second.analyticsCounts("yearly_statist") == 2)
    assert(spark.read.parquet(s"$dir/hc_raw").count() == 100)
  }

  test("LabPipeline without a save counts each analytics table") {
    val res = LabPipeline.run(spark, labBatch("2023", 30),
      LabPipeline.Params(years = Seq(2023), saveToDb = false))
    assert(res.analyticsCounts("yearly_statist") == 1)
    assert(res.analyticsCounts("hc_data_sum") == 1)
    assert(res.analyticsCounts("hc_data_monthly_pos") == 12)
  }

  test("WeatherPipeline.run counts the grid with and without a save") {
    val precip = Seq(("2022", "1", 10.0), ("2023", "2", 80.0)).toDF("Year", "Month", "PRECIP")
    val temp = Seq(("2023", "1", 25.0)).toDF("Year", "Month", "TMPMAX")
    val dir = Files.createTempDirectory("weather_counts").toString
    for (out <- Seq(Some(dir), None)) {
      val (merged, table, n) = WeatherPipeline.run(spark, precip, temp, Seq(2022, 2023),
        "Kigali", "all", "p", "t", outDir = out)
      assert(n == 24, out)
      assert(merged.count() == 24)
      out.foreach(d => assert(spark.read.parquet(s"$d/$table").count() == 24))
      merged.unpersist()
    }
  }

  private def partFiles(dir: String): Int =
    new java.io.File(dir).list().count(_.startsWith("part-"))

  test("a saved weather grid and geo merge are each written as one part file") {
    // small pins fill in as few tasks as their data needs, not one per
    // shuffle partition of the session
    val months = for (y <- 2019 to 2023; m <- 1 to 12) yield (y.toString, m.toString, m * 10.0)
    val precip = months.toDF("Year", "Month", "PRECIP")
    val temp = months.map { case (y, m, _) => (y, m, 25.0) }.toDF("Year", "Month", "TMPMAX")
    val wdir = Files.createTempDirectory("weather_parts").toString
    val (grid, table, n) = WeatherPipeline.run(spark, precip, temp, 2019 to 2023,
      "Kigali", "all", "p", "t", outDir = Some(wdir))
    assert(n == 60)
    assert(partFiles(s"$wdir/$table") == 1)
    grid.unpersist()

    val cells = for (i <- 0 until 8; j <- 0 until 8) yield
      (s"c$i$j", Seq(Seq(Seq(i * 10.0, j * 10.0), Seq(i * 10.0 + 10, j * 10.0),
        Seq(i * 10.0 + 10, j * 10.0 + 10), Seq(i * 10.0, j * 10.0 + 10), Seq(i * 10.0, j * 10.0))))
    // one partition, as ShapefileZip.read gives
    val boundaries = spark.sparkContext.parallelize(cells, 1).toDF("boundary_id", "geom")
    val samples = (for (x <- 0 until 80 by 3; y <- 0 until 80 by 3) yield (x + 0.5, y + 0.5, 1.0 * x))
      .toDF("x", "y", "value")
    val gdir = Files.createTempDirectory("geo_parts").toString + "/merged"
    val (merged, stats) = GeoPipeline.run(spark, boundaries, samples, outDir = Some(gdir))
    assert(stats.totalBoundaryFeatures == 64 && stats.processedFeatures == 64)
    assert(partFiles(gdir) == 1)
    merged.unpersist()
  }

  test("GeoPipeline.MergeStats with and without a save, duplicate boundary ids included") {
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      Seq(Seq(Seq(x0, y0), Seq(x1, y0), Seq(x1, y1), Seq(x0, y1), Seq(x0, y0)))
    val boundaries = Seq(
      ("a", rect(0, 0, 10, 10)),
      ("a", rect(0, 0, 10, 10)), // the same id twice: one stats row, two merged rows
      ("b", rect(10, 0, 20, 10)),
      ("empty", rect(30, 30, 40, 40))).toDF("boundary_id", "geom")
    val samples = Seq((1.0, 1.0, 2.0), (2.0, 2.0, 4.0), (11.0, 1.0, 20.0), (50.0, 50.0, 9.0))
      .toDF("x", "y", "value")
    val dir = Files.createTempDirectory("geo_counts").toString + "/merged"
    for (out <- Seq(Some(dir), None)) {
      val (merged, stats) = GeoPipeline.run(spark, boundaries, samples, outDir = out)
      assert(stats == GeoPipeline.MergeStats(
        totalBoundaryFeatures = 4, processedFeatures = 2, slopePointsUsed = 3), out)
      assert(merged.count() == 4)
      out.foreach(d => assert(spark.read.parquet(d).count() == 4))
      merged.unpersist()
    }
  }
}
