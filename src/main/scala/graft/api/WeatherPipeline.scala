package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.CleanFunctions._

/** The monthly precipitation × temperature merge pipeline — the reference's
  * hand-rolled dict merge re-expressed as two aggregates full-outer-joined
  * onto a generated (year × month) grid with the coalesce fill ladder
  * (weather_data_prec_temp_etl_view.py:319-528; SURVEY.md §3.2, A6-A8 +
  * J1-J2 + F12).
  *
  * Semantics preserved from the reference:
  *  - precip: monthly mean of non-negative PRECIP, Python-round(x,2)
  *    (banker's) via bround; missing → 0.0
  *  - temp fill ladder: monthly mean → that station-year's yearly mean →
  *    global mean of all monthly temps → 20.0 (order matters)
  *  - unique_id = uuid5(NAMESPACE_DNS,
  *    "{year}_{month}_{district}_{sector}_{prec}_{temp}".lower()) —
  *    byte-parity with Python's uuid5
  *  - metadata string format verbatim
  *
  * Scale: both aggregates reduce map-side to (years × 12) rows per station;
  * the grid join is broadcast-trivial. No full-data shuffle at any point.
  */
object WeatherPipeline {

  /** @param precip raw precip observations: Year, Month, PRECIP
    * @param temp   raw temp observations: Year, Month, TMPMAX
    */
  def monthlyMerge(
      spark: SparkSession,
      precip: DataFrame,
      temp: DataFrame,
      years: Seq[Int],
      district: String,
      sector: String,
      precStation: String,
      tempStation: String): DataFrame = {

    val yearsCol = years.map(lit(_))

    val precipAgg = precip
      .select(cleanInteger(col("Year")).as("year"), cleanMonth(col("Month")).as("month"),
        col("PRECIP").cast("double").as("prec"))
      .filter(col("year").isin(years: _*) && col("month").isNotNull && col("prec") >= 0)
      .groupBy("year", "month")
      .agg(bround(avg("prec"), 2).as("monthly_precipitation"))

    val tempClean = temp
      .select(cleanInteger(col("Year")).as("year"), cleanMonth(col("Month")).as("month"),
        col("TMPMAX").cast("double").as("tmp"))
      .filter(col("year").isin(years: _*) && col("tmp").between(-50, 60))

    val tempMonthly = tempClean.filter(col("month").isNotNull)
      .groupBy("year", "month")
      .agg(bround(avg("tmp"), 2).as("monthly_temp"))

    val tempYearly = tempClean.groupBy("year")
      .agg(bround(avg("tmp"), 2).as("yearly_temp"))

    val globalTemp = tempMonthly.agg(bround(avg("monthly_temp"), 2).as("global_temp"))

    val grid = spark.range(1, 13).select(col("id").cast("int").as("month"))
      .crossJoin(spark.createDataFrame(years.map(Tuple1(_))).toDF("year"))

    val distName = if (district.nonEmpty) district else "districtmissing"
    val key = lower(concat_ws("_",
      col("year"), col("month"), lit(distName), lit(sector),
      lit(if (precStation.nonEmpty) precStation else "unknown"),
      lit(if (tempStation.nonEmpty) tempStation else "unknown")))

    grid
      .join(precipAgg, Seq("year", "month"), "left")
      .join(tempMonthly, Seq("year", "month"), "left")
      .join(tempYearly, Seq("year"), "left")
      .crossJoin(broadcast(globalTemp))
      .select(
        uuid5Dns(key).as("unique_id"),
        col("year"), col("month"),
        bround(coalesce(col("monthly_precipitation"), lit(0.0)), 2).as("monthly_precipitation"),
        coalesce(col("monthly_temp"), col("yearly_temp"), col("global_temp"), lit(20.0))
          .as("monthly_temperature"),
        concat(lit("prec station: "), lit(if (precStation.nonEmpty) precStation else "unknown"),
          lit(" - monthly prec, temp station: "), lit(if (tempStation.nonEmpty) tempStation else "unknown"),
          lit(" - monthly temp, district: "), lit(distName)).as("metadata"),
        lit(district).as("district"),
        lit(sector).as("sector"),
        lit(precStation).as("prec_station"),
        lit(tempStation).as("temp_station"),
        formatTimestamp(current_timestamp()).as("created_at"),
        formatTimestamp(current_timestamp()).as("updated_at"))
      .orderBy("year", "month")
  }

  /** [[monthlyMerge]] with the reference ETL's run surface: staged progress
    * (the `WEATHER PROGRESS: n/total records inserted` checkpoints every
    * 1000 rows, weather_data_prec_temp_etl_view.py:679-681, become
    * [[ProgressTracker]] task-level percents — the engine writes files, not
    * row-at-a-time INSERTs, so the per-1000 counter has no analogue), the
    * reference's dynamic table name ([[TableNames.weatherTableName]]), an
    * optional replace-mode save, and the
    * `Successfully saved N weather records to 'table'` terminal message
    * (:693-695). The grid is computed once: with a save, N is the row
    * count of the write itself (no count before it); without one, a
    * count computes the grid and fills the pin.
    *
    * @return (merged frame — persisted, caller may unpersist —, table name,
    *   record count)
    */
  def run(
      spark: SparkSession,
      precip: DataFrame,
      temp: DataFrame,
      years: Seq[Int],
      district: String,
      sector: String,
      precStation: String,
      tempStation: String,
      processId: Option[String] = None,
      outDir: Option[String] = None): (DataFrame, String, Long) = {
    def tracked[T](stage: Int, msg: String)(body: => T): T =
      processId.map(ProgressTracker.trackStage(spark, _, stage, msg)(body)).getOrElse(body)

    processId.foreach(ProgressTracker.update(_, 1, 100, "Validating input columns"))
    val merged = monthlyMerge(spark, precip, temp, years, district, sector,
      precStation, tempStation).persist()
    val table = TableNames.weatherTableName(precStation, tempStation, district,
      sector, years)
    // one action computes the grid, fills the pin and counts it: the
    // write when saving, a count otherwise
    val n = outDir match {
      case Some(dir) =>
        tracked(2, "Computing monthly precipitation and temperature records")(())
        tracked(3, s"Saving weather records to '$table'")(
          graft.io.Writers.overwrite(merged, s"$dir/$table"))
      case None =>
        tracked(2, "Computing monthly precipitation and temperature records")(
          merged.count())
    }
    processId.foreach(ProgressTracker.complete(_,
      s"Successfully saved $n weather records to '$table'"))
    (merged, table, n)
  }
}
