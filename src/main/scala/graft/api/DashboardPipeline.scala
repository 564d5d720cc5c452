package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.clean.CleanFunctions.pctRate

/** The reference's analytics-dashboard API surface
  * (analytics_dashboard/views.py) as declarative jobs over the cleaned lab
  * frame. The reference endpoints return placeholder arithmetic in several
  * spots (get_kpi_data's `total * 0.15`, views.py:260-263); this pipeline
  * computes the data-true versions of the same response shapes — the KPI
  * card, gender breakdown, monthly trend matrix, top-20 villages
  * (views.py:372-381) and location summary — each oracled (q73, q83-q86).
  *
  * Scale notes: every endpoint is one hash-aggregate over the lab frame
  * (map-side partial, narrow shuffle on the group key). The year-over-year
  * change in [[kpiData]] reads the per-YEAR aggregate — a frame of a few
  * rows — collected into one sorted list, never raw records.
  */
object DashboardPipeline {

  /** get_kpi_data: totals + data-true period change (latest year vs the
    * one before, the reference's hardcoded "5.2%" slot). One aggregate
    * over the per-year rows gives the totals and the years in ascending,
    * nulls-first order — so a null-year group is the "previous" row of
    * the first real year, as `lag` over `ORDER BY year` makes it.
    */
  def kpiData(lab: DataFrame): DataFrame = {
    val byYear = lab.groupBy("year").agg(
      count(lit(1)).as("n"),
      sum(when(col("is_positive"), 1L).otherwise(0L)).as("pos"),
      sum(when(col("test_result") === "Negative", 1L).otherwise(0L)).as("neg"))
    // an empty lab frame still yields one (zeroed) card: a global
    // aggregate always returns a row, and an empty year list reads as
    // null latest/previous values (pctChangeStr handles those)
    val card = byYear.agg(
      coalesce(sum("n"), lit(0L)).as("total_tests"),
      sum("pos").as("total_positive"),
      sum("neg").as("total_negative"),
      sort_array(collect_list(struct(col("year"), col("pos"), col("neg")))).as("years"))
    val latest = try_element_at(col("years"), lit(-1))
    val previous = try_element_at(col("years"), lit(-2))
    card.select(
      col("total_tests"), col("total_positive"), col("total_negative"),
      pctRate(col("total_positive"), col("total_tests")).as("avg_positivity_rate"),
      pctChangeStr(latest("pos"), previous("pos")).as("positive_change"),
      pctChangeStr(latest("neg"), previous("neg")).as("negative_change"))
  }

  /** "+5.2%"-style change string (1 decimal, banker's rounding like every
    * other reference rate; 0.0% when there is no prior period).
    */
  private def pctChangeStr(cur: Column, prev: Column): Column =
    concat(
      when(prev.isNull || prev === 0, lit(0.0))
        .otherwise(bround((cur - prev).cast("double") / prev * 100.0, 1))
        .cast("string"),
      lit("%"))

  /** get_gender_analysis: counts per gender, most common first. */
  def genderAnalysis(lab: DataFrame): DataFrame =
    lab.groupBy("gender")
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col("gender"))

  /** get_monthly_trend: positivity-rate matrix, one row per month with one
    * column per requested year (the reference's labels/series response).
    * Conditional aggregation instead of a Pivot node: one hash-aggregate
    * pass, a static schema, and months with no data in a year get the 0.0
    * no-data rate (a pivot would leave an ambiguous NULL).
    */
  def monthlyTrend(lab: DataFrame, years: Seq[Int]): DataFrame = {
    val cols = years.map(y =>
      pctRate(
        sum(when(col("year") === y && col("is_positive"), 1L).otherwise(0L)),
        count(when(col("year") === y, 1))).as(s"y$y"))
    lab.groupBy("month")
      .agg(cols.head, cols.tail: _*)
      .orderBy("month")
  }

  /** get_location_summary: tests + distinct facilities per location level
    * (district/sector/province), busiest first.
    */
  def locationSummary(lab: DataFrame, level: String = "district"): DataFrame =
    lab.groupBy(level)
      .agg(count(lit(1)).as("total_tests"),
        countDistinct("village").as("num_villages"))
      .orderBy(desc("total_tests"), col(level))

  /** get_villages_data: top-20 villages by positivity (min 10 tests) —
    * the q73/J8 shape, kept here as the API entry point.
    */
  def topVillages(lab: DataFrame, minTests: Int = 10, k: Int = 20): DataFrame =
    lab.groupBy("village")
      .agg(count(lit(1)).as("total_tests"),
        sum(when(col("is_positive"), 1L).otherwise(0L)).as("positive_cases"))
      .filter(col("total_tests") >= minTests)
      .withColumn("positivity_rate",
        pctRate(col("positive_cases"), col("total_tests")))
      .orderBy(desc("positivity_rate"), col("village"))
      .limit(k)
}
