package graft.api

import graft.SparkSpec

/** The KPI card's year-over-year change: the latest year against the one
  * before it in ascending, nulls-first order — a null-year group counts as
  * the year before the first real one, as `lag` over `ORDER BY year` does.
  */
class DashboardPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def lab(rows: (Option[Int], String)*) =
    rows.map { case (y, r) => (y, r == "Positive", r) }
      .toDF("year", "is_positive", "test_result")

  private def card(rows: (Option[Int], String)*) = {
    val r = DashboardPipeline.kpiData(lab(rows: _*)).collect()
    assert(r.length == 1)
    r.head
  }

  test("kpiData compares the latest year with the one before it") {
    val r = card(
      None -> "Positive", None -> "Negative",
      Some(2021) -> "Positive", Some(2021) -> "Negative", Some(2021) -> "Negative",
      Some(2022) -> "Positive", Some(2022) -> "Positive", Some(2022) -> "Positive",
      Some(2022) -> "Negative")
    assert(r.getAs[Long]("total_tests") == 9)
    assert(r.getAs[Long]("total_positive") == 5)
    assert(r.getAs[Long]("total_negative") == 4)
    assert(r.getAs[Double]("avg_positivity_rate") == 55.56)
    // 2022 against 2021: pos 3 vs 1, neg 1 vs 2
    assert(r.getAs[String]("positive_change") == "200.0%")
    assert(r.getAs[String]("negative_change") == "-50.0%")
  }

  test("kpiData: a null-year group is the previous row of the first real year") {
    val r = card(
      None -> "Positive", None -> "Negative", None -> "Negative",
      Some(2023) -> "Positive", Some(2023) -> "Positive", Some(2023) -> "Negative")
    // 2023 against the null-year group: pos 2 vs 1, neg 1 vs 2
    assert(r.getAs[String]("positive_change") == "100.0%")
    assert(r.getAs[String]("negative_change") == "-50.0%")
  }

  test("kpiData: a single year has no change") {
    val r = card(Some(2023) -> "Positive", Some(2023) -> "Negative")
    assert(r.getAs[Long]("total_tests") == 2)
    assert(r.getAs[Double]("avg_positivity_rate") == 50.0)
    assert(r.getAs[String]("positive_change") == "0.0%")
    assert(r.getAs[String]("negative_change") == "0.0%")
  }

  test("kpiData: an empty frame gives one zeroed card") {
    val r = card()
    assert(r.getAs[Long]("total_tests") == 0)
    assert(r.isNullAt(r.fieldIndex("total_positive")))
    assert(r.isNullAt(r.fieldIndex("total_negative")))
    assert(r.getAs[Double]("avg_positivity_rate") == 0.0)
    assert(r.getAs[String]("positive_change") == "0.0%")
    assert(r.getAs[String]("negative_change") == "0.0%")
  }
}
