package graft.api

import graft.{QueryProfile, SparkSpec}
import java.nio.file.Files

/** A warm engine compiles each generated class once: running the same
  * healthflow requests again finds every class in Spark's codegen cache.
  * `LabPipeline` and `MalariaApiPipeline` are left out: Spark inlines the
  * seed of each `uuid()` into its generated source, so their id stages
  * compile anew on every run by design, and part of `LabPipeline`'s code
  * is generated with different variable numbering from run to run.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private lazy val labPath = {
    val dir = Files.createTempDirectory("codegen_lab").toString + "/lab"
    (0 until 2000).map { i =>
      val positive = i % 3 == 0
      (2021 + i % 3, 1 + i % 12, positive, if (positive) "Positive" else "Negative",
        if (i % 2 == 0) "F" else "M", s"d${i % 5}", s"v${i % 37}")
    }.toDF("year", "month", "is_positive", "test_result", "gender", "district", "village")
      .repartition(4).write.parquet(dir)
    dir
  }

  /** One pass of the weather, dashboard and geo requests, each on frames
    * built afresh, as a new request builds them.
    */
  private def requests(): Unit = {
    val months = for (y <- 2021 to 2023; m <- 1 to 12) yield (y.toString, m.toString, m * 10.0)
    val precip = months.toDF("Year", "Month", "PRECIP").repartition(4)
    val temp = months.map { case (y, m, _) => (y, m, 25.0) }.toDF("Year", "Month", "TMPMAX")
    val (grid, _, n) = WeatherPipeline.run(spark, precip, temp, 2021 to 2023,
      "Kigali", "all", "p", "t", outDir = Some(Files.createTempDirectory("codegen_weather").toString))
    assert(n == 36)
    grid.unpersist()

    val lab = spark.read.parquet(labPath)
    Seq(DashboardPipeline.kpiData(lab), DashboardPipeline.genderAnalysis(lab),
      DashboardPipeline.monthlyTrend(lab, 2021 to 2023),
      DashboardPipeline.locationSummary(lab, "district"), DashboardPipeline.topVillages(lab))
      .foreach(r => assert(r.collect().nonEmpty))

    val cells = for (i <- 0 until 4; j <- 0 until 4) yield
      (s"c$i$j", Seq(Seq(Seq(i * 10.0, j * 10.0), Seq(i * 10.0 + 10, j * 10.0),
        Seq(i * 10.0 + 10, j * 10.0 + 10), Seq(i * 10.0, j * 10.0 + 10), Seq(i * 10.0, j * 10.0))))
    val boundaries = cells.toDF("boundary_id", "geom")
    val samples = (for (x <- 0 until 40 by 3; y <- 0 until 40 by 3) yield (x + 0.5, y + 0.5, 1.0 * x))
      .toDF("x", "y", "value")
    val (merged, stats) = GeoPipeline.run(spark, boundaries, samples,
      outDir = Some(Files.createTempDirectory("codegen_geo").toString + "/merged"))
    assert(stats.processedFeatures == 16)
    merged.unpersist()
  }

  test("a second pass of the weather, dashboard and geo requests compiles no class") {
    val (_, cold) = QueryProfile.tagged(spark, "cold")(requests())
    val (_, warm) = QueryProfile.tagged(spark, "warm")(requests())
    assert(cold.compiles > 0, cold)
    assert(warm.compiles == 0, s"recompiled $warm after $cold")
  }
}
