package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{HealthAnalytics, LabTransform}
import graft.io.Writers

/** The flagship health-center lab ETL endpoint re-expressed as one driver
  * program (SURVEY.md §3.1): filter discovery → extract → transform →
  * 5 analytics → load, with the reference's request parameters preserved.
  * The per-filter dynamic TABLE NAMES become output subdirectories (the
  * engine partitions instead of mangling table names, §1.1).
  *
  * The load is one commit ([[Writers.overwriteAll]]): the raw table (in
  * replace mode) and the five analytics tables are written concurrently
  * to staging, and none goes live unless all of them staged — a failure
  * leaves every table of the previous run in place. Each analytics plan
  * runs once: its row count comes from its write, not from a count
  * before it.
  */
object LabPipeline {

  final case class Params(
      years: Seq[Int] = Nil,
      district: Option[String] = None,
      sector: Option[String] = None,
      updateMode: String = "replace", // replace | append
      tablePrefix: String = "health_center_lab_data",
      calculateAnalytics: Boolean = true,
      saveToDb: Boolean = true)

  final case class Result(
      tableNamesCreated: Seq[String],
      rawRecords: Long,
      analyticsCounts: Map[String, Long],
      processingTimeSeconds: Double)

  private val analyticsBases = Seq(
    "hc_analytics_yearly_statistics" -> ((df: DataFrame) => HealthAnalytics.yearlySlideStatus(df)),
    "hc_analytics_gender_pos_by_year" -> ((df: DataFrame) => HealthAnalytics.genderPositivityByYear(df)),
    "hc_analytics_village_pos_by_year" -> ((df: DataFrame) => HealthAnalytics.villagePositivityByYear(df)),
    "hc_analytics_monthly_positivity" -> ((df: DataFrame) => HealthAnalytics.monthlyPositivity(df)),
    "hc_analytics_total_summary" -> ((df: DataFrame) => HealthAnalytics.totalSummary(df)))

  /** Case-insensitive trimmed equality, the reference's `$regex ^x$ i`
    * filter semantics (P1) after column normalization.
    */
  private def ciEq(c: String, v: String) =
    lower(trim(col(c))) === v.trim.toLowerCase

  /** @param processId when set, the run reports staged progress through
    *   [[ProgressTracker]] with the reference's stage vocabulary —
    *   task-level percents during execution, `completed` +
    *   `processing_time_seconds` at the end.
    */
  def run(spark: SparkSession, raw: DataFrame, params: Params,
      outDir: Option[String] = None, processId: Option[String] = None): Result = {
    val t0 = System.nanoTime()
    def tracked[T](stage: Int, msg: String)(body: => T): T =
      processId.map(ProgressTracker.trackStage(spark, _, stage, msg)(body)).getOrElse(body)

    processId.foreach(ProgressTracker.update(_, 1, 100, "Validating input columns"))
    val cleaned = LabTransform.transform(raw)
    val filtered = Seq(
      params.district.map(d => ciEq("district", d)),
      params.sector.map(s => ciEq("sector", s)),
      Option(params.years).filter(_.nonEmpty).map(ys => col("year").isin(ys: _*)))
      .flatten.foldLeft(cleaned)(_ filter _)

    val lineage = filtered
      .withColumn("filter_district", lit(params.district.getOrElse("all")))
      .withColumn("filter_sector", lit(params.sector.getOrElse("all")))
      .withColumn("filter_years", lit(params.years.sorted.distinct.mkString(",")))
      .persist()
    val rawCount = tracked(2, "Transforming and extracting records")(lineage.count())

    val rawTable = TableNames.dynamicTableName(params.tablePrefix,
      params.district, params.sector)

    // In append mode the analytics must reflect the FULL post-merge store
    // (the reference recomputes from the extracted collection on every
    // request) — aggregating the incoming batch alone would overwrite
    // yearly/monthly tables with a view that silently drops every prior
    // year. The source below is exactly upsertPath's merge result
    // (existing rows not replaced by key, plus the batch), computed
    // without waiting for the write.
    val analyticsSource = (params.updateMode, outDir) match {
      case ("append", Some(dir)) if params.saveToDb =>
        val rawPath = new org.apache.hadoop.fs.Path(s"$dir/$rawTable")
        val fs = rawPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(rawPath)) {
          val existing = spark.read.parquet(rawPath.toString)
          existing.join(lineage.select("unique_id"), Seq("unique_id"), "left_anti")
            .unionByName(lineage)
        } else lineage
      case _ => lineage
    }

    val analytics: Seq[(String, DataFrame)] =
      if (params.calculateAnalytics)
        analyticsBases.map { case (base, f) =>
          TableNames.dynamicTableName(base, params.district, params.sector) -> f(analyticsSource)
        }
      else Nil

    // each analytics table's plan runs once: with a save, its row count
    // comes from its write; without one, from a count
    val counts: Map[String, Long] = outDir.filter(_ => params.saveToDb) match {
      case Some(dir) =>
        // the analytics are computed by their writes, in the saving span
        tracked(2, "Calculating analytics")(())
        val rawPath = s"$dir/$rawTable"
        val tables = analytics.map { case (name, df) => df -> s"$dir/$name" }
        val rows = tracked(3, "Saving tables") {
          params.updateMode match {
            case "append" =>
              // stage analytics FIRST (their plans scan the current raw
              // files, which the upsert's rename-rename swap is about to
              // delete), but promote them only AFTER the raw upsert
              // lands: a crash in between leaves the old analytics
              // describing the old raw store — never fresh analytics over
              // a merge the raw path never persisted
              Writers.overwriteAll(tables,
                beforePromote = Writers.upsertPath(spark, lineage, rawPath, Seq("unique_id")))
            case _ => Writers.overwriteAll((lineage -> rawPath) +: tables).tail
          }
        }
        analytics.map(_._1).zip(rows).toMap
      case None =>
        tracked(2, "Calculating analytics")(
          analytics.map { case (name, df) => name -> df.count() }.toMap)
    }
    lineage.unpersist()

    processId.foreach(ProgressTracker.complete(_,
      s"Created ${1 + analytics.size} tables from $rawCount records"))
    Result(rawTable +: analytics.map(_._1),
      rawCount, counts, (System.nanoTime() - t0) / 1e9)
  }
}
