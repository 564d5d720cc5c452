package perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import Main.{median, Metrics}

/** Per-layer metrics of a traced run, all per timed cycle unless the name
  * says otherwise (p50 / ratio / store size). Layers are the engine's
  * modules as the benchmark calls them: `sources` (upload decoders), `api`
  * (pipelines and dashboard endpoints), `io` (writers), `geo` (spatial
  * join counts), `curation` (the q191 chain), the Spark engine itself
  * (`spark.*`, from the SparkListener) and plan operators (`op.*`, from the
  * QueryExecutionListener's executed plans).
  */
object Layers {
  private val MB = 1048576.0

  /** Per-layer metric names, units and directions, in report order. */
  val catalog: Seq[(String, String, String)] = Seq(
    ("sources.csv_read_s", "s", "lower"), ("sources.xlsx_read_s", "s", "lower"),
    ("sources.shp_zip_read_s", "s", "lower"), ("sources.tiff_read_s", "s", "lower"),
    ("sources.decode_mb_per_s", "MB/s", "higher"), ("sources.rows_out", "count", "higher"),
    ("api.bronze_ingest_s", "s", "lower"), ("api.lab_run_s", "s", "lower"),
    ("api.weather_run_s", "s", "lower"),
    ("api.malaria_calculate_s", "s", "lower"), ("api.geo_reproject_s", "s", "lower"),
    ("api.geo_run_s", "s", "lower"), ("api.geo_tag_admin_s", "s", "lower"),
    ("api.dashboard.kpi_ms", "ms", "lower"), ("api.dashboard.gender_ms", "ms", "lower"),
    ("api.dashboard.trend_ms", "ms", "lower"), ("api.dashboard.location_ms", "ms", "lower"),
    ("api.dashboard.top_villages_ms", "ms", "lower"),
    ("io.write_s", "s", "lower"), ("io.write_mb", "MB", "lower"),
    ("io.files_written", "count", "lower"), ("io.write_amp", "ratio", "lower"),
    ("io.store_files", "count", "lower"), ("io.store_mb", "MB", "lower"),
    ("geo.points_probed", "count", "lower"), ("geo.points_matched", "count", "higher"),
    ("geo.match_ratio", "ratio", "higher"),
    ("curation.docs_in", "count", "higher"), ("curation.docs_kept", "count", "higher"),
    ("curation.keep_ratio", "ratio", "higher"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_s", "s", "lower"),
    ("spark.cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
    ("spark.deser_s", "s", "lower"), ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"), ("spark.fetch_wait_s", "s", "lower"),
    ("spark.spill_mb", "MB", "lower"), ("spark.input_mb", "MB", "lower"),
    ("spark.task_p50_ms", "ms", "lower"), ("spark.task_max_ms", "ms", "lower"),
    ("spark.busy_ratio", "ratio", "higher"), ("spark.driver_only_s", "s", "lower"),
    ("spark.plan_ms", "ms", "lower"), ("spark.codegen_compiles", "count", "lower"),
    ("op.scan_rows", "count", "lower"), ("op.scan_files", "count", "lower"),
    ("op.exchange_mb", "MB", "lower"), ("op.agg_build_ms", "ms", "lower"),
    ("op.sort_ms", "ms", "lower"), ("op.broadcast_build_ms", "ms", "lower"),
    ("op.codegen_stages", "count", "higher"),
    ("self.bench_s", "s", "lower"), ("self.sources_s", "s", "lower"),
    ("self.api_s", "s", "lower"), ("self.io_s", "s", "lower"),
    ("self.curation_s", "s", "lower"),
    ("trace.cycle_s", "s", "lower"), ("trace.self_coverage", "ratio", "higher"),
    // filled in by Main: process-level figures the untraced run does not gate
    ("peak_rss_mb", "MB", "lower"), ("gen_s", "s", "lower"))

  val Modules: Seq[String] = Seq("bench", "sources", "api", "io", "curation")

  /** The `sources` spans that decode their input inside the call. CSV reads
    * are lazy: the lab CSV is parsed inside `api.bronze_ingest`.
    */
  private val EagerDecoders =
    Set("sources.xlsx_read", "sources.shp_zip_read", "sources.tiff_read")

  private def moduleOf(s: Trace.Span): String = if (s.name == "cycle") "bench" else s.module

  /** Union length (ms) of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo; var tot = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { tot += b - math.max(a, end); end = b }
      }
    tot
  }

  private def storeFiles(p: Option[Path]): (Long, Long) = p.filter(Files.exists(_)).map { root =>
    val files = Files.walk(root).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }.getOrElse((0L, 0L))

  def metrics(t: Tracer, s: Samples, w: Workload, cores: Int): Metrics = {
    val cycles = t.spans.filter(_.name == "cycle").toSeq
    val n = math.max(1, cycles.size).toDouble
    def spanS(name: String) = t.spans.filter(_.name == name).map(_.durNs).sum / 1e9 / n
    def p50Ms(name: String) = median(t.spans.filter(_.name == name).map(_.durNs / 1e6).toSeq)
    val aggs = t.tasksBySpan.filter(_._1 >= 0).values.toSeq
    def sumA(f: Trace.TaskAgg => Long) = aggs.map(f).sum.toDouble
    val durations = aggs.flatMap(_.durations).map(_.toDouble)
    val intervals = aggs.flatMap(_.intervals)
    val wallMs = cycles.map(c => c.endMs - c.startMs).sum.toDouble
    val driverOnlyMs = cycles.map(c =>
      (c.endMs - c.startMs) - covered(intervals, c.startMs, c.endMs)).sum.toDouble
    val queries = t.queries.toSeq
    def op(k: String) = queries.map(_.ops.getOrElse(k, 0L)).sum / n
    val writes = queries.filter(_.writeFiles > 0)
    val writeBytes = writes.map(_.writeBytes).sum.toDouble
    val self = t.selfNs
    val selfBy = t.spans.groupBy(moduleOf).map { case (m, ss) =>
      m -> ss.map(x => self(x.id)).sum / 1e9 / n }
    val decodeS = t.spans.filter(x => EagerDecoders(x.name)).map(_.durNs).sum / 1e9
    val (storeN, storeBytes) = storeFiles(w.store)
    val cycleTotalS = cycles.map(_.durNs).sum / 1e9

    val values: Map[String, Double] = Map(
      "sources.csv_read_s" -> spanS("sources.csv_read"),
      "sources.xlsx_read_s" -> spanS("sources.xlsx_read"),
      "sources.shp_zip_read_s" -> spanS("sources.shp_zip_read"),
      "sources.tiff_read_s" -> spanS("sources.tiff_read"),
      "sources.decode_mb_per_s" -> (if (decodeS > 0) s.decodedBytes / MB / decodeS else 0.0),
      "sources.rows_out" -> s.sourceRows.toDouble,
      "api.bronze_ingest_s" -> spanS("api.bronze_ingest"),
      "api.lab_run_s" -> spanS("api.lab_run"),
      "api.weather_run_s" -> spanS("api.weather_run"),
      "api.malaria_calculate_s" -> spanS("api.malaria_calculate"),
      "api.geo_reproject_s" -> spanS("api.geo_reproject"),
      "api.geo_run_s" -> spanS("api.geo_run"),
      "api.geo_tag_admin_s" -> spanS("api.geo_tag_admin"),
      "io.write_s" -> writes.map(_.durNs).sum / 1e9 / n,
      "io.write_mb" -> writeBytes / MB / n,
      "io.files_written" -> writes.map(_.writeFiles).sum / n,
      "io.write_amp" -> (if (s.uploadedBytes > 0) writeBytes / s.uploadedBytes else 0.0),
      "io.store_files" -> storeN.toDouble,
      "io.store_mb" -> storeBytes / MB,
      "geo.points_probed" -> s.pointsProbed.toDouble,
      "geo.points_matched" -> s.pointsMatched.toDouble,
      "geo.match_ratio" -> (if (s.pointsProbed > 0) s.pointsMatched.toDouble / s.pointsProbed else 0.0),
      "curation.docs_in" -> s.docsIn / n,
      "curation.docs_kept" -> s.docsKept / n,
      "curation.keep_ratio" -> (if (s.docsIn > 0) s.docsKept.toDouble / s.docsIn else 0.0),
      "spark.jobs" -> sumA(_.jobs) / n,
      "spark.stages" -> sumA(_.stages) / n,
      "spark.tasks" -> sumA(_.tasks) / n,
      "spark.task_s" -> durations.sum / 1e3 / n,
      "spark.cpu_s" -> sumA(_.cpuNs) / 1e9 / n,
      "spark.gc_s" -> sumA(_.gcMs) / 1e3 / n,
      "spark.deser_s" -> sumA(_.deserMs) / 1e3 / n,
      "spark.shuffle_write_mb" -> sumA(_.shuffleWrite) / MB / n,
      "spark.shuffle_read_mb" -> sumA(_.shuffleRead) / MB / n,
      "spark.fetch_wait_s" -> sumA(_.fetchWaitMs) / 1e3 / n,
      "spark.spill_mb" -> sumA(_.spill) / MB / n,
      "spark.input_mb" -> sumA(_.input) / MB / n,
      "spark.task_p50_ms" -> median(durations),
      "spark.task_max_ms" -> (if (durations.isEmpty) 0.0 else durations.max),
      "spark.busy_ratio" -> (if (wallMs > 0) durations.sum / (wallMs * cores) else 0.0),
      "spark.driver_only_s" -> driverOnlyMs / 1e3 / n,
      "spark.plan_ms" -> queries.map(_.planMs).sum / n,
      "spark.codegen_compiles" -> t.codegenCompiles / n,
      "op.scan_rows" -> op("scan_rows"),
      "op.scan_files" -> op("scan_files"),
      "op.exchange_mb" -> op("exchange_bytes") / MB,
      "op.agg_build_ms" -> op("agg_build_ms"),
      "op.sort_ms" -> op("sort_ms"),
      "op.broadcast_build_ms" -> op("broadcast_build_ms"),
      "op.codegen_stages" -> op("codegen_stages"),
      "trace.cycle_s" -> median(cycles.map(_.durNs / 1e9)),
      "trace.self_coverage" -> (if (cycleTotalS > 0)
        Modules.filter(_ != "bench").map(m => selfBy.getOrElse(m, 0.0)).sum * n / cycleTotalS
      else 0.0)) ++
      Modules.map(m => s"self.${m}_s" -> selfBy.getOrElse(m, 0.0)) ++
      Workloads.Endpoints.map(e => s"api.dashboard.${e}_ms" -> p50Ms(s"api.dashboard.$e"))

    val m = new Metrics
    catalog.foreach { case (name, unit, _) => values.get(name).foreach(v => m(name) = (v, unit)) }
    m
  }

  /** Per span name under the cycles: calls, total and self time, and the
    * engine work its subtree submitted (jobs, tasks, shuffle, and the wall
    * time of its SQL executions); modules' self times add up to the cycle
    * time they sit under.
    */
  def selfTimeTable(t: Tracer): String = {
    val self = t.selfNs
    val cycles = t.spans.filter(_.name == "cycle")
    val total = cycles.map(_.durNs).sum / 1e6
    val kidsOf = t.spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: kidsOf.getOrElse(id, Nil).toSeq.flatMap(k => subtree(k.id))
    val sqlBySpan = t.queries.toSeq.groupBy(t.spanOfQuery)
    val sb = new StringBuilder
    sb.append(f"trace: ${cycles.size} cycles, $total%.1f ms in cycles\n")
    sb.append(f"${"span"}%-28s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s ${"self%"}%6s " +
      f"${"jobs"}%6s ${"tasks"}%7s ${"task_s"}%8s ${"shuffle_mb"}%10s ${"sql_ms"}%9s\n")
    t.spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.durNs).sum).foreach { case (name, ss) =>
      val tot = ss.map(_.durNs).sum / 1e6
      val sf = ss.map(x => self(x.id)).sum / 1e6
      val ids = ss.flatMap(x => subtree(x.id))
      val aggs = ids.flatMap(t.tasksBySpan.get)
      val sqlMs = ids.flatMap(sqlBySpan.getOrElse(_, Nil)).map(_.durNs).sum / 1e6
      sb.append(f"$name%-28s ${ss.size}%6d $tot%10.1f $sf%10.1f ${100 * sf / total}%6.1f " +
        f"${aggs.map(_.jobs).sum}%6d ${aggs.map(_.tasks).sum}%7d " +
        f"${aggs.flatMap(_.durations).sum / 1e3}%8.2f " +
        f"${aggs.map(a => a.shuffleWrite + a.shuffleRead).sum / MB}%10.2f $sqlMs%9.1f\n")
    }
    sb.append("self time by module (ms): " + t.spans.groupBy(moduleOf).toSeq.sortBy(_._1)
      .map { case (m, ss) => f"$m ${ss.map(x => self(x.id)).sum / 1e6}%.1f" }.mkString(", ") +
      f"  (sum = $total%.1f)\n")
    sb.toString
  }

  def spansJson(t: Tracer): String = {
    val self = t.selfNs
    Json.pretty(t.spans.map(s => ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))))
  }
}
