package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.graft.SparkStatus

/** What Spark did for one piece of work, read from Spark's own
  * bookkeeping after the work ran. It adds no listener of its own:
  *   - jobs, stages and tasks come from the live status store
  *     ([[org.apache.spark.graft.SparkStatus]]), selected by a job tag
  *     set around the work ([[tagged]]). A tag, not a job group:
  *     [[graft.api.ProgressTracker.trackStage]] sets and clears the job
  *     group inside pipeline calls, which would drop every later job of
  *     the work;
  *   - per-operator numbers come from the SQL metrics of the executed plan
  *     of the frame the work returned, AQE stages unwrapped, with the plans
  *     of the cached relations it scans. These fill in
  *     whether or not the action ran under a SQL execution id, so
  *     `queryExecution.toRdd.count()` is profiled like `collect()`;
  *   - codegen work (classes compiled, Janino time) is the change of
  *     Spark's codegen counters across the tagged body ([[Tag]]);
  *   - driver time is the body's wall time that no tagged job covers:
  *     planning, plan rendering and driver-side code between jobs.
  */
object QueryProfile {

  /** One job: its call-site name and wall duration. Jobs that AQE
    * submits from its own threads carry a call site inside Spark
    * (`…withThreadLocalCaptured… at CompletableFuture.java`); `site` then
    * names the user call site of the action they serve: that of the SQL
    * execution they ran under (its id is in their
    * `…-execution-root-id-<n>` job tag), or, for an action outside any
    * SQL execution such as `queryExecution.toRdd.count()`, the next job
    * of the work with a call site in user code — the action's own job,
    * which runs once AQE has materialised its stages.
    */
  final case class Job(name: String, ms: Long, site: Option[String])

  /** One physical operator that carries a metric profiled here: its node
    * name, the plan it belongs to (0 = the frame's own plan, k = the k-th
    * cached relation it scans, whose codegen ids are numbered apart), its
    * whole-stage-codegen stage (0 when interpreted), and each metric it
    * has — rows out, the codegen stage's pipeline time, shuffle bytes
    * written, peak memory.
    */
  final case class Op(name: String, plan: Int, codegenStage: Int, rows: Option[Long],
      pipelineMs: Option[Long], shuffleBytes: Option[Long], peakMemory: Option[Long])

  /** A window operator with no `partitionSpec`: Spark moves all of its
    * input into one partition and one task. `window` names its outputs
    * and order keys; `rows` is its input row count, when an operator
    * below it counts rows.
    */
  final case class SingleWindow(plan: Int, window: String, rows: Option[Long])

  /** A job tag set around one piece of work ([[tagged]]), with the
    * classes Spark compiled while it ran and their Janino time. Those two
    * come from JVM-wide counters (`CodegenMetrics.METRIC_COMPILATION_TIME`
    * and `CodeGenerator.compileTime`), so they are exact only when nothing
    * else compiles at the same time, as in Bench and Verify, which run
    * their queries one at a time. A compile is a miss of Spark's codegen
    * cache: rerunning a plan whose classes the cache still holds compiles
    * nothing. `wallMs` is the wall time of the body.
    */
  final case class Tag(name: String, compiles: Long, compileMs: Long, wallMs: Long)

  /** `taskP50Ms` is the median of the stages' median task durations,
    * weighted by each stage's task count (exact when one stage holds most
    * of the tasks); `taskMaxMs` is exact. Bytes are summed over every
    * attempt of every stage the tagged jobs ran. `compiles`, `compileMs`
    * and `wallMs` are the [[Tag]]'s; `driverMs` is `wallMs` minus the
    * union of the tagged jobs' intervals (submission to completion), the
    * time the body ran with no job of its own running.
    */
  final case class Profile(jobs: Seq[Job], stages: Int, tasks: Long,
      taskP50Ms: Long, taskMaxMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, compiles: Long, compileMs: Long,
      wallMs: Long, driverMs: Long, ops: Seq[Op], singleWindows: Seq[SingleWindow]) {

    /** One `{"metric":"profile",…}` line for `name`. */
    def json(name: String): String = {
      def str(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      def mb(b: Long) = f"${b / 1e6}%.3f"
      val js = jobs.map(j => s"""{"name":${str(j.name)},"ms":${j.ms}""" +
        j.site.fold("")(a => s""","site":${str(a)}""") + "}")
      val os = ops.map { o =>
        (Seq(s""""op":${str(o.name)}""") ++
          Option(o.plan).filter(_ > 0).map(k => s""""plan":$k""") ++
          Seq(s""""wscg":${o.codegenStage}""") ++
          o.rows.map(r => s""""rows":$r""") ++
          o.pipelineMs.map(t => s""""pipeline_ms":$t""") ++
          o.shuffleBytes.map(b => s""""shuffle_mb":${mb(b)}""") ++
          o.peakMemory.map(b => s""""peak_mb":${mb(b)}"""))
          .mkString("{", ",", "}")
      }
      val ws = singleWindows.map { w =>
        (Option(w.plan).filter(_ > 0).map(k => s""""plan":$k""") ++
          Seq(s""""window":${str(w.window)}""") ++ w.rows.map(r => s""""rows":$r"""))
          .mkString("{", ",", "}")
      }
      s"""{"metric":"profile","name":${str(name)},"jobs":${jobs.size},""" +
        s""""stages":$stages,"tasks":$tasks,"task_p50_ms":$taskP50Ms,""" +
        s""""task_max_ms":$taskMaxMs,"shuffle_read_mb":${mb(shuffleReadBytes)},""" +
        s""""shuffle_write_mb":${mb(shuffleWriteBytes)},"spill_mb":${mb(spillBytes)},""" +
        s""""compiles":$compiles,"compile_ms":$compileMs,""" +
        s""""wall_ms":$wallMs,"driver_ms":$driverMs,""" +
        s""""job_list":${js.mkString("[", ",", "]")},"ops":${os.mkString("[", ",", "]")},""" +
        s""""single_partition_windows":${ws.mkString("[", ",", "]")}}"""
    }
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` with every job it submits from this thread (and from the
    * threads Spark hands its local properties to, such as broadcast
    * builds) tagged; returns its result and the tag to [[read]] with.
    */
  def tagged[T](spark: SparkSession, label: String)(body: => T): (T, Tag) = {
    val name = s"$label#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (c0, ns0, t0) = (compiles, CodeGenerator.compileTime, System.nanoTime())
    sc.addJobTag(name)
    val result = try body finally sc.removeJobTag(name)
    (result, Tag(name, compiles - c0, (CodeGenerator.compileTime - ns0) / 1000000L,
      (System.nanoTime() - t0) / 1000000L))
  }

  private val rootExecution = """-execution-root-id-(\d+)$""".r.unanchored
  private val frame = """(?:.*/)?([^/(]+)\.([^.(]+)\(([^:)]*)(?::(\d+))?\)""".r

  /** Spark's short call-site form (`count at Foo.scala:12`) rebuilt from
    * the long form a SQL execution records: the last Spark method on its
    * first line, the first user frame on its second. The execution's
    * description is the short form only while no job description is set
    * (a [[graft.api.ProgressTracker]] stage sets one), so it is only the
    * fallback.
    */
  private def shortForm(details: String, description: String): String =
    details.split("\n").take(2) match {
      case Array(frame(cls, method, _, _), frame(_, _, file, line)) =>
        val m = if (method == "<init>") cls.substring(cls.lastIndexOf('.') + 1) else method
        s"$m at $file:${Option(line).getOrElse("0")}"
      case _ => description
    }

  /** The profile of the jobs tagged `tag`, with the operators of `df`'s
    * executed plan when the work returned a frame.
    */
  def read(spark: SparkSession, tag: Tag, df: Option[DataFrame] = None): Profile = {
    val sc = spark.sparkContext
    val (jobs, stages) = SparkStatus.tagged(sc, tag.name, Array(0.5, 1.0))
    val byStage = stages.map { case (s, q) =>
      val d = q.map(_.duration).getOrElse(IndexedSeq(0.0, 0.0))
      (s.numCompleteTasks.toLong, d(0).toLong, d(1).toLong)
    }
    val tasks = byStage.map(_._1).sum
    val p50 = byStage.sortBy(_._2).scanLeft((0L, 0L)) { case ((n, _), (k, m, _)) => (n + k, m) }
      .find(_._1 * 2 >= tasks).fold(0L)(_._2)
    val aqe = (name: String) => name.contains("withThreadLocalCaptured")
    val nextNamed = jobs.scanRight("")((j, next) => if (aqe(j.name)) next else j.name).tail
    val executionSite = (tags: collection.Seq[String]) => tags.collectFirst {
      case rootExecution(id) => id.toLong
    }.flatMap(SparkStatus.execution(sc, _)).map((shortForm _).tupled)
    val (ops, windows) = df.fold((Seq.empty[Op], Seq.empty[SingleWindow]))(d =>
      operators(d.queryExecution.executedPlan))
    val spans = jobs.flatMap(j =>
      for (s <- j.submissionTime; e <- j.completionTime) yield (s.getTime, e.getTime))
    // the union of the job intervals: overlapping jobs count once
    val (jobMs, _) = spans.sorted.foldLeft((0L, Long.MinValue)) {
      case ((sum, end), (s, e)) => (sum + math.max(0L, e - math.max(s, end)), math.max(end, e))
    }
    Profile(
      jobs.zip(nextNamed).map { case (j, next) =>
        Job(j.name, (for (s <- j.submissionTime; e <- j.completionTime)
          yield e.getTime - s.getTime).getOrElse(-1L),
          if (!aqe(j.name)) None
          else executionSite(j.jobTags).orElse(Some(next).filter(_.nonEmpty)))
      },
      stages.size, tasks, p50,
      if (byStage.isEmpty) 0L else byStage.map(_._3).max,
      stages.map(_._1.shuffleReadBytes).sum,
      stages.map(_._1.shuffleWriteBytes).sum,
      stages.map { case (s, _) => s.memoryBytesSpilled + s.diskBytesSpilled }.sum,
      tag.compiles, tag.compileMs, tag.wallMs, math.max(0L, tag.wallMs - jobMs),
      ops, windows)
  }

  /** Every operator of `plan` carrying a profiled metric, AQE wrappers
    * unwrapped, subqueries and the plans of cached relations it scans
    * included (their metrics hold the cache fill, which Bench's
    * `clearCache` before each row keeps inside the row). A reused
    * exchange is a leaf here, so its bytes count once, at the exchange
    * that wrote them. Alongside: every window with no partition spec.
    */
  private def operators(plan: SparkPlan): (Seq[Op], Seq[SingleWindow]) = {
    val cached = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val windows = scala.collection.mutable.ArrayBuffer[SingleWindow]()
    def metric(p: SparkPlan, key: String) = p.metrics.get(key).map(m => math.max(m.value, 0L))
    // a window keeps its input's rows: count them at the nearest operator
    // below that counts rows (the exchange into its one partition, if any)
    def rowsIn(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => rowsIn(a.executedPlan)
      case s: QueryStageExec => rowsIn(s.plan)
      case _ => metric(p, "numOutputRows").orElse(metric(p, "shuffleRecordsWritten"))
        .orElse(p.children match { case Seq(c) => rowsIn(c); case _ => None })
    }
    def walk(p: SparkPlan, in: Int, wscg: Int): Seq[Op] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, in, wscg)
      case s: QueryStageExec => walk(s.plan, in, wscg)
      case m: InMemoryTableScanExec =>
        val c = m.relation.cachedPlan
        val seen = cached.exists(_ eq c)
        if (!seen) cached += c
        val k = cached.indexWhere(_ eq c) + 1
        Op(s"${m.nodeName} (plan $k)", in, wscg, metric(m, "numOutputRows"), None, None, None) +:
          (if (seen) Nil else walk(c, k, 0))
      case _ =>
        val stage = p match {
          case w: WholeStageCodegenExec => w.codegenStageId
          case _: InputAdapter => 0
          case _ => wscg
        }
        p match {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            val keys = w.orderSpec.map(_.child.references.map(_.name).mkString("+"))
            windows += SingleWindow(in, w.windowExpression.map(_.name).mkString(",") +
              keys.mkString(" ORDER BY ", ",", ""), rowsIn(w.child))
          case _ =>
        }
        val op = Op(p.nodeName, in, stage, metric(p, "numOutputRows"),
          metric(p, "pipelineTime"), metric(p, "shuffleBytesWritten"),
          metric(p, "peakMemory"))
        val self =
          if (Seq(op.rows, op.pipelineMs, op.shuffleBytes, op.peakMemory).exists(_.isDefined))
            Seq(op)
          else Nil
        self ++ (p.children ++ p.subqueries).flatMap(walk(_, in, stage))
    }
    val ops = walk(plan, 0, 0)
    (ops, windows.toSeq)
  }
}
