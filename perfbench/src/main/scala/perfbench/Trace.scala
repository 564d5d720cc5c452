package perfbench

import java.util.Properties
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine. `Spans.Off` runs the
  * body and records nothing; [[Tracer]] records every span and attributes
  * Spark's task and SQL-plan metrics to it.
  */
trait Spans {
  def apply[T](name: String)(body: => T): T
  /** Start a new closed-loop operation: later spans carry its id. */
  def nextOp(): Unit = ()
}

object Spans {
  object Off extends Spans {
    def apply[T](name: String)(body: => T): T = body
  }
}

object Trace {
  /** The Spark local property that tags each job with the active span. */
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, startMs: Long) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    def durNs: Long = endNs - startNs
    /** The layer (engine module) the span sits in: the name up to its first dot. */
    def module: String = name.takeWhile(_ != '.')
  }

  /** Task metrics summed per span, plus each task's run interval. */
  final class TaskAgg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var input = 0L
    val durations: ArrayBuffer[Long] = ArrayBuffer()
    val intervals: ArrayBuffer[(Long, Long)] = ArrayBuffer()
  }

  /** One finished SQL execution as the QueryExecutionListener saw it. */
  final case class Query(qe: QueryExecution, durNs: Long, planMs: Long,
      ops: Map[String, Long], writeBytes: Long, writeFiles: Long)

  /** Physical plan nodes actually executed, looking through adaptive
    * wrappers and query stages; cached relations are not entered.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Plan-operator totals of one execution. */
  def operatorMetrics(plan: SparkPlan): (Map[String, Long], Long, Long) = {
    val ops = mutable.Map[String, Long]().withDefaultValue(0L)
    var wBytes = 0L; var wFiles = 0L
    planNodes(plan).foreach { n =>
      n.getClass.getSimpleName match {
        case "FileSourceScanExec" =>
          ops("scan_rows") += metric(n, "numOutputRows")
          ops("scan_files") += metric(n, "numFiles")
        case "ShuffleExchangeExec" => ops("exchange_bytes") += metric(n, "dataSize")
        case "HashAggregateExec" | "ObjectHashAggregateExec" | "SortAggregateExec" =>
          ops("agg_build_ms") += metric(n, "aggTime")
        case "SortExec" => ops("sort_ms") += metric(n, "sortTime")
        case "BroadcastExchangeExec" => ops("broadcast_build_ms") += metric(n, "buildTime")
        case "WholeStageCodegenExec" => ops("codegen_stages") += 1
        case "DataWritingCommandExec" =>
          wBytes += metric(n, "numOutputBytes"); wFiles += metric(n, "numFiles")
        case _ =>
      }
    }
    (ops.toMap, wBytes, wFiles)
  }
}

/** Records spans in memory and attaches a SparkListener and a
  * QueryExecutionListener that attribute engine work to the span that was
  * active when each job was submitted. One client thread drives the engine,
  * so spans nest as a stack.
  */
final class Tracer(spark: SparkSession) extends Spans {
  import Trace._

  private val sc = spark.sparkContext
  val spans: ArrayBuffer[Span] = ArrayBuffer()
  private var stack: List[Span] = Nil
  private var op = 0

  // written on the listener-bus threads, read after drain()
  private val lock = new Object
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSpan = mutable.Map[Long, Int]()
  private val execOf = new java.util.IdentityHashMap[QueryExecution, Long]()
  val tasksBySpan: mutable.Map[Int, TaskAgg] = mutable.Map()
  val queries: ArrayBuffer[Query] = ArrayBuffer()

  private def spanOf(props: Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(-1)

  private def agg(span: Int): TaskAgg = tasksBySpan.getOrElseUpdate(span, new TaskAgg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val s = spanOf(e.properties)
      agg(s).jobs += 1
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.getOrElseUpdate(id.toLong, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      agg(s).stages += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => lock.synchronized {
        Option(org.apache.spark.sql.perfbench.SqlEnd.qe(end)).foreach(execOf.put(_, end.executionId))
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = agg(stageSpan.getOrElse(e.stageId, -1))
      a.tasks += 1
      val info = e.taskInfo
      if (info != null) {
        a.durations += info.duration
        a.intervals += ((info.launchTime, info.finishTime))
      }
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val (ops, wb, wf) =
        try operatorMetrics(qe.executedPlan)
        catch { case _: Exception => (Map.empty[String, Long], 0L, 0L) }
      lock.synchronized { queries += Query(qe, durationNs, planMs, ops, wb, wf) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compilesAtAttach = 0L
  /** Whole-stage and expression classes compiled while attached (cache misses). */
  var codegenCompiles = 0L

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    compilesAtAttach = compiles
  }

  /** Wait for every queued event, then detach both listeners. */
  def detach(): Unit = {
    codegenCompiles = compiles - compilesAtAttach
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  override def nextOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
    }
  }

  /** The span a SQL execution ran under (-1 when it submitted no job). */
  def spanOfQuery(q: Query): Int = lock.synchronized {
    Option(execOf.get(q.qe)).flatMap(id => execSpan.get(id)).getOrElse(-1)
  }

  /** Self time per span: its duration minus the part its children cover
    * (children never overlap: one client thread).
    */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.durNs - kids.getOrElse(s.id, Nil).map(_.durNs).sum)).toMap
  }
}
