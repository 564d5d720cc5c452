// For every registry query, run it (toRdd.count, as Bench times it) once
// with canChangeCachedPlanOutputPartitioning=false and once =true, and
// report the shuffle exchanges placed directly over an InMemoryTableScan
// (no other exchange between) in every plan the query executed.
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive._
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
val done = {
  val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
  val out = sys.env.getOrElse("GRAFT_AUDIT_OUT", "cache_exchange_audit.tsv")
  val only = sys.env.get("GRAFT_EXPLAIN_QUERIES").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  graft.GraftSession.create(shufflePartitions = spark.sparkContext.defaultParallelism)
  spark.sparkContext.setLogLevel("ERROR")
  object H extends AdaptiveSparkPlanHelper
  def overCache(p: SparkPlan): Boolean = p match {
    case _: InMemoryTableScanExec | _: TableCacheQueryStageExec => true
    case _: Exchange | _: QueryStageExec => false
    case a: AdaptiveSparkPlanExec => overCache(a.executedPlan)
    case _ => p.children.exists(overCache)
  }
  def exchanges(p: SparkPlan): Seq[String] = H.collect(p) {
    case e: ShuffleExchangeExec if overCache(e.child) =>
      e.simpleString(5).replaceAll("#\\d+", "").replaceAll(", \\[plan_id=\\d+\\]", "")
  }
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = { plans.add(qe.executedPlan); () }
    def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  })
  val w = new java.io.PrintWriter(out)
  val names = graft.SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  for (n <- names) {
    val res = for (v <- Seq("false", "true")) yield {
      spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", v)
      spark.catalog.clearCache()
      plans.clear()
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.queryExecution.toRdd.count()
        val ms = (System.nanoTime() - t0) / 1000000
        org.apache.spark.graft.SparkStatus.drain(spark.sparkContext, 10000L)
        val all = (df.queryExecution.executedPlan +: plans.toArray(Array.empty[SparkPlan]).toSeq).flatMap(exchanges)
        (ms, all)
      } catch { case e: Throwable => (-1L, Seq(s"FAILED ${e.getMessage.take(200)}")) }
    }
    val (f, t) = (res(0), res(1))
    val added = t._2.diff(f._2)
    w.println(s"$n\tfalse_ms=${f._1}\ttrue_ms=${t._1}\tover_cache_false=${f._2.size}\tover_cache_true=${t._2.size}\tadded=${added.mkString(" | ")}")
    w.flush()
  }
  w.close()
  "ok"
}
System.exit(0)
