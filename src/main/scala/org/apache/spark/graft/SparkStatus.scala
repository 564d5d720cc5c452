package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SQLAppStatusStore
import org.apache.spark.status.api.v1.{JobData, StageData, StageStatus, TaskMetricDistributions}

/** `SparkContext.listenerBus` and `statusStore` are `private[spark]`, so
  * the engine reads Spark's own job, stage and task bookkeeping through
  * this accessor placed in the `org.apache.spark` namespace; its caller
  * is [[graft.QueryProfile]]. It registers no listener: the status store
  * is fed by Spark's own, with or without the UI.
  */
object SparkStatus {
  /** Block until the async listener bus has dispatched every queued event,
    * or `timeoutMs` elapses (best-effort on timeout: a read then reflects
    * whatever was delivered).
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The retained jobs carrying job tag `tag`, and every attempt of the
    * stages they ran (stages a job skipped are left out) with each
    * attempt's task quantiles at `quantiles`. Drains the bus first, so a
    * job that just returned is complete in the store.
    */
  def tagged(sc: SparkContext, tag: String, quantiles: Array[Double])
      : (Seq[JobData], Seq[(StageData, Option[TaskMetricDistributions])]) = {
    drain(sc, 10000L)
    val store = sc.statusStore
    val jobs = store.jobsList(null).filter(_.jobTags.contains(tag)).sortBy(_.jobId)
    val stages = jobs.flatMap(_.stageIds).distinct.sorted.flatMap { id =>
      scala.util.Try(store.stageData(id)).getOrElse(Nil)
        .filter(_.status != StageStatus.SKIPPED)
        .map(s => s -> store.taskSummary(s.stageId, s.attemptId, quantiles))
    }
    (jobs, stages)
  }

  /** The call-site stack Spark recorded for SQL execution `id` (one
    * frame a line, the last Spark method first) and its description, if
    * the store still retains the execution. SQL executions share the
    * application's store with jobs and stages.
    */
  def execution(sc: SparkContext, id: Long): Option[(String, String)] =
    new SQLAppStatusStore(sc.statusStore.store, None).execution(id)
      .map(e => (e.details, e.description))

  /** Each retained SQL execution's root execution id with the physical
    * plan text the store holds for it: the last explain string Spark
    * posted for the execution, at its start or at an AQE plan update, cut
    * at `spark.sql.maxPlanStringLength`. Drains the bus first.
    */
  def planDescriptions(sc: SparkContext): Seq[(Long, String)] = {
    drain(sc, 10000L)
    new SQLAppStatusStore(sc.statusStore.store, None).executionsList()
      .map(e => (e.rootExecutionId, e.physicalPlanDescription))
  }
}
