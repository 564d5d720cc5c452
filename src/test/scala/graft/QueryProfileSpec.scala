package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** QueryProfile reads Spark's own bookkeeping for the jobs of one tag:
  * what it reports must agree with the executed plan, ignore untagged
  * work running beside it, and survive a pipeline call that sets and
  * clears the job group.
  */
class QueryProfileSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val mapTasks = 3
  private val keys = 50L

  /** A fresh two-stage groupBy (fresh, so no run reuses another's shuffle). */
  private def grouped(): DataFrame =
    spark.range(0, 20000, 1, mapTasks).groupBy((col("id") % keys).as("k")).count()

  private def run(df: DataFrame): Unit = { df.queryExecution.toRdd.count(); () }

  /** Stages and tasks `df`'s executed plan implies: one map stage per
    * exchange plus the result stage; map tasks plus the reduce side's
    * (post-AQE) partitions.
    */
  private def planShape(df: DataFrame): (Int, Long, ShuffleExchangeExec) = {
    val plan = df.queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1)
    val reduce = collect(plan) { case r: AQEShuffleReadExec => r.partitionSpecs.size }
      .headOption.getOrElse(exchanges.head.numPartitions)
    (exchanges.size + 1, mapTasks.toLong + reduce, exchanges.head)
  }

  test("a tagged groupBy's stages, tasks, shuffle bytes and rows match its plan") {
    val df = grouped()
    val (_, tag) = QueryProfile.tagged(spark, "groupBy")(run(df))
    val p = QueryProfile.read(spark, tag, Some(df))
    val (stages, tasks, exchange) = planShape(df)
    assert(p.stages == stages && p.tasks == tasks, p)
    assert(p.jobs.nonEmpty && p.jobs.forall(_.ms >= 0), p.jobs)
    val written = exchange.metrics("shuffleBytesWritten").value
    assert(written > 0 && p.shuffleWriteBytes == written, p)
    assert(p.shuffleReadBytes == written, p)
    assert(p.ops.exists(o => o.shuffleBytes.contains(written)), p.ops)
    // the plan's first (topmost) aggregate is the final one
    val finalAgg = collectFirst(df.queryExecution.executedPlan) { case a: HashAggregateExec => a }.get
    assert(finalAgg.metrics("numOutputRows").value == keys)
    assert(p.ops.find(_.name == "HashAggregate").flatMap(_.rows).contains(keys), p.ops)
    assert(p.ops.exists(o => o.name.startsWith("WholeStageCodegen") && o.pipelineMs.isDefined))
    assert(p.taskMaxMs >= p.taskP50Ms && p.taskP50Ms >= 0)
    assert(p.json("groupBy").startsWith("""{"metric":"profile","name":"groupBy","jobs":"""))
  }

  test("untagged jobs on another thread add nothing") {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val foreign = new java.util.concurrent.atomic.AtomicInteger(0)
    // started before the tag is set: threads inherit Spark's local
    // properties (and so the tag) only when created inside the tagged span
    val other = new Thread(() =>
      while (!stop.get()) { run(grouped()); foreign.incrementAndGet(); () })
    other.start()
    val df = grouped()
    val (_, tag) = try {
      while (foreign.get() == 0) Thread.sleep(10)
      QueryProfile.tagged(spark, "beside") {
        val seen = foreign.get()
        run(df)
        // keep the tagged span open until a foreign job has run inside it
        while (foreign.get() == seen) Thread.sleep(10)
      }
    } finally { stop.set(true); other.join() }
    val p = QueryProfile.read(spark, tag, Some(df))
    val (stages, tasks, exchange) = planShape(df)
    assert(p.stages == stages && p.tasks == tasks, p)
    assert(p.shuffleWriteBytes == exchange.metrics("shuffleBytesWritten").value, p)
  }

  test("a body that calls ProgressTracker.trackStage is fully attributed") {
    val frames = Seq.fill(3)(grouped())
    val pid = graft.api.ProgressTracker.createProcess()
    val (_, tag) = QueryProfile.tagged(spark, "tracked") {
      run(frames(0))
      graft.api.ProgressTracker.trackStage(spark, pid, 2, "processing")(run(frames(1)))
      run(frames(2))
    }
    val p = QueryProfile.read(spark, tag)
    val shapes = frames.map(planShape)
    assert(p.stages == shapes.map(_._1).sum && p.tasks == shapes.map(_._2).sum, p)
    assert(p.shuffleWriteBytes == shapes.map(_._3.metrics("shuffleBytesWritten").value).sum, p)
  }

  test("AQE's stage jobs are named by the action they serve") {
    val (a, b) = (grouped(), grouped())
    val (_, tag) = QueryProfile.tagged(spark, "sites") {
      a.collect()
      b.collect()
      run(grouped()) // an RDD action: no SQL execution to name it
    }
    val p = QueryProfile.read(spark, tag)
    // AQE submits all of a collect's jobs, its result stage's included,
    // and the map stage of the RDD action; only that action's own job
    // carries a user call site
    val (stageJobs, actions) = p.jobs.partition(_.site.isDefined)
    assert(actions.map(_.name.takeWhile(_ != ' ')) == Seq("count"), p.jobs)
    assert(stageJobs.forall(_.name.contains("withThreadLocalCaptured")), p.jobs)
    // each job is named by the action it serves, not by the one before it
    val sites = p.jobs.map(j => j.site.getOrElse(j.name))
    assert(sites.distinct.map(_.takeWhile(_ != ' ')) == Seq("collect", "collect", "count"), sites)
    assert(sites == sites.distinct.flatMap(s => sites.filter(_ == s)), sites)
    assert(sites.count(_ == sites.last) == 2, sites)
  }

  test("a plan's classes are compiled under its first tag only") {
    // a fresh literal is inlined into the generated source, so no earlier
    // suite can have compiled this plan's classes
    val salt = System.nanoTime()
    def df = spark.range(0, 2000, 1, mapTasks)
      .groupBy(((col("id") * lit(salt)) % keys).as("k")).count()
    val (_, first) = QueryProfile.tagged(spark, "first")(run(df))
    val (_, again) = QueryProfile.tagged(spark, "again")(run(df))
    assert(first.compiles > 0, first)
    assert(again.compiles == 0, again)
    val p = QueryProfile.read(spark, first)
    assert(p.compiles == first.compiles && p.compileMs == first.compileMs, p)
    assert(p.json("first").contains(s""""compiles":${first.compiles},"compile_ms":"""))
  }

  test("a window with no partition spec is flagged with its input rows") {
    val df = spark.range(0, 500, 1, mapTasks)
      .withColumn("rn", row_number().over(Window.orderBy(col("id").desc)))
      .withColumn("r7", rank().over(Window.partitionBy(col("id") % 7).orderBy("id")))
    val (_, tag) = QueryProfile.tagged(spark, "window")(run(df))
    val p = QueryProfile.read(spark, tag, Some(df))
    assert(p.singleWindows == Seq(QueryProfile.SingleWindow(0, "rn ORDER BY id", Some(500L))),
      p.singleWindows)
    assert(p.json("window").endsWith(
      """"single_partition_windows":[{"window":"rn ORDER BY id","rows":500}]}"""))
    assert(QueryProfile.read(spark, tag).singleWindows.isEmpty)
  }

  test("the plans of the SQL executions the work ran are profiled, a pin's fill included") {
    // a leaf pin's fill runs as an execution of its own, and the reader's
    // plan holds only the leaf's scan: the window is in the fill's plan
    val (df, tag) = QueryProfile.tagged(spark, "fill") {
      val df = graft.util.Pins.leaf(spark.range(0, 500, 1, mapTasks)
          .withColumn("rn", row_number().over(Window.orderBy(col("id").desc))))
        .groupBy().count()
      run(df)
      df
    }
    try {
      assert(tag.executions.nonEmpty)
      val p = QueryProfile.read(spark, tag, Some(df))
      assert(p.singleWindows.map(w => (w.window, w.rows)) == Seq(("rn ORDER BY id", Some(500L))),
        p.singleWindows)
      assert(p.singleWindows.forall(_.plan > 0) && p.ops.exists(_.plan > 0), p.ops)
    } finally spark.catalog.clearCache()
  }

  test("driver time between jobs counts toward driver_ms") {
    val (_, tag) = QueryProfile.tagged(spark, "driver") {
      run(grouped())
      Thread.sleep(300)
      run(grouped())
    }
    val p = QueryProfile.read(spark, tag)
    assert(p.wallMs == tag.wallMs && p.driverMs >= 300 && p.driverMs <= p.wallMs, p)
    assert(p.json("driver").contains(s""""wall_ms":${p.wallMs},"driver_ms":${p.driverMs},"""))
  }
}
