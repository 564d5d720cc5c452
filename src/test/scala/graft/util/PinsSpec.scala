package graft.util

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** [[Pins.leaf]]: a filled pin read as one scan, so readers' plans do not
  * nest the pins below them; evaluated once; released by `clearCache`.
  */
class PinsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** `levels` pins over a small range, each joining the pin below it with
    * a projection of itself (the [[graft.PlanStringSpec]] chain, whose
    * plain-persist form doubles its plan text per level), read by one
    * ordered aggregate. Returns the reader's whole executed plan text.
    */
  private def chainReaderPlan(levels: Int): String = {
    val base = Pins.leaf(spark.range(0, 64, 1, 2).select((col("id") % 8).as("k"), col("id").as("v")))
    val top = (1 to levels).foldLeft(base) { (p, _) =>
      Pins.leaf(p.join(p.select(col("k"), (col("v") + 1).as("w")), "k")
        .groupBy("k").agg(sum(col("v") + col("w")).as("v")))
    }
    val reader = top.groupBy(col("k") % 2).agg(sum("v")).orderBy(lit(1))
    assert(reader.collect().length == 2)
    planText(reader.queryExecution.executedPlan)
  }

  /** The plan with expression ids dropped, so plans of equal shape compare equal. */
  private def shape(text: String): String =
    text.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("a reader of a pin chain holds one scan, whatever the chain's depth") {
    try {
      val plans = (1 to 3).map(chainReaderPlan)
      for (p <- plans) {
        assert(!p.contains("InMemoryRelation"), p)
        assert(p.contains("Scan ExistingRDD"), p)
      }
      assert(plans.map(shape).distinct.size == 1, plans.map(_.length))
    } finally spark.catalog.clearCache()
  }

  test("the pinned source is evaluated once across the fill and two readers") {
    val evaluated = spark.sparkContext.longAccumulator("pin source rows")
    val tally = udf { (v: Long) => evaluated.add(1L); v }
    val source = spark.range(0, 100, 1, 3).select(tally(col("id")).as("v"))
    // a frame planned before it is pinned must still be read from the cache
    source.queryExecution.executedPlan
    try {
      val pinned = Pins.leaf(source)
      assert(evaluated.sum == 100L)
      assert(pinned.agg(sum("v")).head().getLong(0) == 4950L)
      assert(pinned.filter(col("v") % 2 === 0).count() == 50L)
      assert(evaluated.sum == 100L)
    } finally spark.catalog.clearCache()
  }

  test("clearCache releases a pin's blocks and the leaf still answers") {
    val sc = spark.sparkContext
    def cachedRdds = sc.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRdds
    val pinned = Pins.leaf(spark.range(0, 1000, 1, 3)
      .select((col("id") % 7).as("k"), col("id").as("v")))
    val rows = pinned.orderBy("v").collect().toSeq
    val pinRdds = cachedRdds -- before
    assert(pinRdds.nonEmpty, "the fill cached nothing")
    spark.catalog.clearCache()
    assert((cachedRdds intersect pinRdds).isEmpty, sc.getRDDStorageInfo.toSeq)
    assert(pinned.orderBy("v").collect().toSeq == rows)
    assert(rows.length == 1000)
  }

  test("a pin repartitioned on a key joins on that key without a shuffle on its side") {
    /** Shuffles the executed plan places directly over a leaf's scan. */
    def exchangesOverLeaf(df: DataFrame): Int = {
      def overLeaf(p: SparkPlan): Boolean = p match {
        case _: RDDScanExec => true
        case _: Exchange | _: QueryStageExec => false
        case _ => p.children.exists(overLeaf)
      }
      df.queryExecution.toRdd.count()
      collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if overLeaf(e.child) => e
      }.size
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      def degrees = spark.range(0, 20000, 1, 3).select((col("id") % 1000).as("src"))
        .groupBy("src").agg(count(lit(1)).as("outdeg"))
      val nodes = spark.range(0, 1000, 1, 3).select(col("id").as("node_id"))
        .repartition(width, col("node_id"))
      def joined(pin: DataFrame) = pin.join(nodes, pin("src") === nodes("node_id"))
      // control: a data-sized fill is coalesced, so the join shuffles the leaf
      assert(exchangesOverLeaf(joined(Pins.leaf(degrees))) == 1)
      val partitioned = Pins.leaf(degrees.repartition(width, col("src")))
      assert(exchangesOverLeaf(joined(partitioned)) == 0)
      assert(joined(partitioned).count() == 1000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.catalog.clearCache()
    }
  }

  test("a fill's jobs are named by the line that pinned, not by the helper") {
    val (_, tag) = graft.QueryProfile.tagged(spark, "pin site") {
      Pins.leaf(spark.range(0, 100, 1, 2).groupBy((col("id") % 3).as("k")).count())
    }
    try {
      val jobs = graft.QueryProfile.read(spark, tag).jobs
      assert(jobs.nonEmpty, jobs)
      // an AQE job carries its action's site in `site`
      for (j <- jobs)
        assert((j.name +: j.site.toSeq).exists(_.startsWith("count at PinsSpec.scala:")), jobs)
    } finally spark.catalog.clearCache()
  }
}
