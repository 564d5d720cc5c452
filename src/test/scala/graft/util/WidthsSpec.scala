package graft.util

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

class WidthsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Shuffles `df`'s executed plan places directly over a cached scan. */
  private def exchangesOverPin(df: DataFrame): Int = {
    def overPin(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec | _: TableCacheQueryStageExec => true
      case _: Exchange | _: QueryStageExec => false
      case _ => p.children.exists(overPin)
    }
    df.queryExecution.toRdd.count()
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if overPin(e.child) => e
    }.size
  }

  test("a partitioned pin keeps its hash partitioning through a data-sized fill") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def degrees = spark.range(0, 20000, 1, 3).select((col("id") % 1000).as("src"))
        .groupBy("src").agg(count(lit(1)).as("outdeg"))
      val ranks = spark.range(0, 1000, 1, 3).select(col("id").as("node_id"))
        .repartition(4, col("node_id"))
      def joined(pin: DataFrame) = pin.join(ranks, pin("src") === ranks("node_id"))
      // a plain pin's tiny fill is coalesced, so the join shuffles it again
      val plain = degrees.persist()
      assert(exchangesOverPin(joined(plain)) == 1)
      plain.unpersist()
      val pinned = Widths.pinPartitioned(degrees, "src")
      assert(exchangesOverPin(joined(pinned)) == 0)
      assert(pinned.rdd.getNumPartitions == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      pinned.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
