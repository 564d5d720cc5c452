package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** A persisted frame as one plan leaf (`Dataset.ofRows` and
  * `LogicalRDD.fromDataset` are private[sql]); its caller is
  * [[graft.util.Pins]]. Same justified package-escape shape as
  * [[ColumnBridge]].
  */
object LeafBridge {
  /** A frame whose logical plan is a single `LogicalRDD` over the cached
    * scan of `persisted`, carrying the cache's statistics and output
    * partitioning. The scan is planned here, after the persist, so it
    * reads the cache rather than `persisted`'s own plan.
    */
  def leaf(persisted: DataFrame): DataFrame = {
    val spark = castToImpl(persisted.sparkSession)
    val scan = Dataset.ofRows(spark, persisted.queryExecution.analyzed)
    val rdd = LogicalRDD.fromDataset(scan.queryExecution.toRdd, scan, isStreaming = false)
    // fromDataset reads the partitioning of the executed plan, whose AQE
    // wrapper reports none; the cached scan under it reports the cache's
    val partitioning = scan.queryExecution.sparkPlan.outputPartitioning match {
      case PartitioningCollection(first +: _) => first
      case p => p
    }
    Dataset.ofRows(spark, rdd.copy(outputPartitioning = partitioning)(
      spark, Some(rdd.computeStats()), Some(rdd.constraints)))
  }
}
