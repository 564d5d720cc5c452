package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Data-adaptive shuffle widths for operators whose post-shuffle frames
  * are orders of magnitude narrower than their scan stages (guide §2.2:
  * many tiny shuffle blocks are pure task-launch overhead). The same
  * sizing rule as the iterative graph loops (LinkGraph): one partition
  * per ~64k narrow rows (≈1-10 MB), CAPPED at the session's configured
  * width — a cluster-scale frame keeps the configured parallelism, so
  * the value is derived from the data, never a local-mode constant.
  */
object Widths {

  /** Rows-per-partition target: ~64k narrow rows ≈ 1-10 MB. */
  val RowsPerPartition = 65536L

  /** Width for a shuffle whose input is ~`rows` narrow rows: capped at
    * the session's `spark.sql.shuffle.partitions`, floor 1.
    */
  def adaptive(spark: SparkSession, rows: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(session.toLong, rows / RowsPerPartition + 1L)).toInt
  }

  /** `df` pinned (memory and disk) hash-partitioned by `keys` at the
    * session's shuffle width, for a pin whose later joins and aggregates
    * on `keys` read it without a shuffle. The explicit count is what keeps
    * that partitioning: AQE sizes every other cache fill by its data
    * ([[graft.GraftSession.engineConf]]) and coalesces it away, but never
    * a repartition to a stated count.
    */
  def pinPartitioned(df: DataFrame, keys: String*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys.map(col): _*).persist(StorageLevel.MEMORY_AND_DISK)
}
