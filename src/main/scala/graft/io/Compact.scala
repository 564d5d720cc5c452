package graft.io

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance chore every long-lived
  * 100-TB dataset needs: streaming ingest and per-batch upserts leave
  * thousands of KB-sized parquet files whose per-file open/footer cost
  * eventually dwarfs the scan itself.
  *
  * Strategy: size the output file count from the actual on-disk bytes
  * (not row counts — row width varies wildly), then stage the rewrite
  * and land it through [[Swap]] so readers never observe a
  * half-compacted directory. When a sort column is given the rewrite
  * lays files out by its range, keeping min/max stats selective (and
  * composing with [[graft.ops.ZOrder.writeZOrdered]] for 2-D layouts).
  */
object Compact {

  /** Bytes under `path` (parquet data files only). */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hPath, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }

  def dataFileCount(spark: SparkSession, path: String): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hPath, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Location of a (managed or external) catalog table's data dir. */
  def tableLocation(spark: SparkSession, table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location.toString

  private def stagingOf(table: String) = table + "__compact_staging"
  private def oldOf(table: String) = table + "__compact_old"

  /** Restore invariants after a crashed [[compactBucketedTable]]: if the
    * crash fell between the two renames, the data lives under the `_old`
    * name — put it back; any leftover staging table is dropped. Callers
    * that auto-create a missing table MUST run this first, or a
    * mid-swap crash would silently restart the table from empty.
    */
  def recoverBucketedTable(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(oldOf(table))) {
      if (!spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE ${oldOf(table)} RENAME TO $table")
      else spark.sql(s"DROP TABLE ${oldOf(table)}")
    }
    if (spark.catalog.tableExists(stagingOf(table)))
      spark.sql(s"DROP TABLE ${stagingOf(table)}")
  }

  /** Rewrite a BUCKETED catalog table (the [[Writers.writeBucketed]] /
    * [[Writers.appendBucketed]] layout) down to ~one file per bucket,
    * preserving the bucket spec — so the no-shuffle-join guarantee the
    * table exists for survives its own maintenance. Per-batch appends
    * write at least one small file per touched bucket, so a streaming
    * ingest loop grows the file count linearly with batch count; this
    * rewrite is the periodic chore that bounds it.
    *
    * The repartition on the bucket key puts each bucket's rows in ONE
    * task (same murmur3 hash family as the bucket spec), so the rewrite
    * emits ~`buckets` files. One shuffle of the store per compaction —
    * at very large store sizes, raise the trigger threshold so the
    * amortized cost per batch stays negligible.
    *
    * Swap protocol (all catalog renames, metadata-cheap): write staging
    * table under the same bucket spec → rename live → `_old` → rename
    * staging → live → drop `_old`. Every crash window is covered by
    * [[recoverBucketedTable]], which runs first here and should also run
    * at loop start by any caller that auto-creates the table.
    * Returns (filesBefore, filesAfter).
    *
    * CONCURRENCY CONTRACT — single writer, session-scoped confs: the
    * rewrite pins three session-global SQL confs for its duration, so any
    * OTHER query running on the SAME SparkSession in that window executes
    * with AQE/plannedWrite/autoBucketedScan disabled, and two concurrent
    * compactions on one session would race restoring each other's values.
    * The streaming ingest loops satisfy the contract for free (each
    * foreachBatch runs in its own cloned session, whose conf is isolated
    * from the outer session and from other streams); direct callers that
    * share a session with concurrent work should run this through
    * `spark.newSession()`.
    */
  def compactBucketedTable(spark: SparkSession, table: String,
      key: Seq[String], buckets: Int): (Int, Int) = {
    recoverBucketedTable(spark, table)
    val before = dataFileCount(spark, tableLocation(spark, table))
    val staging = stagingOf(table)
    val old = oldOf(table)
    // The rewrite is ZERO-shuffle when the planner cooperates: the scan
    // of a bucketed table can read one partition per bucket, which
    // already satisfies the repartition below (the planner removes it as
    // redundant), and each write task then holds exactly one bucket →
    // one output file per bucket. Three confs must be pinned for that
    // plan to materialize: autoBucketedScan would silently DROP the
    // bucketed layout for a plain scan-write query (it only keeps it
    // when a join/agg wants it — the planner then removes the
    // repartition based on the bucket metadata anyway, yielding
    // file-packed mixed-bucket partitions that re-fragment the output);
    // planned write would insert its own AQE rebalance for bucketed
    // saves (packing SEVERAL buckets per task); and AQE could re-plan
    // the exchange in the fallback path where the repartition survives
    // (e.g. a store whose catalog entry lost its bucket spec).
    val pinned = Seq(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
      "spark.sql.optimizer.plannedWrite.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try
      spark.table(table)
        .repartition(buckets, key.map(col): _*)
        .write
        .bucketBy(buckets, key.head, key.tail: _*)
        .sortBy(key.head, key.tail: _*)
        .saveAsTable(staging)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
    (before, dataFileCount(spark, tableLocation(spark, table)))
  }

  /** Rewrite `path` into ~`targetFileBytes` files (default 128 MiB, the
    * usual HDFS-block-aligned choice). Returns (filesBefore, filesAfter);
    * no-ops (zero rewrites) when the file count is already at or under
    * the target. Without `sortBy` the rewrite is a narrow `coalesce` (no
    * shuffle — a compaction that shuffles 100 TB to save file handles is
    * worse than the disease). The rewrite is staged beside `path` and
    * lands through [[Swap.promote]], after [[Swap.restore]] healed any
    * swap a crashed previous run (of compaction OR a [[Writers]] sink)
    * left, so the dataset is never lost and never half-written.
    */
  def compactPath(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortBy: Option[String] = None): (Int, Int) = {
    val (fs, live, staged, bak) = Writers.restoreSwap(spark, path)
    val before = dataFileCount(spark, path)
    val nOut = math.max(1, math.ceil(dataBytes(spark, path).toDouble / targetFileBytes).toInt)
    if (before <= nOut) return (before, before)
    val df = spark.read.parquet(path)
    val laidOut = sortBy match {
      case Some(c) => df.repartitionByRange(nOut, col(c)).sortWithinPartitions(c)
      case None => df.coalesce(nOut)
    }
    laidOut.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    Swap.promote(fs, staged, live, bak)
    (before, dataFileCount(spark, path))
  }
}
