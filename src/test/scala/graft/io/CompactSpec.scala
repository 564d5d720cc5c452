package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactSpec extends SparkSpec {

  private val path = "/tmp/graft_compact_spec"

  test("compaction collapses a many-file directory, data byte-identical") {
    import spark.implicits._
    // simulate streaming debris: 40 tiny appends
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    for (i <- 0 until 10)
      (i * 100 until (i + 1) * 100).map(j => (j.toLong, s"v$j")).toDF("k", "v")
        .repartition(4).write.mode("append").parquet(path)
    val before = Compact.dataFileCount(spark, path)
    assert(before >= 40)

    val (b, a) = Compact.compactPath(spark, path, sortBy = Some("k"))
    assert(b == before && a < before && a >= 1)
    val back = spark.read.parquet(path)
    assert(back.count() == 1000)
    assert(back.agg(sum("k")).head().getLong(0) == (0L until 1000L).sum)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "._graft_staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "._graft_bak")))
  }

  test("sorted compaction lays files out by key range") {
    // with sortBy, per-file min/max ranges must not overlap (that's what
    // makes post-compaction scans prunable)
    import spark.implicits._
    val p2 = "/tmp/graft_compact_sorted"
    val fs = new org.apache.hadoop.fs.Path(p2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p2), true)
    (0 until 10000).map(i => ((i * 7919) % 10000).toLong -> i).toDF("k", "v")
      .repartition(20).write.mode("overwrite").parquet(p2)
    Compact.compactPath(spark, p2, targetFileBytes = 40L * 1024, sortBy = Some("k"))
    val perFile = spark.read.parquet(p2)
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("mn"), max("k").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length > 1, "expected multiple output files at this target size")
    perFile.sliding(2).foreach {
      case Array((_, mxA), (mnB, _)) => assert(mxA <= mnB, "file key ranges overlap")
      case _ =>
    }
  }

  test("compactPath merges small files, preserves data, no-ops at target") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
      .repartition(20).write.parquet(dir)
    def partFiles = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    assert(partFiles.size == 20)
    assert(Compact.compactPath(spark, dir, targetFileBytes = 1L << 30) == ((20, 1)))
    val compacted = partFiles
    assert(compacted.size == 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    assert(back.agg(sum("v")).head().getLong(0)
      == 9999L * 10000L) // sum 2*id over 0..9999
    // second call: already at target -> zero rewrites, same file
    assert(Compact.compactPath(spark, dir, targetFileBytes = 1L << 30) == ((1, 1)))
    assert(partFiles == compacted)
  }
}
