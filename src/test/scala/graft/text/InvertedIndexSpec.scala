package graft.text

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InvertedIndexSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"
  private lazy val path = {
    val p = Files.createTempDirectory("inv_idx_spec").toString
    InvertedIndex.build(spark, sf("documents", dir), p)
    p
  }

  test("persisted query is bit-identical to the inline bm25") {
    for (terms <- Seq(Seq("spark", "window", "hash"), Seq("table"),
        Seq("merge", "scan"))) {
      val fromIndex = InvertedIndex.query(spark, path, terms)
        .collect().map(_.toString).toSeq
      val inline = graft.curation.Curation.bm25(sf("documents", dir), terms)
        .collect().map(_.toString).toSeq
      assert(fromIndex == inline, s"terms $terms diverged")
    }
  }

  test("driver-side bucket math equals the column expression") {
    val terms = Seq("spark", "window", "hash", "merge", "café")
    import spark.implicits._
    val fromCol = terms.toDF("t")
      .select(InvertedIndex.termBucket(col("t"))).collect().map(_.getLong(0))
    assert(fromCol.toSeq == terms.map(InvertedIndex.bucketOf))
  }

  test("query scans only the terms' buckets and no text column exists") {
    val terms = Seq("spark", "window")
    val want = terms.map(InvertedIndex.bucketOf).distinct.toSet
    val df = InvertedIndex.query(spark, path, terms)
    val scans = collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val postings = scans.find(_.relation.location.rootPaths
      .exists(_.toString.contains("postings"))).get
    // partition pruning: the tb filter reaches PartitionFilters
    assert(postings.partitionFilters.nonEmpty,
      s"expected partition filters on tb, got none:\n$postings")
    val scanned = postings.relation.location
      .listFiles(postings.partitionFilters, postings.dataFilters)
      .flatMap(_.files).map(_.getPath.toString)
      .flatMap("tb=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong)).toSet
    assert(scanned == want, s"scanned buckets $scanned, wanted $want")
    // the layout carries no document text anywhere
    val cols = spark.read.parquet(s"$path/postings").columns.toSet
    assert(cols == Set("term", "doc_id", "dl", "tf", "df", "tb", "positions"))
    // ...and the ranked-query scan prunes the positions column away
    assert(!postings.schema.fieldNames.contains("positions"),
      s"bm25 must not read positions: ${postings.schema.fieldNames.toSeq}")
  }

  test("a partial build (no marker) is refused") {
    val p = Files.createTempDirectory("inv_idx_partial").toString
    sf("documents", dir).limit(5)
      .select(col("doc_id"), col("text"))
      .write.parquet(s"$p/postings")
    intercept[IllegalArgumentException](
      InvertedIndex.query(spark, p, Seq("spark")))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).toSeq

  test("segment merge equals the full build bit-for-bit") {
    val d = sf("documents", dir)
    val base = Files.createTempDirectory("inv_idx_merge").toString
    InvertedIndex.build(spark, d.filter(col("doc_id") % 2 === 0), s"$base/a")
    InvertedIndex.build(spark, d.filter(col("doc_id") % 2 === 1), s"$base/b")
    InvertedIndex.merge(spark, s"$base/a", s"$base/b", s"$base/m")
    InvertedIndex.build(spark, d, s"$base/full")
    for (terms <- Seq(Seq("spark", "window", "hash"), Seq("table", "merge")))
      assert(rows(InvertedIndex.query(spark, s"$base/m", terms)) ==
        rows(InvertedIndex.query(spark, s"$base/full", terms)))
  }

  test("tombstone delete hides docs immediately; compact equals a clean build") {
    import spark.implicits._
    val d = sf("documents", dir)
    val base = Files.createTempDirectory("inv_idx_del").toString
    InvertedIndex.build(spark, d, s"$base/idx")
    val victims = InvertedIndex.query(spark, s"$base/idx", Seq("spark"))
      .limit(3).select("doc_id").collect().map(_.getLong(0)).toSeq
    InvertedIndex.delete(spark, s"$base/idx", victims.toDF("doc_id"))
    // deleted docs never surface, even though df/stats are still stale
    val afterDelete = InvertedIndex.query(spark, s"$base/idx", Seq("spark"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(afterDelete.forall(!victims.contains(_)))

    InvertedIndex.compact(spark, s"$base/idx")
    InvertedIndex.build(spark,
      d.filter(!col("doc_id").isin(victims: _*)), s"$base/clean")
    for (terms <- Seq(Seq("spark", "window", "hash"), Seq("table")))
      assert(rows(InvertedIndex.query(spark, s"$base/idx", terms)) ==
        rows(InvertedIndex.query(spark, s"$base/clean", terms)),
        s"compacted index diverged from the clean build on $terms")
    // tombstones cleared by compaction
    assert(!new java.io.File(s"$base/idx/deletes").exists())
  }

  test("phrase search finds exactly the consecutive occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big table scan is slow but big table wins"),
      (2L, "table big no phrase here"),
      (3L, "big big table"), // one occurrence, overlapping prefix
      (4L, "nothing relevant")
    ).toDF("doc_id", "text")
    val p = Files.createTempDirectory("inv_idx_phrase").toString
    InvertedIndex.build(spark, docs, p)
    val got = InvertedIndex.phraseQuery(spark, p, Seq("big", "table"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
    // three-term phrase
    val got3 = InvertedIndex.phraseQuery(spark, p, Seq("big", "table", "scan"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got3 == Seq((1L, 1L)))
    // tombstoned docs disappear from phrase results too
    InvertedIndex.delete(spark, p, Seq(1L).toDF("doc_id"))
    assert(InvertedIndex.phraseQuery(spark, p, Seq("big", "table"))
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("a compact stranded between its two renames is healed") {
    val d = sf("documents", dir)
    val base = Files.createTempDirectory("inv_idx_crash").toString
    InvertedIndex.build(spark, d, s"$base/idx")
    val before = rows(InvertedIndex.query(spark, s"$base/idx", Seq("spark")))
    // simulate the window: root renamed away to the backup sibling
    val root = new java.io.File(s"$base/idx")
    assert(root.renameTo(new java.io.File(s"$base/.idx.compact_bak")))
    val after = rows(InvertedIndex.query(spark, s"$base/idx", Seq("spark")))
    assert(after == before)
  }

  test("a read never deletes an in-flight compaction's staging") {
    import spark.implicits._
    val d = sf("documents", dir)
    val base = Files.createTempDirectory("inv_idx_staging").toString
    InvertedIndex.build(spark, d, s"$base/idx")
    // what a compact between its staged postings and stats jobs has written
    val sentinel = new java.io.File(s"$base/.idx.compact_staging/sentinel")
    assert(sentinel.getParentFile.mkdirs() && sentinel.createNewFile())
    val victims = InvertedIndex.query(spark, s"$base/idx", Seq("spark"))
      .limit(3).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(sentinel.exists(), "a query deleted an in-flight compaction's staging")
    InvertedIndex.delete(spark, s"$base/idx", victims.toDF("doc_id"))
    InvertedIndex.compact(spark, s"$base/idx")
    InvertedIndex.build(spark,
      d.filter(!col("doc_id").isin(victims: _*)), s"$base/clean")
    for (terms <- Seq(Seq("spark", "window", "hash"), Seq("table")))
      assert(rows(InvertedIndex.query(spark, s"$base/idx", terms)) ==
        rows(InvertedIndex.query(spark, s"$base/clean", terms)),
        s"compacted index diverged from the clean build on $terms")
    assert(!new java.io.File(s"$base/.idx.compact_staging").exists())
  }

  test("build fills its per-doc pin before any consumer reads it") {
    val base = Files.createTempDirectory("inv_idx_pin").toString
    val docs = sf("documents", dir)
    var tag = ""
    val warnings = graft.LogCapture.recomputedBlocks {
      tag = graft.QueryProfile.tagged(spark, "inv-build") {
        InvertedIndex.build(spark, docs, s"$base/idx")
      }._2
    }
    assert(warnings.isEmpty, warnings)
    // the df aggregate and the postings write read the pin in one plan;
    // unfilled, AQE submits one cache-filling job per reader at once (a
    // racing task then waits on the block and logs the warning above).
    // Filled first, the build's jobs run one at a time.
    val (jobs, _) = org.apache.spark.graft.SparkStatus.tagged(
      spark.sparkContext, tag, Array.empty)
    val spans = jobs.map(j => (j.jobId, j.submissionTime.get.getTime,
      j.completionTime.get.getTime)).sortBy(_._2)
    val overlapping = spans.zip(spans.drop(1)).filter { case (a, b) => b._2 < a._3 }
    assert(overlapping.isEmpty, s"concurrent jobs (id, start, end): $overlapping")
  }
}
