package graft.api

import graft.SparkSpec
import java.nio.file.Files

class BronzeSpec extends SparkSpec {
  import spark.implicits._

  test("bronze ingest partitions, prunes, and derives the meta table") {
    val dir = Files.createTempDirectory("bronze").toString + "/hc"
    val batch1 = Seq(("2023", "1", "POSITIVE"), ("2023", "2", "neg"))
      .toDF("Year", "Month", "Slide Status")
    val batch2 = Seq(("2024", "1", "no malaria")).toDF("Year", "Month", "Slide Status")
    Bronze.ingest(batch1, dir, "healthcenter-data", "Gasabo", "Remera", 2023)
    Bronze.ingest(batch2, dir, "healthcenter-data", "Nyarugenge", "Kimisagara", 2024)

    // slice read returns only the matching partition
    val slice = Bronze.read(spark, dir, district = Some("gasabo"), years = Seq(2023))
    assert(slice.count() == 2)

    // partition pruning is visible in the physical plan
    val plan = planText(slice.queryExecution.executedPlan)
    assert(plan.contains("PartitionFilters:") && plan.contains("_district"),
      s"expected partition filters in:\n$plan")
    // and no row-group data filter needed for the partition columns
    val pruned = Bronze.read(spark, dir, district = Some("nowhere"))
    assert(pruned.count() == 0)

    // metadata sibling: counts + column inventory per partition
    val meta = Bronze.metaTable(spark, dir).collect()
    assert(meta.length == 2)
    val g = meta.find(_.getAs[String]("_district") == "gasabo").get
    assert(g.getAs[Long]("records_count") == 2)
    assert(g.getAs[scala.collection.Seq[String]]("columns").toSet
      .contains("Slide Status"))
    // lineage columns are stamped
    assert(slice.columns.count(_.startsWith("_")) >= 5)
  }

  test("ingestDocuments persists signatures at ingest; dedup needs no text re-read") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val dir = Files.createTempDirectory("bronze_docs").toString + "/docs"

    val s1 = Bronze.ingestDocuments(
      Seq((1L, words("x", 30)), (2L, words("y", 30))).toDF("doc_id", "text"),
      dir, "docs", "gasabo", "remera", 2023)
    assert(s1.inserted == 2 && s1.updated == 0)
    // second batch: new doc + re-ingest of doc 2 (signature refreshes, not duplicates)
    val s2 = Bronze.ingestDocuments(
      Seq((3L, words("z", 30)), (2L, words("y", 30))).toDF("doc_id", "text"),
      dir, "docs", "gasabo", "remera", 2023)
    assert(s2.inserted == 1 && s2.updated == 1)
    val store = spark.read.parquet(Bronze.signatureDir(dir))
    assert(store.count() == 3 && store.columns.toSeq == Seq("doc_id", "sig"))

    // an arriving batch deduplicates against the store without any scan of
    // the bronze documents table
    val verdicts = graft.curation.Curation.incrementalNearDup(
      Seq((10L, words("x", 30)), (11L, words("f", 30))).toDF("doc_id", "text"),
      store)
    // boundary-aware: the store path (".../docs_sigs") contains the docs
    // path (".../docs") as a substring, so check the docs dir with its
    // location-closing delimiters instead of a bare contains
    val plan = planText(verdicts.queryExecution.executedPlan)
    assert(!plan.contains(s"$dir]") && !plan.contains(s"$dir,") && !plan.contains(s"$dir/"),
      "dedup plan scanned the bronze documents table")
    assert(plan.contains("docs_sigs"), "store scan missing from dedup plan")
    val m = verdicts.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(10L -> "dropped_vs_history", 11L -> "accepted"))
  }
}
