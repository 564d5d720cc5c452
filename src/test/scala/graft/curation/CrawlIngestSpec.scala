package graft.curation

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The crawl ingest loop LIVE: verdicts across micro-batches against the
  * growing URL store, both dedup axes (URL-exact re-crawl, content
  * mirror under a different URL), verdict precedence, the bad-URL
  * sentinel, and restart replay self-consistency. The batch-replay
  * semantics are oracle-checked by q257 through the SAME verdict
  * function; these pin the streaming store mechanics.
  */
class CrawlIngestSpec extends SparkSpec {
  import spark.implicits._

  private def page(id: Long, urlId: Long, contentId: Long): (Long, String, String) =
    (id, s"HTTPS://Site.example:443/p/$urlId?utm_x=1&a=2",
      s"<html><body><p>content $contentId</p></body></html>")

  test("live stream: both dedup axes across micro-batches, store grows") {
    val table = freshTable("crawl_store_stream_test")
    val srcDir = Files.createTempDirectory("crawl_stream").toString + "/src"
    val b1 = Seq(page(1L, 100L, 500L), page(2L, 101L, 501L))
      .toDF("page_id", "url", "html")
    b1.coalesce(1).write.parquet(srcDir)

    val log = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = CrawlIngest.crawlIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => log ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q.processAllAvailable()
      assert(log.toMap === Map(1L -> "accepted", 2L -> "accepted"))
      assert(spark.table(table).count() === 2L)

      // batch 2: 10 re-crawls stored url 100; 11 mirrors stored content
      // 501 under a new url; 12 is new; 13 re-crawls 12 in-batch;
      // 14 mirrors 12's content in-batch; 15 is a non-URL fetch target
      Seq(page(10L, 100L, 900L), page(11L, 200L, 501L), page(12L, 300L, 700L),
        page(13L, 300L, 901L), page(14L, 400L, 700L))
        .toDF("page_id", "url", "html")
        .unionByName(Seq((15L, "not a url", "<p>x</p>"))
          .toDF("page_id", "url", "html"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(log.toMap === Map(
        1L -> "accepted", 2L -> "accepted",
        10L -> "url_dup_vs_history", 11L -> "mirror_vs_history",
        12L -> "accepted", 13L -> "url_dup_in_batch",
        14L -> "mirror_in_batch", 15L -> "rejected_bad_url"))
      // only accepted pages' keys landed
      assert(spark.table(table).select("page_id").collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
    } finally q.stop()

    // restart without a checkpoint: every source file replays as ONE
    // batch against the populated store — the batch's own ids are
    // excluded from the store side (no self-matching, so history drops
    // become in-batch drops against their now-co-batched partners) and
    // nothing double-appends
    val replay = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q2 = CrawlIngest.crawlIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => replay ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q2.processAllAvailable()
      assert(replay.toMap === Map(
        1L -> "accepted", 2L -> "accepted",
        10L -> "url_dup_in_batch", // partner is page 1, now in the SAME batch
        11L -> "mirror_in_batch", // partner is page 2, same batch
        12L -> "accepted", 13L -> "url_dup_in_batch",
        14L -> "mirror_in_batch", 15L -> "rejected_bad_url"))
      assert(spark.table(table).select("page_id").collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L, 12L)) // no double-append
    } finally q2.stop()
  }

  test("crash recovery: a store left under its compaction-swap name keeps its history") {
    val table = freshTable("crawl_store_recover_test")
    freshTable(s"${table}__compact_old")
    val srcDir = Files.createTempDirectory("crawl_recover").toString + "/src"
    val b1 = Seq(page(1L, 100L, 500L), page(2L, 101L, 501L))
      .toDF("page_id", "url", "html")
    b1.coalesce(1).write.parquet(srcDir)
    val log = scala.collection.mutable.Map[Long, String]()
    val q = CrawlIngest.crawlIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => log ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q.processAllAvailable()
      assert(log.toMap === Map(1L -> "accepted", 2L -> "accepted"))
      // a compaction crash between its two renames: the live store only
      // exists under its __compact_old name
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__compact_old")
      // 10 re-crawls admitted url 100
      Seq(page(10L, 100L, 900L)).toDF("page_id", "url", "html")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(log(10L) === "url_dup_vs_history")
      assert(spark.table(table).select("page_id").collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L))
      assert(!spark.catalog.tableExists(s"${table}__compact_old"))
    } finally q.stop()
  }

  test("url precedence beats mirror: same url AND same content is a url dup") {
    val batch = CrawlIngest.pageKeys(
      Seq(page(1L, 5L, 9L), page(2L, 5L, 9L)).toDF("page_id", "url", "html"))
    val v = CrawlIngest.crawlVerdicts(batch, batch.limit(0))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(v === Map(1L -> "accepted", 2L -> "url_dup_in_batch"))
  }
}
