package graft.ops

import graft.{LogCapture, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQuery

/** The shared ingest loop fills each batch's pinned store rows before
  * the id broadcast and the verdict plan read them. Readers of an
  * unfilled pin race for its blocks: the losing task waits on the block
  * another task is filling, and BlockManager logs "already exists". Each
  * source row sleeps as it is read, which makes that race show however
  * warm the JVM is.
  */
class StoreBackedIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Streams `batches` through the loop `start` builds, one micro-batch
    * each; returns the recomputed-block warnings logged meanwhile.
    */
  private def drive(batches: Seq[DataFrame])(start: DataFrame => StreamingQuery): Seq[String] = {
    val srcDir = Files.createTempDirectory("ingest_pin").toString + "/src"
    batches.head.coalesce(1).write.parquet(srcDir)
    val id = batches.head.columns.head
    val slow = udf { (v: Long) => Thread.sleep(100); v }
    LogCapture.recomputedBlocks {
      val q = start(spark.readStream.schema(batches.head.schema).parquet(srcDir)
        .withColumn(id, slow(col(id))))
      try {
        q.processAllAvailable()
        batches.tail.foreach { b =>
          b.coalesce(1).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
  }

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("text ingest fills each batch's pin before any reader") {
    val table = freshTable("pin_once_text_store")
    val verdicts = scala.collection.mutable.Map[Long, String]()
    val warnings = drive(Seq(
      Seq((1L, words("x", 30)), (2L, words("y", 30))).toDF("doc_id", "text"),
      Seq((10L, words("x", 30)), (11L, words("q", 30))).toDF("doc_id", "text"))) {
      src => graft.curation.Curation.nearDupIngestStream(src, table, buckets = 4) {
        v => verdicts ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
      }
    }
    assert(verdicts.toMap === Map(1L -> "accepted", 2L -> "accepted",
      10L -> "dropped_vs_history", 11L -> "accepted"))
    assert(warnings.isEmpty, warnings)
  }

  test("crawl ingest fills each batch's pin before any reader") {
    val table = freshTable("pin_once_crawl_store")
    def pages(ps: (Long, Long, Long)*) = ps.map { case (id, url, content) =>
      (id, s"https://site.example/p/$url", s"<html><body><p>content $content</p></body></html>")
    }.toDF("page_id", "url", "html")
    val verdicts = scala.collection.mutable.Map[Long, String]()
    val warnings = drive(Seq(
      pages((1L, 100L, 500L), (2L, 101L, 501L)),
      pages((10L, 100L, 900L), (11L, 200L, 501L), (12L, 300L, 700L)))) {
      src => graft.curation.CrawlIngest.crawlIngestStream(src, table, buckets = 4) {
        v => verdicts ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
      }
    }
    assert(verdicts.toMap === Map(1L -> "accepted", 2L -> "accepted",
      10L -> "url_dup_vs_history", 11L -> "mirror_vs_history", 12L -> "accepted"))
    assert(warnings.isEmpty, warnings)
  }
}
