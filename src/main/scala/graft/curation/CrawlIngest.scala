package graft.curation

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl-side ingest dedup — the web tier's member of the store-backed
  * ingest family ([[Curation.nearDupIngestStream]] / visual / video /
  * ANN): arriving FETCHED PAGES dedup on two axes before entering the
  * corpus,
  *
  *  - **URL-exact**: the page's canonical URL ([[graft.text.WebText
  *    .canonicalUrl]]) was already admitted — a re-crawl;
  *  - **content mirror**: the page's extracted-text md5 was already
  *    admitted under a DIFFERENT canonical URL — a mirror site (same
  *    canonical URL is by definition the URL axis, which takes
  *    precedence).
  *
  * Verdict precedence (keep-first in batch, history before batch):
  * url_dup_vs_history > url_dup_in_batch > mirror_vs_history >
  * mirror_in_batch > accepted. The in-batch rules are min-id algebra
  * (page_id > min over the key group), never a window over pages.
  *
  * 100 TB shape: canonicalization and extraction are codegen'd scalar
  * chains inside the scan; only (page_id, canon_url, text_md5) rows
  * reach any exchange — never HTML. The store holds one narrow row per
  * ADMITTED page, bucketed by canon_url so the URL verdict join
  * consumes the bucketing with zero store-side exchange; the mirror
  * probe broadcasts the batch's md5 set against the store scan (no
  * store exchange either).
  */
object CrawlIngest {

  /** Row-local page → dedup keys: (page_id, canon_url, text_md5). */
  def pageKeys(pages: DataFrame, idCol: String = "page_id",
      urlCol: String = "url", htmlCol: String = "html"): DataFrame =
    pages.select(col(idCol).as("page_id"),
      graft.text.WebText.canonicalUrl(col(urlCol)).as("canon_url"),
      md5(graft.text.WebText.htmlText(col(htmlCol))).as("text_md5"))

  /** Verdicts for one batch of key rows against the admitted store
    * (canon_url, text_md5 columns). Output: (page_id, verdict).
    */
  def crawlVerdicts(batch: DataFrame, store: DataFrame): DataFrame = {
    val urlHist = batch.join(store.select(col("canon_url")),
        Seq("canon_url"), "left_semi")
      .select(col("page_id"), lit(1L).as("url_hist"))
    val md5Hist = batch.join(store.select(col("text_md5")),
        Seq("text_md5"), "left_semi")
      .select(col("page_id"), lit(1L).as("md5_hist"))
    val urlMin = batch.groupBy("canon_url")
      .agg(min("page_id").as("url_min"))
    val md5Min = batch.groupBy("text_md5")
      .agg(min("page_id").as("md5_min"))
    batch
      .join(urlHist, Seq("page_id"), "left_outer")
      .join(md5Hist, Seq("page_id"), "left_outer")
      .join(urlMin, Seq("canon_url"), "left_outer")
      .join(md5Min, Seq("text_md5"), "left_outer")
      .select(col("page_id"), col("canon_url"), col("text_md5"),
        when(col("url_hist") === 1L, "url_dup_vs_history")
          .when(col("page_id") > col("url_min"), "url_dup_in_batch")
          .when(col("md5_hist") === 1L, "mirror_vs_history")
          .when(col("page_id") > col("md5_min"), "mirror_in_batch")
          .otherwise("accepted").as("verdict"))
  }

  /** Store-backed STREAMING crawl ingest — the page-key member of the
    * [[graft.ops.StoreBackedIngest.stream]] family: per micro-batch
    * compute key rows row-local, take [[crawlVerdicts]] against the
    * canon_url-bucketed store, and append only accepted pages' keys.
    * Null canonical URLs (non-URL fetch targets) never enter the store
    * or a join: they get a `rejected_bad_url` verdict. No threshold
    * compaction runs (crash recovery of the store still does).
    */
  def crawlIngestStream(pages: DataFrame, storeTable: String,
      buckets: Int = 32, checkpoint: Option[String] = None)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.ops.StoreBackedIngest.stream(pages, storeTable, "page_id",
      "canon_url", buckets, checkpoint, compactFileThreshold = 0)(
      batch => pageKeys(batch).filter(col("canon_url").isNotNull),
      (batch, keys, store) => crawlVerdicts(keys, store)
        .select(col("page_id"), col("verdict"))
        .unionByName(pageKeys(batch).filter(col("canon_url").isNull)
          .select(col("page_id"), lit("rejected_bad_url").as("verdict"))),
      sink)
}
