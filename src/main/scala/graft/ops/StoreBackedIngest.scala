package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The store-backed streaming ingest loop and the verdict-priority finish
  * shared by the ingest-dedup family: text
  * ([[graft.curation.Curation.nearDupIngestStream]]), visual and video
  * ([[graft.multimodal.Multimodal.visualNearDupIngestStream]],
  * [[graft.multimodal.Multimodal.videoNearDupIngestStream]]) and crawl
  * ([[graft.curation.CrawlIngest.crawlIngestStream]]) run [[stream]];
  * those four plus the ANN loop ([[graft.ml.AnnIngest]]) finish their
  * verdicts with [[labels]].
  *
  * Each modality keeps its own matching arms (semi-join existence for
  * text and visual, pair grain for video's frame conjunction, index
  * search for ANN) — one parameterised arm would have to branch on its
  * caller. The ANN loop keeps its own loop too: its store is a
  * cell-partitioned index, not a bucketed catalog table.
  */
object StoreBackedIngest {

  /** Store-backed STREAMING ingest over a bucketed catalog table. Each
    * micro-batch:
    *   1. recovers a crashed compaction swap of the store;
    *   2. turns the batch into store rows ONCE (`rows`, persisted and
    *      filled for the batch before anything reads it);
    *   3. takes (id, verdict) rows from `verdicts(batch, pinned rows,
    *      store minus the batch's ids)` — the store side is the bucketed
    *      table, so the modality's `bucketKey` join reads it with no
    *      store-side exchange;
    *   4. appends ONLY accepted ids' rows back to the store (same bucket
    *      spec), so batch N+1 dedups against everything batch N admitted;
    *   5. compacts the store past `compactFileThreshold` data files;
    *   6. hands the verdict rows to `sink` — the caller's write stage.
    *
    * `verdicts` returns its id column FIRST (named as the sink expects)
    * and a `verdict` column; `"accepted"` rows are the ones stored. The
    * store rows carry `storeId`, and the store table is created on first
    * use with `buckets` buckets on `bucketKey`. State lives in the TABLE,
    * not executor memory, and store size is bounded by accepted rows,
    * not stream length.
    *
    * Retry/restart safety: foreachBatch is at-least-once, and the store
    * append lands BEFORE the sink — so a re-executed batch is made
    * self-consistent by construction: the batch's own ids are excluded
    * from the store side of the verdict join (its prior partial append
    * can't flip its verdicts to self-matches), and already-stored ids
    * are excluded from the re-append (no duplicate store rows). Both
    * exclusions broadcast the ids of the batch's store rows (ids with no
    * rows cannot have been appended) — no store-side exchange. Pass
    * `checkpoint` in production so a restart resumes the source instead
    * of reprocessing history; the sink still receives replayed verdicts
    * on a crash-retry and should be idempotent per id.
    *
    * Table maintenance is wired in, not left to an external cron: every
    * append writes at least one small file per touched bucket, so the
    * store's file count grows linearly with batch count and the
    * per-batch verdict join eventually pays more in file opens than in
    * work. When `compactFileThreshold` > 0 and the post-append file
    * count exceeds it, the batch ends by rewriting the store to ~one
    * file per bucket under the SAME bucket spec
    * ([[graft.io.Compact.compactBucketedTable]] — the no-shuffle
    * verdict join survives compaction, spec-asserted). Size the
    * threshold a few multiples of `buckets` so the rewrite (one store
    * shuffle) amortizes over many batches; 0 disables it, reproducing
    * the maintain-externally contract.
    */
  def stream(input: DataFrame, storeTable: String, storeId: String,
      bucketKey: String, buckets: Int, checkpoint: Option[String],
      compactFileThreshold: Int)(
      rows: DataFrame => DataFrame,
      verdicts: (DataFrame, DataFrame, DataFrame) => DataFrame,
      sink: DataFrame => Unit): StreamingQuery = {
    val writer = input.writeStream.outputMode("append")
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // a crash inside a previous batch's compaction swap can leave the
        // store under its __compact_old name; recover BEFORE the
        // tableExists probes below, or this batch would silently restart
        // the store from empty. Unconditional (cheap no-op without swap
        // state): a restart with compaction DISABLED after such a crash
        // must still heal the store
        graft.io.Compact.recoverBucketedTable(s, storeTable)
        val pinned = rows(batch).persist()
        try {
          // fill the pin before any consumer: the broadcast of its ids and
          // the verdict plan's concurrent stages would otherwise each
          // compute a not-yet-cached partition
          pinned.count()
          val batchIds = pinned.select(col(storeId)).distinct()
          val store =
            (if (s.catalog.tableExists(storeTable))
              s.table(storeTable).select(pinned.columns.map(col): _*)
            else s.createDataFrame(new java.util.ArrayList[Row](), pinned.schema))
              // a crashed earlier attempt of THIS batch may have appended
              // some of its rows already — they must not self-match
              .join(broadcast(batchIds), Seq(storeId), "left_anti")
          // localCheckpoint (eager) BEFORE the append, not persist():
          // writing to the store table invalidates any cached plan that
          // references it, so a merely-persisted verdict frame would
          // silently RECOMPUTE against the post-append store — and every
          // just-accepted row would then self-match against history.
          // The checkpoint truncates lineage, pinning the pre-append read.
          val v = verdicts(batch, pinned, store).localCheckpoint(true)
          val accepted = pinned.join(
            v.filter(col("verdict") === "accepted")
              .select(col(v.columns.head).as(storeId)),
            Seq(storeId))
          if (s.catalog.tableExists(storeTable)) {
            // retry dedup: ids a crashed attempt already appended stay
            // appended once. The probe streams the store's id column
            // against the broadcast batch ids (no store-side exchange).
            val alreadyStored = s.table(storeTable).select(col(storeId))
              .join(broadcast(batchIds), Seq(storeId), "left_semi").distinct()
            graft.io.Writers.appendBucketed(
              accepted.join(broadcast(alreadyStored), Seq(storeId), "left_anti"),
              storeTable, Seq(bucketKey), buckets)
          } else
            graft.io.Writers.writeBucketed(accepted, storeTable,
              Seq(bucketKey), buckets)
          refresh(s, storeTable)
          // auto-compaction: bound the small-file growth the per-batch
          // appends cause. After the append (so a compaction crash never
          // loses this batch's admitted rows — recovery at the top of
          // the next batch restores the swap) and before the sink (the
          // verdicts are localCheckpoint-pinned, so the rewrite cannot
          // change what the sink sees).
          if (compactFileThreshold > 0 &&
              graft.io.Compact.dataFileCount(
                s, graft.io.Compact.tableLocation(s, storeTable)) > compactFileThreshold) {
            graft.io.Compact.compactBucketedTable(
              s, storeTable, Seq(bucketKey), buckets)
            refresh(s, storeTable)
          }
          sink(v)
          ()
        } finally { pinned.unpersist(); () }
      }
      .start()
  }

  /** foreachBatch runs in a CLONED session whose catalog caches are its
    * own — refresh the outer (default) session too, or an interactive
    * reader keeps serving the pre-append file listing (each batch's own
    * clone is fresh, so the loop itself is safe).
    */
  private def refresh(s: SparkSession, table: String): Unit = {
    s.catalog.refreshTable(table)
    SparkSession.getDefaultSession
      .filter(_ ne s).foreach(_.catalog.refreshTable(table))
  }

  /** The verdict-priority finish of every ingest composer: one row per
    * `batchIds` row, `(id, verdict)` with `histLabel` when the id is in
    * `vsHist`, else `dropped_in_batch` when it is in `vsBatch`, else
    * `accepted`. `vsHist`/`vsBatch` are the two arms' matched-id sets,
    * each (matched id, flag = 1) in that column order — a caller keeps
    * its own column names, so its plan is unchanged.
    *
    * The matched-id sets are batch-bounded (≤ one row per batch id — the
    * magnitude the ingest loops already broadcast for their store
    * exclusions), so they broadcast into the final verdict joins instead
    * of paying two batch-side sort-merge exchanges (guide §3.1).
    */
  def labels(batchIds: DataFrame, id: String, vsHist: DataFrame,
      vsBatch: DataFrame, histLabel: String = "dropped_vs_history"): DataFrame = {
    def attach(df: DataFrame, hits: DataFrame) = {
      val key = hits(hits.columns.head)
      df.join(broadcast(hits), df(id) === key, "left_outer").drop(key)
    }
    attach(attach(batchIds, vsHist), vsBatch)
      .select(col(id),
        when(col(vsHist.columns.last) === 1L, histLabel)
          .when(col(vsBatch.columns.last) === 1L, "dropped_in_batch")
          .otherwise("accepted").as("verdict"))
  }
}
