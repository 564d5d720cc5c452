package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store-backed STREAMING embedding near-dup ingest — the VECTOR sibling
  * of the text ([[graft.curation.Curation.nearDupIngestStream]]) and
  * visual ([[graft.multimodal.Multimodal.visualNearDupIngestStream]])
  * loops, closing the ingest-dedup family across all three modalities,
  * with the persisted IVF×PQ index ([[AnnIndex]]) as the store.
  *
  * Each micro-batch of (vec_id, embedding) rows:
  *   1. searches the index for every arriving vector in ONE distributed
  *      plan ([[AnnIndex.searchRows]] — row-local probe selection,
  *      ADC tables riding on the query rows, a single cell equi-join);
  *      the batch's own ids are excluded from the index side, so rows a
  *      crashed attempt already appended never match their own retry;
  *   2. verdicts: `dropped_vs_index` when an index neighbor sits within
  *      `eps` in the ADC top-`topK`; `dropped_in_batch` when an
  *      EARLIER-ID batch member does (the batch searches its own
  *      freshly-encoded rows through the same code path — no persisted
  *      layout needed for the in-flight side); else `accepted`. The
  *      top-k window is the same deliberate approximation the batch
  *      dedup query (q158) makes and documents;
  *   3. appends ONLY accepted vectors' codes to their cell directories
  *      ([[AnnIndex.append]] — encode under the SAVED codebooks,
  *      dynamic-partition append touching only arriving cells, per-cell
  *      compaction when `maxFilesPerCell` > 0, crash recovery run
  *      unconditionally), with ids a crashed attempt already appended
  *      anti-joined out (the text loop's alreadyStored discipline:
  *      the probe reads the index's vec_id column only);
  *   4. hands (vec_id, verdict) rows to `sink`.
  *
  * Verdicts are localCheckpoint-pinned BEFORE the append, so the sink
  * can never observe a verdict recomputed against the post-append index
  * (every just-accepted vector would otherwise self-match).
  *
  * 100 TB shape: the per-batch cost is the batch's probe-cell join plus
  * one bounded vec_id column scan of the index — never a float-corpus
  * scan, never a per-query driver round-trip; index growth is bounded
  * by per-cell compaction exactly like the signature stores.
  */
object AnnIngest {

  /** One ingest batch's per-vector verdict frame — the EXACT decision
    * logic the streaming loop runs, factored out so a batch replay
    * (q179, the q156 symmetry for the embedding modality) and the stream
    * can never diverge. `batch` must already be null-filtered to
    * (vec_id, embedding); `indexRows` is the index state the batch
    * arrives against. Both arms go through [[AnnIndex.searchRows]]:
    * the index arm excludes the batch's own ids (retry safety), the
    * in-batch arm searches the batch's freshly-encoded rows. Verdict
    * priority: dropped_vs_index > dropped_in_batch > accepted.
    */
  def verdicts(s: org.apache.spark.sql.SparkSession, batch: DataFrame,
      indexRows: DataFrame, cb: AnnIndex.Codebooks, eps: Double,
      nprobe: Int, topK: Int): DataFrame = {
    val clean = batch.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val batchIds = clean.select(col("vec_id")).distinct()
    val vsIndex = AnnIndex
      .searchRows(s, clean, indexRows, cb, nprobe, topK, Some(batchIds))
      .filter(col("adc_dist") <= eps)
      .groupBy(col("q_id").as("vec_id")).agg(max(lit(1L)).as("vs_index"))
    // in-batch arm: the batch's own rows, encoded under the saved
    // codebooks, are the searched side — same plan shape, tiny frame
    val encoded = Pq.encode(clean, cb.pq)
      .withColumn("v_nrm", VecOps.norm(col("embedding")))
      .withColumn("cell",
        VecOps.argmaxCell(col("embedding"), col("v_nrm"), cb.coarse))
      .select(col("vec_id"), col("codes"), col("cell"))
    val vsBatch = AnnIndex.searchRows(s, clean, encoded, cb, nprobe, topK)
      .filter(col("vec_id") < col("q_id") && col("adc_dist") <= eps)
      .groupBy(col("q_id").as("vec_id")).agg(max(lit(1L)).as("vs_batch"))
    graft.ops.StoreBackedIngest.labels(batchIds, "vec_id", vsIndex, vsBatch,
      "dropped_vs_index")
  }

  def annDedupIngestStream(vecs: DataFrame, path: String, eps: Double,
      nprobe: Int = 2, topK: Int = 10, checkpoint: Option[String] = None,
      maxFilesPerCell: Int = 0)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = vecs.writeStream.outputMode("append")
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // unconditional: a crash inside a previous batch's per-cell
        // compaction swap must be healed before anything reads the index
        AnnIndex.recoverCells(s, path)
        val cb = AnnIndex.loadCodebooks(s, path)
        val clean = batch.filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding"))
        val batchIds = clean.select(col("vec_id")).distinct()
        val indexRows = s.read.parquet(s"$path/index")
        val batchVerdicts =
          verdicts(s, clean, indexRows, cb, eps, nprobe, topK)
            .localCheckpoint(true)
        val alreadyStored = indexRows.select(col("vec_id"))
          .join(broadcast(batchIds), Seq("vec_id"), "left_semi").distinct()
        val acceptedVecs = clean
          .join(batchVerdicts.filter(col("verdict") === "accepted")
            .select(col("vec_id")), Seq("vec_id"))
          .join(broadcast(alreadyStored), Seq("vec_id"), "left_anti")
        AnnIndex.append(s, acceptedVecs, path, maxFilesPerCell)
        sink(batchVerdicts)
        ()
      }
      .start()
  }
}
