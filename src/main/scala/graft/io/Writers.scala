package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink layer replacing the reference's PostgreSQL drop/create/insert and
  * ON-CONFLICT upsert services (SURVEY.md §2.1 S9/S10, §2.5 J6/J7) with
  * atomic columnar writes:
  *
  *  - replace-mode DROP+INSERT → `overwrite` (stage, then [[Swap]]; improved
  *    failure semantics over the reference, which loses data if the insert
  *    loop dies after the DROP — documented divergence); several tables of
  *    one refresh → `overwriteAll` (stage all concurrently, promote none
  *    unless all staged). Both return the rows written, observed by the
  *    write job — there is no count-then-write
  *  - `ON CONFLICT (key) DO UPDATE` + inserted/updated tallies → left-anti
  *    union with join-derived [[UpsertStats]] (the reference counts via
  *    `xmax = 0`, postgresql_service.py:169-203)
  *  - `delete_many(filter)` + insert batch → dynamic partition overwrite
  *    (country_adm_boundaries_upload_views.py:274-346)
  */
object Writers {

  final case class UpsertStats(inserted: Long, updated: Long, total: Long)

  /** S9 replace mode: write `df` to the `._graft_staging` sibling, then
    * [[Swap.promote]] it over `path` — a crash mid-write never loses the
    * previous dataset, and a failed first write never leaves a live path
    * (a bare SaveMode.Overwrite deletes the old directory before the new
    * job commits — exactly the reference's DROP-then-die hole this sink
    * exists to close). Returns the rows written, counted by the write job
    * itself: callers take a table's row count from here, not from a
    * `count()` that would run its plan a second time.
    */
  def overwrite(df: DataFrame, path: String): Long = {
    val staged = overwriteStaged(df, path)
    staged.promote()
    staged.rows
  }

  /** A table written to its staging sibling but not yet live: `rows`
    * written, and the [[Swap.promote]] that makes them live.
    */
  final case class Staged(rows: Long, promote: () => Unit)

  /** Several replace-mode tables as one commit: every table is written to
    * its `._graft_staging` sibling concurrently ([[Parallel.map]]), then
    * `beforePromote` runs, then each staged table is promoted over its
    * live path. Returns the rows written, in table order.
    *
    * Nothing is promoted unless every table staged and `beforePromote`
    * returned: a failed write (or hook) leaves every live table with its
    * old content and no backup sibling, and the exception surfaces only
    * after the other writes have drained. Their staging debris is
    * overwritten by the next write to each path.
    */
  def overwriteAll(tables: Seq[(DataFrame, String)], beforePromote: => Unit = ()): Seq[Long] = {
    val staged = Parallel.map(tables) { case (df, path) => overwriteStaged(df, path) }
    beforePromote
    staged.foreach(_.promote())
    staged.map(_.rows)
  }

  /** S10/J6 upsert: incoming rows win on key collision; returns the merged
    * frame plus inserted/updated accounting. The merge is one left-anti
    * join (existing rows not replaced) plus a union — both sides shuffle on
    * the key once; incoming is usually the small side and broadcastable.
    *
    * The incoming batch must be KEY-UNIQUE: the reference's row-sequential
    * `ON CONFLICT DO UPDATE` loop resolves intra-batch duplicates by input
    * order, but a set-oriented merge has no row order, so duplicates are
    * rejected loudly (same rule as ANSI MERGE / [[MergeInto.applyCdc]])
    * instead of silently persisting a dup-key table.
    *
    * Accounting is a SINGLE job: one outer join of the incoming key rows
    * against the existing key set aggregated into (inserted, updated,
    * rows) — not two `count()` actions that would each re-run the full
    * input lineage; the rows-vs-distinct comparison rides the same job.
    */
  def upsertByKey(existing: DataFrame, incoming: DataFrame, key: Seq[String])
      : (DataFrame, UpsertStats) = {
    val keyCols = key.map(col)
    val keyStruct = struct(keyCols: _*)
    val existingKeys = existing.select(keyCols: _*).distinct().withColumn("_ex", lit(1))
    val statsRow = incoming.select(keyCols: _*)
      .join(existingKeys, key, "left_outer")
      .agg(
        countDistinct(when(col("_ex").isNull, keyStruct)).as("inserted"),
        countDistinct(when(col("_ex").isNotNull, keyStruct)).as("updated"),
        count(lit(1)).as("rows"))
      .head()
    val inserted = statsRow.getLong(0)
    val updated = statsRow.getLong(1)
    if (statsRow.getLong(2) != inserted + updated)
      throw new IllegalArgumentException(
        s"upsert batch contains duplicate keys (${statsRow.getLong(2)} rows over " +
          s"${inserted + updated} distinct keys); a set-oriented upsert has no row " +
          "order to break the tie — deduplicate the batch first")
    val survivors = existing.join(incoming.select(keyCols: _*).distinct(), key, "left_anti")
    val merged = survivors.unionByName(incoming)
    (merged, UpsertStats(inserted, updated, inserted + updated))
  }

  /** `path` with the staging and backup siblings every sink swap uses,
    * after [[Swap.restore]] healed any swap a crashed run left — it MUST
    * run before any existence check on `path`, or a crash between the two
    * renames would read as "no dataset" and silently drop every pre-crash
    * row. Stale staging needs no sweep: each write overwrites it.
    */
  private[io] def restoreSwap(spark: SparkSession, path: String)
      : (FileSystem, Path, Path, Path) = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(path + "._graft_bak")
    Swap.restore(fs, live, bak)
    (fs, live, new Path(path + "._graft_staging"), bak)
  }

  /** Two-phase overwrite: materialize `df` to the staging sibling NOW,
    * return its row count and the promote that makes it live LATER. For
    * multi-table writes where derived tables must not become visible
    * unless a primary write commits first (e.g. analytics recomputed over
    * a raw store the upsert is about to replace): stage the derived
    * tables, run the primary write, then promote ([[overwriteAll]] with a
    * `beforePromote`). A crash before the promote leaves the OLD derived
    * tables — consistent with whatever raw state survived — and the next
    * write to the path overwrites the staging debris.
    *
    * The count rides the write as an [[Observation]] (one `count(lit(1))`
    * collected by the write job); on a persisted frame the write reads —
    * and fills — the cache like any other action.
    */
  def overwriteStaged(df: DataFrame, path: String): Staged = {
    val (fs, live, staged, bak) = restoreSwap(df.sparkSession, path)
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    Staged(written.get("rows").asInstanceOf[Long], () => Swap.promote(fs, staged, live, bak))
  }

  /** Upsert into a parquet path (read-merge-swap). For Delta-style storage
    * this becomes MERGE INTO; on plain parquet the merged rows go to the
    * staging sibling and land through [[Swap.promote]].
    *
    * Writing straight over the source path — even behind persist() — is
    * unsafe: any evicted cache block would recompute from the
    * already-deleted input.
    */
  def upsertPath(spark: SparkSession, incoming: DataFrame, path: String,
      key: Seq[String]): UpsertStats = {
    val (fs, live, staged, bak) = restoreSwap(spark, path)
    val stats =
      if (!fs.exists(live)) {
        // the first batch obeys the same key-unique contract as every
        // later one: stage it, check rows-vs-distinct from the WRITTEN
        // files (not a second pass over the incoming lineage, which could
        // be expensive or non-deterministic), and only then promote — a
        // duplicate-key batch never becomes the live table
        incoming.write.mode(SaveMode.Overwrite).parquet(staged.toString)
        val st = spark.read.parquet(staged.toString)
          .agg(count(lit(1)), countDistinct(struct(key.map(col): _*))).head()
        if (st.getLong(0) != st.getLong(1)) {
          fs.delete(staged, true)
          throw new IllegalArgumentException(
            s"upsert batch contains duplicate keys (${st.getLong(0)} rows over " +
              s"${st.getLong(1)} distinct keys); a set-oriented upsert has no row " +
              "order to break the tie — deduplicate the batch first")
        }
        UpsertStats(st.getLong(0), 0L, st.getLong(0))
      } else {
        val (merged, stats) = upsertByKey(spark.read.parquet(path), incoming, key)
        merged.write.mode(SaveMode.Overwrite).parquet(staged.toString)
        stats
      }
    Swap.promote(fs, staged, live, bak)
    stats
  }

  /** SCD2 upsert: keep full history with validity ranges instead of
    * overwriting. Incoming rows close the current version of a changed key
    * (`valid_to` set, `is_current` false) and append a new current
    * version; unchanged keys are left alone (no-op change detection on the
    * tracked columns). `batchId` stamps the version boundary — callers
    * supply a monotonically increasing value (ingest time, batch number)
    * so runs are reproducible.
    */
  def scd2Apply(existing: DataFrame, incoming: DataFrame, key: Seq[String],
      tracked: Seq[String], batchId: Long): DataFrame = {
    val keyCols = key.map(col)
    // key-unique batch or nothing: two incoming versions of one key would
    // both be stamped is_current=true, silently breaking the
    // at-most-one-current invariant and compounding on the next apply
    val kr = incoming.select(keyCols: _*)
      .agg(count(lit(1)), countDistinct(struct(keyCols: _*))).head()
    if (kr.getLong(0) != kr.getLong(1))
      throw new IllegalArgumentException(
        s"SCD2 batch contains duplicate keys (${kr.getLong(0)} rows over " +
          s"${kr.getLong(1)} distinct keys); one version per key per batch")
    val curr = existing.filter(col("is_current"))
    val hist = existing.filter(!col("is_current"))
    // null-SAFE change detection: a tracked column moving null->value or
    // value->null IS a change (plain =!= would yield null and drop it)
    val changed = curr.alias("c").join(incoming.alias("i"), key)
      .filter(tracked.map(t => !(col(s"c.$t") <=> col(s"i.$t"))).reduce(_ || _))
      .select(keyCols.map(k => col(s"c.${k.toString}")): _*)
      .select(key.map(col): _*)
    val newKeys = incoming.join(curr, key, "left_anti").select(keyCols: _*)
    val toClose = curr.join(changed, key, "left_semi")
      .withColumn("valid_to", lit(batchId))
      .withColumn("is_current", lit(false))
    val untouched = curr.join(changed, key, "left_anti")
    val toInsert = incoming
      .join(changed.unionByName(newKeys).distinct(), key, "left_semi")
      .withColumn("valid_from", lit(batchId))
      .withColumn("valid_to", lit(Long.MaxValue))
      .withColumn("is_current", lit(true))
    hist.unionByName(toClose).unionByName(untouched).unionByName(toInsert)
  }

  /** Bootstrap an SCD2 table from a first batch. */
  def scd2Init(first: DataFrame, batchId: Long): DataFrame =
    first.withColumn("valid_from", lit(batchId))
      .withColumn("valid_to", lit(Long.MaxValue))
      .withColumn("is_current", lit(true))

  /** Bucketed managed table: pre-shuffles data into `buckets` files by
    * `key` at write time so later equi-joins/aggregations on that key run
    * WITHOUT an exchange (the 100-TB co-location strategy: pay the shuffle
    * once at ingest, never per query). Requires saveAsTable (bucketing
    * metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: Seq[String],
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key.head, key.tail: _*)
      .sortBy(key.head, key.tail: _*)
      .saveAsTable(table)

  /** Append to an existing bucketed table with the SAME bucket spec —
    * the incremental-ingest companion of [[writeBucketed]] (a mismatched
    * spec would silently break the no-shuffle join guarantee; Spark
    * validates it against the catalog on append).
    */
  def appendBucketed(df: DataFrame, table: String, key: Seq[String],
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Append)
      .bucketBy(buckets, key.head, key.tail: _*)
      .sortBy(key.head, key.tail: _*)
      .saveAsTable(table)

  /** S11 at the FORMAT level: the Elasticsearch bulk-API line protocol —
    * an action line (`{"index":{"_index":…,"_id":…}}`) followed by the
    * source document line, per row (the reference's `helpers.bulk` payload,
    * geoJson_slope_etl_view.py:81-113). Emitting the wire format keeps the
    * transport (HTTP client, retries, cluster) out of the engine — write
    * the frame as text and any bulk ingester ships it. `docJson` should be
    * canonical JSON (see q79/q93 for the hash-stable construction).
    */
  def esBulkLines(df: DataFrame, index: String, idCol: String,
      docJson: org.apache.spark.sql.Column): DataFrame = {
    // the action line is built with to_json, which applies FULL JSON
    // string escaping (quotes, backslashes, AND control characters — a
    // newline in an id hand-escaped for quotes alone would split the
    // NDJSON action line and poison the whole _bulk batch).
    // A null id is rejected at row level: to_json would silently OMIT the
    // _id field, making Elasticsearch auto-generate ids — duplicate docs
    // on every re-run instead of idempotent upserts.
    val idStr = coalesce(col(idCol).cast("string"),
      raise_error(lit(s"esBulkLines: null value in id column '$idCol' — " +
        "a missing _id makes Elasticsearch auto-generate one, so re-runs " +
        "would duplicate the document; supply a non-null id")))
    val action = concat(lit("{\"index\":"),
      to_json(struct(lit(index).as("_index"), idStr.as("_id"))),
      lit("}"))
    df.select(col(idCol), posexplode(array(action, docJson)).as(Seq("seq", "line")))
  }

  /** J7 dataset-level replace: overwrite only the partitions present in
    * `df` (the reference's delete_many({country,type,year}) + insert).
    * Requires spark.sql.sources.partitionOverwriteMode=dynamic, set here
    * per-write.
    */
  def partitionReplace(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
