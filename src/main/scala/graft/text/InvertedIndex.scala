package graft.text

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED inverted text index — the [[graft.ml.AnnIndex]] discipline
  * applied to ranked retrieval: build once, then every query reads ONLY
  * the term buckets it needs. [[graft.curation.Curation.bm25]] recomputes
  * tf/df/stats from the corpus per call (right for one-off analysis); a
  * serving path cannot rescan 100 TB of text per query, so [[build]]
  * materializes the classic IR layout:
  *
  *   - `path/postings/tb=<b>/` — (term, doc_id, dl, tf, df) partitioned
  *     by the term's md5 bucket. df is DENORMALIZED onto each posting
  *     (the index is an immutable snapshot — the Lucene segment model —
  *     so df cannot drift), which keeps the query path join-free.
  *   - `path/stats/` — one (n, avgdl) row.
  *   - `_GRAFT_BUILD_COMPLETE` marker written last (the AnnIndex
  *     discipline: a reader never trusts a partial build).
  *
  * [[query]] prunes partitions to the query terms' buckets (the bucket
  * ids are computed DRIVER-side from the same md5 math — no job), pushes
  * the term equality into the parquet scan, and reruns bm25's exact
  * arithmetic over the posting rows — bit-identical results to the
  * inline form, which is what lets q118's oracle check the round-trip.
  * Per query the work is: one 1-row stats read + a scan of |terms|
  * buckets out of [[Buckets]] — independent of corpus size. Text never
  * appears in the index at all; the biggest column is the term itself.
  */
object InvertedIndex {

  val Buckets = 64
  private val BuildMarker = "_GRAFT_BUILD_COMPLETE"
  private def postingsDir(path: String) = s"$path/postings"
  private def statsDir(path: String) = s"$path/stats"
  private def deletesDir(path: String) = s"$path/deletes"

  /** The term's bucket: top-60-bit md5 prefix mod [[Buckets]] — the
    * repo's content-address discipline, replayed driver-side in
    * [[bucketOf]] for pruning.
    */
  def termBucket(term: Column): Column =
    pmod(TextSketch.md5PrefixLong(term, 15), lit(Buckets.toLong))

  /** Driver-side twin of [[termBucket]] (same md5-prefix math). */
  def bucketOf(term: String): Long = {
    val h = Md5Hash.first15(term)
    ((h % Buckets) + Buckets) % Buckets
  }

  def build(spark: SparkSession, docs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val toks = TextFunctions.tokens(col(textCol))
    // positions are POSITIONAL postings (sorted token offsets per doc)
    // — what phrase search intersects; bm25 prunes the column away at
    // the parquet scan, so ranked queries never pay for it.
    //
    // Per-doc posting lists are computed ROW-LOCALLY ([[graft.text
    // .TermPostings]]): the old posexplode → groupBy(term, doc_id, dl)
    // shuffled every (term, pos) pair just to regroup them by a key set
    // that included the doc id — i.e. a per-document aggregation that
    // never needed an exchange (guide §2.3/§2.4). The doc-grain frame is
    // pinned so the three consumers below (posting rows, df, stats) share
    // ONE tokenize+postings pass instead of re-scanning the corpus each.
    val perDoc = docs
      .select(col(idCol).as("doc_id"), size(toks).as("dl"),
        TextSketch.termPostings(toks).as("po"))
    try {
      // filled first: the broadcast df aggregate and the postings write
      // would otherwise both compute a not-yet-cached partition
      graft.util.Pins.filled(perDoc)
      val tf = perDoc
        .select(col("doc_id"), col("dl"), explode(col("po")).as("p"))
        .select(col("p.term").as("term"), col("doc_id"), col("dl"),
          col("p.tf").as("tf"), col("p.positions").as("positions"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      writeLayout(spark, path,
        joinDf(tf, df),
        perDoc.agg(count(lit(1)).as("n"),
          sum(col("dl")).cast("long").as("total_tokens")))
    } finally { perDoc.unpersist(); () }
  }

  /** Attach the term-grain df frame to posting-grain rows WITHOUT
    * shuffling the postings: df is vocabulary-grain (Heaps-law sublinear
    * in the corpus), so it broadcasts; the posting rows — the side that
    * carries the positional arrays — never cross an exchange (guide §3.1:
    * broadcast the side that fits; §8: move the heavy rows zero times,
    * ship the term-keyed metadata instead). For a corpus whose vocabulary
    * outgrows the broadcast cap, drop the hint and let AQE pick the
    * strategy — results are identical either way.
    */
  private def joinDf(postings: DataFrame, df: DataFrame): DataFrame =
    postings.join(broadcast(df), "term")

  /** Write postings + stats + marker. Stats persist (n, total_tokens)
    * — integer corpus totals, so [[merge]] and [[compact]] can
    * recombine them EXACTLY; avgdl is derived at query time as
    * total_tokens.toDouble / n, the same IEEE division the inline bm25
    * performs.
    */
  private def writeLayout(spark: SparkSession, path: String,
      postings: DataFrame, stats: DataFrame): Unit = {
    postings
      .withColumn("tb", termBucket(col("term")))
      .write.mode(SaveMode.Overwrite).partitionBy("tb")
      .parquet(postingsDir(path))
    stats.coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsDir(path))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root, BuildMarker), true).close()
  }

  /** Lucene-style SEGMENT MERGE — the incremental-ingest answer for an
    * immutable snapshot: index new documents as their own segment (a
    * plain [[build]] over just the new docs), then merge segments into
    * one. Exact by construction for disjoint doc sets: per-term df adds,
    * (n, total_tokens) add as longs, and each posting row's tf/dl are
    * untouched — so `merge(build(a), build(b)) == build(a union b)`
    * BIT-identically (the invariant the spec pins). Cost is one
    * term-keyed join over the two posting sets — segment-sized, never
    * corpus-rescanning.
    */
  def merge(spark: SparkSession, segA: String, segB: String,
      out: String): Unit = {
    Seq(segA, segB).foreach(requireComplete(spark, _))
    val pa = spark.read.parquet(postingsDir(segA))
    val pb = spark.read.parquet(postingsDir(segB))
    // Merged df adds the OTHER segment's per-term df to each posting's
    // own denormalized df (exact for disjoint doc sets: dfA + dfB is the
    // union's count) — each segment's df is already on its rows, so the
    // recount the old formulation ran (groupBy(term) over the union, then
    // a term-keyed join that re-shuffled every posting row INCLUDING the
    // positional arrays) collapses to two vocabulary-grain aggregates
    // broadcast onto unshuffled posting rows (guide §2.4/§8).
    def segDf(p: DataFrame, as: String): DataFrame =
      p.groupBy("term").agg(max("df").as(as))
    def addOther(p: DataFrame, other: DataFrame, as: String): DataFrame =
      p.drop("tb").join(broadcast(other), Seq("term"), "left")
        .withColumn("df", col("df") + coalesce(col(as), lit(0L)))
        .drop(as)
    val merged = addOther(pa, segDf(pb, "_dfb"), "_dfb")
      .unionByName(addOther(pb, segDf(pa, "_dfa"), "_dfa"))
    val sa = spark.read.parquet(statsDir(segA)).head()
    val sb = spark.read.parquet(statsDir(segB)).head()
    import spark.implicits._
    val stats = Seq((sa.getLong(0) + sb.getLong(0),
      sa.getLong(1) + sb.getLong(1))).toDF("n", "total_tokens")
    writeLayout(spark, out, merged, stats)
  }

  /** Tombstone DELETE — the Lucene answer to "an immutable snapshot
    * cannot forget": append the doc ids to a tiny `deletes/` list; the
    * QUERY path anti-joins it (broadcast — tombstones are forget-sized),
    * so deleted docs never appear in results immediately. df and corpus
    * stats stay STALE until [[compact]] — the standard trade (scores of
    * surviving docs shift slightly until compaction, results never
    * contain a deleted doc). Returns the total tombstone count.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "doc_id"): Long = {
    recover(spark, path)
    requireComplete(spark, path)
    ids.select(col(idCol).cast("long").as("doc_id")).distinct()
      .coalesce(1).write.mode(SaveMode.Append).parquet(deletesDir(path))
    spark.read.parquet(deletesDir(path)).distinct().count()
  }

  /** Apply tombstones FOR REAL: drop their postings, recount df exactly
    * over the survivors, subtract the deleted docs' (count, tokens) from
    * the integer stats, clear the tombstone list. Invariant (spec-
    * pinned): `compact(delete(build(docs), ids)) == build(docs minus
    * ids)` bit-identically. The rewrite is postings-sized; the deleted
    * docs' dl is read from their OWN posting rows (max per doc — dl is
    * denormalized per row), so the source corpus is never consulted.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    recover(spark, path)
    requireComplete(spark, path)
    val delPath = new org.apache.hadoop.fs.Path(deletesDir(path))
    val fs = delPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(delPath)) return
    val dels = spark.read.parquet(deletesDir(path)).distinct()
    val p = spark.read.parquet(postingsDir(path))
    val removedDocs = p.groupBy("doc_id").agg(max("dl").as("dl"))
      .join(broadcast(dels), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("rn"), coalesce(sum("dl"), lit(0L)).as("rt"))
      .head()
    val kept = p.join(broadcast(dels), Seq("doc_id"), "left_anti")
      .drop("df", "tb")
    // narrow term-grain recount, broadcast back (joinDf) — the surviving
    // posting rows and their positional arrays never shuffle
    val df = kept.groupBy("term").agg(count(lit(1)).as("df"))
    val st = spark.read.parquet(statsDir(path)).head()
    import spark.implicits._
    val stats = Seq((st.getLong(0) - removedDocs.getLong(0),
      st.getLong(1) - removedDocs.getLong(1))).toDF("n", "total_tokens")
    // rewrite BESIDE the root (a dot-prefixed sibling — staging inside
    // the root would travel with it through the first rename), then
    // [[Swap.promote]]: readers never see a half state, [[recover]] heals
    // the between-renames window. Only compact clears the staging, right
    // before restaging. The new root has no deletes/ directory —
    // compaction clears the tombstones by construction.
    val root = new org.apache.hadoop.fs.Path(path)
    val staged = stagingPath(root)
    fs.delete(staged, true)
    writeLayout(spark, staged.toString, joinDf(kept, df), stats)
    graft.io.Swap.promote(fs, staged, root, bakPath(root))
  }

  private def stagingPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root.getParent, s".${root.getName}.compact_staging")
  private def bakPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root.getParent, s".${root.getName}.compact_bak")

  /** Heal a crashed [[compact]] through [[graft.io.Swap.restore]]: root
    * missing with backup present is the between-renames window — the
    * backup is restored whole; a stale backup is dropped. Run from every
    * entry point (the AnnIndex discipline). Staging is left alone: a
    * query or delete landing between the staged postings and stats jobs
    * of an in-flight [[compact]] must not delete what it wrote.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.Swap.restore(fs, root, bakPath(root))
  }

  /** Exact PHRASE search over the positional postings: a doc matches
    * when the terms occur at consecutive positions. Each phrase slot
    * reads its term's bucket (same pruning as [[query]]); slots join on
    * doc_id — the candidate set after the first join is docs containing
    * ALL terms, tiny relative to the corpus — and the occurrence count
    * is a row-local HOF over the first slot's positions (every p where
    * p+i sits in slot i's positions). Tombstoned docs are hidden the
    * same way as in [[query]]. Returns (doc_id, hits) for hits > 0.
    */
  def phraseQuery(spark: SparkSession, path: String, phrase: Seq[String],
      topK: Int = 20): DataFrame = {
    require(phrase.length >= 2, "a phrase needs at least 2 terms")
    recover(spark, path)
    requireComplete(spark, path)
    val buckets = phrase.map(bucketOf).distinct
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scanned = spark.read.parquet(postingsDir(path))
      .filter(col("tb").isin(buckets: _*) && col("term").isin(phrase.distinct: _*))
    val p =
      if (fs.exists(new org.apache.hadoop.fs.Path(deletesDir(path))))
        scanned.join(
          broadcast(spark.read.parquet(deletesDir(path)).distinct()),
          Seq("doc_id"), "left_anti")
      else scanned
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      p.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"pos$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, "doc_id"))
    val matches = filter(col("pos0"), p0 =>
      (1 until phrase.length)
        .map(i => array_contains(col(s"pos$i"), p0 + i))
        .reduce(_ && _))
    joined.select(col("doc_id"), size(matches).cast("long").as("hits"))
      .filter(col("hits") > 0)
      .orderBy(desc("hits"), col("doc_id"))
      .limit(topK)
  }

  private def requireComplete(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(root, BuildMarker)),
      s"no build marker at $path — refusing to touch a partial index")
  }

  /** BM25 top-k over the persisted postings — [[Curation.bm25]]'s exact
    * arithmetic (log-free idf, decimal-cast contributions so the
    * reduction is order-independent), reading only the query terms'
    * buckets.
    */
  def query(spark: SparkSession, path: String, terms: Seq[String],
      topK: Int = 15, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    recover(spark, path)
    requireComplete(spark, path)
    val st = spark.read.parquet(statsDir(path)).head()
    val n = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / n
    val buckets = terms.map(bucketOf).distinct
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scanned = spark.read.parquet(postingsDir(path))
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
    // tombstoned docs never surface, even before compaction
    val p =
      if (fs.exists(new org.apache.hadoop.fs.Path(deletesDir(path))))
        scanned.join(
          broadcast(spark.read.parquet(deletesDir(path)).distinct()),
          Seq("doc_id"), "left_anti")
      else scanned
    val tfD = col("tf").cast("double")
    val idf = ((lit(n) - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val denom = tfD + lit(k1) *
      (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))
    val contrib = idf * ((tfD * lit(k1 + 1.0)) / denom)
    p.select(col("doc_id"), contrib.cast("decimal(24,10)").as("c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched_terms"),
        sum(col("c")).cast("double").as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(topK)
  }
}
