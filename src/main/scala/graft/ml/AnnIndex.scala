package graft.ml

import graft.io.Swap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF×PQ index layout — the operationalization of the q148
  * composition: q148 (and the oracle that checks it) deliberately times
  * train + encode + query in one plan, but a production deployment builds
  * the index ONCE and amortizes it across every query. This object is
  * that split, with the layout chosen so the FILE SYSTEM enforces the IVF
  * contract:
  *
  *  - [[build]] trains the coarse codebook ([[KMeans.fitCodebook]]) and
  *    the PQ sub-codebooks ([[Pq.fit]]), encodes every vector to
  *    (vec_id, codes, cell), and writes the rows `partitionBy(cell)` —
  *    one directory per inverted list. Codebooks land beside the index
  *    as tiny parquet sidecars.
  *  - [[query]] loads the sidecar codebooks (k×dim — bounded by
  *    construction), ranks the coarse centroids against the query vector
  *    (a pushed-down point lookup of one embeddings row), collects the
  *    `nprobe` probe cells (bounded), and scans ONLY those cells'
  *    directories via partition pruning (`PartitionFilters` on `cell` —
  *    plan-asserted in AnnIndexSpec). The float corpus is never read at
  *    query time; the ADC scan touches nprobe/ncells of the CODE data by
  *    file layout, not by filter luck.
  *
  * Same arithmetic as q148 end to end (training, assignment, encoding,
  * ADC fold), so a built-index query is hash-exact against q148's oracle
  * — q154 proves it.
  */
object AnnIndex {

  final case class Codebooks(
      coarse: Seq[(Long, Seq[Double], Double)],
      pq: Seq[Pq.SubCodebook])

  private def indexDir(path: String) = s"$path/index"
  private def coarseDir(path: String) = s"$path/codebook_coarse"
  private def pqDir(path: String) = s"$path/codebook_pq"
  private val BuildMarker = "_GRAFT_BUILD_COMPLETE"

  /** Train + encode + write the index at `path` (overwrites). The index,
    * coarse and PQ sidecars are three separate write jobs, so the LAST
    * step stamps a [[BuildMarker]] file at the root — the only signal
    * that all three landed. [[rebuildAndSwap]] refuses to promote a
    * staging directory without it, so a partially-written build (crash,
    * or any concurrent interference with the staging path) can never be
    * renamed over a live index.
    */
  def build(spark: SparkSession, vecs: DataFrame, path: String,
      k: Int = 16, iters: Int = 2, m: Int = 4, pqK: Int = 4): Codebooks = {
    import spark.implicits._
    val coarse = KMeans.fitCodebook(spark, vecs, k = k, iters = iters)
    val cbs = Pq.fit(spark, vecs, m = m, k = pqK, iters = iters)
    val clean = vecs.filter(col("embedding").isNotNull)
    Pq.encode(clean, cbs)
      .withColumn("v_nrm", VecOps.norm(col("embedding")))
      .withColumn("cell", VecOps.argmaxCell(col("embedding"), col("v_nrm"), coarse))
      .select(col("vec_id"), col("codes"), col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(indexDir(path))
    coarse.toDF("c_id", "centroid", "c_nrm")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(coarseDir(path))
    cbs.zipWithIndex
      .flatMap { case (cb, mi) => cb.zipWithIndex.map { case (c, ci) => (mi, ci, c) } }
      .toDF("m", "c_id", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(pqDir(path))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root, BuildMarker), true).close()
    Codebooks(coarse, cbs)
  }

  /** Index maintenance: encode NEW vectors under the SAVED codebooks and
    * append them to their cell directories — no retraining, no rewrite of
    * existing lists (dynamic-partition append touches only the arriving
    * cells' directories). This is the ingest-time operation a live corpus
    * needs; retrain + [[build]] periodically when drift accumulates
    * (recall is re-measured by the q149-style check either way).
    */
  def append(spark: SparkSession, vecs: DataFrame, path: String,
      maxFilesPerCell: Int = 0): Unit = {
    // unconditional (cheap no-op without swap debris): a crash inside a
    // previous compaction's rename-rename swap must be healed BEFORE new
    // rows land, regardless of whether THIS caller enables compaction
    recoverCells(spark, path)
    val cb = loadCodebooks(spark, path)
    val clean = vecs.filter(col("embedding").isNotNull)
    Pq.encode(clean, cb.pq)
      .withColumn("v_nrm", VecOps.norm(col("embedding")))
      .withColumn("cell", VecOps.argmaxCell(col("embedding"), col("v_nrm"), cb.coarse))
      .select(col("vec_id"), col("codes"), col("cell"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(indexDir(path))
    if (maxFilesPerCell > 0) { compactCells(spark, path, maxFilesPerCell); () }
  }

  /** Bound per-cell file counts after repeated [[append]]s — every append
    * writes at least one new file into each arriving cell's directory, so
    * a live ingest accretes small files exactly like the streaming
    * signature stores did before their auto-compaction. Same threshold
    * discipline ([[graft.io.Compact]]), applied per inverted list: cells
    * whose file count exceeds `maxFilesPerCell` are rewritten to
    * ~128 MiB-sized files (usually one at test scale). The driver loop is
    * over cell DIRECTORIES — bounded by the codebook size k, never by
    * data — and each rewrite is a distributed read+write of that cell
    * only. Staging and backup live under DOT-prefixed siblings inside the
    * index root, which Spark's file listing ignores, so a concurrent
    * reader never sees a half-compacted cell and partition discovery is
    * never polluted; [[graft.io.Swap.promote]] keeps a full copy of the
    * cell on disk at every instant, with [[recoverCells]] healing any
    * crash window.
    * Returns (cellsCompacted, filesBefore, filesAfter).
    */
  def compactCells(spark: SparkSession, path: String,
      maxFilesPerCell: Int = 4,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int, Int) = {
    import org.apache.hadoop.fs.Path
    val idx = new Path(indexDir(path))
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCells(spark, path)
    val stagingRoot = new Path(idx, StagingDir)
    val bakRoot = new Path(idx, BakDir)
    def parquetCount(p: Path): Int =
      fs.listStatus(p).count(f => f.getPath.getName.endsWith(".parquet"))
    var compacted = 0; var before = 0; var after = 0
    fs.listStatus(idx)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach { st =>
        val files = parquetCount(st.getPath)
        before += files
        if (files > maxFilesPerCell) {
          val name = st.getPath.getName
          val bytes = fs.listStatus(st.getPath)
            .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
          val stg = new Path(stagingRoot, name)
          spark.read.parquet(st.getPath.toString).coalesce(nOut)
            .write.mode(SaveMode.Overwrite).parquet(stg.toString)
          fs.mkdirs(bakRoot)
          Swap.promote(fs, stg, st.getPath, new Path(bakRoot, name))
          compacted += 1
          after += parquetCount(st.getPath)
        } else after += files
      }
    fs.delete(stagingRoot, true)
    if (fs.exists(bakRoot) && fs.listStatus(bakRoot).isEmpty) fs.delete(bakRoot, true)
    (compacted, before, after)
  }

  /** Right-to-be-forgotten propagation into the persisted index — the
    * compliance operation a production vector store cannot skip (a
    * deleted user's embeddings must leave the index, not just the source
    * table). Rewrites ONLY the cells that contain forgotten ids, in a
    * FIXED number of Spark jobs regardless of how many cells are touched
    * (a GDPR-sized forget set lands in arbitrary cells — at a production
    * codebook the per-cell-job shape this replaced was tens of thousands
    * of sequential jobs):
    *
    *  1. ONE aggregate — semi-join the index against the id frame,
    *     count hits per cell (bounded collect: <= k rows). This is both
    *     the affected-cell discovery and the removed-row count.
    *  2. ONE distributed anti-join over just the affected cells (the
    *     `cell` IN (...) filter prunes partitions at the scan), written
    *     with `partitionBy("cell")` into the staging sibling — every
    *     surviving row of every touched cell in a single write job.
    *  3. One RENAME PASS (filesystem RPCs, zero jobs): per affected cell,
    *     [[graft.io.Swap.promote]] of its staging child, so a full copy
    *     of each touched cell exists on disk at every instant and
    *     [[recoverCells]] (run first here, like every maintenance op)
    *     heals any crash window. A cell whose every row is forgotten has
    *     no staging child: it is renamed to its backup and the backup
    *     deleted, so it ends ABSENT — an absent partition reads as
    *     empty everywhere (queries filter on cell values; the next
    *     append recreates the directory on arrival).
    *
    * Cells without forgotten ids are not read or written. Returns the
    * number of rows removed. The id frame stays distributed (Spark/AQE
    * picks the join strategy). Same serialization contract as the other
    * maintenance ops: do not run concurrently with append/compact/rebuild
    * on one path; on a crash, re-run (the staged rewrite is redone).
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id"): Long = {
    import org.apache.hadoop.fs.Path
    recoverCells(spark, path)
    val idx = new Path(indexDir(path))
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idFrame = ids.select(col(idCol).as("vec_id")).distinct()
    val hits = spark.read.parquet(indexDir(path))
      .join(idFrame, Seq("vec_id"), "left_semi")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect()
    if (hits.isEmpty) return 0L
    val affectedVals = hits.map(_.get(0))
    val removed = hits.map(_.getLong(1)).sum
    val stagingRoot = new Path(idx, StagingDir)
    val bakRoot = new Path(idx, BakDir)
    spark.read.parquet(indexDir(path))
      .filter(col("cell").isin(affectedVals.toIndexedSeq: _*))
      .join(idFrame, Seq("vec_id"), "left_anti")
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(stagingRoot.toString)
    affectedVals.map(_.toString).sorted.foreach { c =>
      val name = s"cell=$c"
      val cellPath = new Path(idx, name)
      val stg = new Path(stagingRoot, name)
      fs.mkdirs(bakRoot)
      val bak = new Path(bakRoot, name)
      if (fs.exists(stg)) Swap.promote(fs, stg, cellPath, bak)
      else { // every row of this cell was forgotten — it ends absent
        if (!fs.rename(cellPath, bak))
          throw new java.io.IOException(s"backup rename failed: $cellPath -> $bak")
        fs.delete(bak, true)
      }
    }
    fs.delete(stagingRoot, true)
    if (fs.exists(bakRoot) && fs.listStatus(bakRoot).isEmpty) fs.delete(bakRoot, true)
    removed
  }

  private val StagingDir = ".compact_staging"
  private val BakDir = ".compact_bak"

  // root-swap siblings for [[rebuildAndSwap]]: dot-prefixed paths BESIDE
  // the index root (the root itself is what swaps), invisible to any
  // listing of the root's parent that skips hidden entries
  private def rootStaging(path: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(path)
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.rebuild_staging")
  }
  private def rootBak(path: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(path)
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.rebuild_bak")
  }

  /** The retrain ACTION the q170 drift trigger asks for: retrain
    * codebooks + rebuild the whole index from `vecs` BESIDE the live one,
    * then swap the index ROOT through [[graft.io.Swap.promote]] — live →
    * backup, staging → live, delete backup. The
    * root-level swap is what keeps codebooks and inverted lists
    * CONSISTENT: they move as one directory, so no reader can ever pair
    * new codebooks with old cells (the per-subdir swap a naive rebuild
    * would do has exactly that mixed window). A full copy of the old
    * index exists on disk at every instant; a crash in the between-rename
    * window (live absent, backup intact) is healed by [[recoverCells]],
    * which every index MAINTENANCE operation (append / compactCells /
    * rebuildAndSwap) runs first — the rebuild is simply lost and
    * re-triggered by the next drift check. READ paths stay
    * side-effect-free by design: between a crash and the next
    * maintenance op (or an explicit recoverCells at operator startup —
    * the recommended deployment hook), queries fail FAST with
    * path-not-found rather than serving a mixed state; the same applies
    * to the instant between the two renames of a healthy swap, where a
    * concurrent reader sees a missing root, never a half-built one.
    * `vecs` must not itself read from `path` (the staged build scans it
    * while the live index still serves queries).
    *
    * Concurrency contract: [[append]] / [[compactCells]] may run while a
    * rebuild is staging (they never touch the staging sibling — only
    * rebuildAndSwap sweeps it), but rows they add to the LIVE index after
    * the staged build's scan are not in the new index (re-append them, or
    * quiesce ingest across the swap); two concurrent rebuildAndSwaps on
    * one path are NOT supported (they would share the staging sibling) —
    * serialize rebuilds externally. Before promoting, the swap requires
    * [[build]]'s completion marker in staging: a staging directory
    * missing any of its three write jobs fails loudly here instead of
    * being renamed over the only live copy.
    */
  def rebuildAndSwap(spark: SparkSession, vecs: DataFrame, path: String,
      k: Int = 16, iters: Int = 2, m: Int = 4, pqK: Int = 4): Codebooks = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCells(spark, path)
    val stg = rootStaging(path)
    if (fs.exists(stg)) fs.delete(stg, true)
    val cb = build(spark, vecs, stg.toString, k, iters, m, pqK)
    if (!fs.exists(new Path(stg, BuildMarker)))
      throw new java.io.IOException(
        s"staged rebuild at $stg has no $BuildMarker — incomplete build; " +
          "refusing to swap it over the live index")
    Swap.promote(fs, stg, live, rootBak(path))
    cb
  }

  /** Crash recovery for [[compactCells]] and [[rebuildAndSwap]], through
    * [[graft.io.Swap.restore]]: first heal a root swap (a crash between
    * [[rebuildAndSwap]]'s two renames leaves the index ONLY under the
    * backup sibling — restore it; a crash after the swap leaves a stale
    * backup — delete it), then the per-cell form (a crash between
    * [[compactCells]]'s renames leaves a cell's rows ONLY under
    * `.compact_bak/<cell>` — restore it). Runs at
    * the top of [[compactCells]], [[append]] AND [[rebuildAndSwap]] (a
    * cheap existence probe when no swap debris exists).
    *
    * Deliberately does NOT sweep the root REBUILD staging sibling: append
    * and compactCells run this recovery too, and a live ingest loop's
    * micro-batch append racing an in-flight [[rebuildAndSwap]] would
    * otherwise delete the staging mid-build — the partially re-written
    * staging could then be promoted over the only full copy of the
    * index. Staging is never the only copy of anything (the live root
    * stays intact until the swap's renames), so a crashed rebuild's
    * stale staging is harmless debris; only [[rebuildAndSwap]] itself
    * clears it, immediately before restaging.
    */
  def recoverCells(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.restore(fs, live, rootBak(path))
    val idx = new Path(indexDir(path))
    if (!fs.exists(idx)) return
    // an interrupted SPLIT rolls BACK: while the journal exists, the
    // original cell is intact (live or under backup) and the original
    // sidecar is intact (live or under its backup) by construction —
    // delete whatever child/new-sidecar state went live, restore the
    // originals, drop the journal. A completed split deleted the journal
    // first, so its stale debris (sidecar backup, cell backup) falls
    // through to the journal-absent rules below.
    val journal = new Path(idx, SplitJournal)
    if (fs.exists(journal)) {
      val names = {
        val in = fs.open(journal)
        val buf = new java.io.ByteArrayOutputStream()
        try {
          val b = new Array[Byte](4096)
          var n = in.read(b)
          while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
        } finally in.close()
        new String(buf.toByteArray, "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      }
      val (oldName, newName) = (names(0), names(1))
      val liveNew = new Path(idx, newName)
      if (fs.exists(liveNew)) fs.delete(liveNew, true)
      val bakOld = new Path(new Path(idx, BakDir), oldName)
      if (fs.exists(bakOld)) {
        val liveOld = new Path(idx, oldName)
        if (fs.exists(liveOld)) fs.delete(liveOld, true)
        if (!fs.rename(bakOld, liveOld))
          throw new java.io.IOException(s"split rollback failed: $bakOld -> $liveOld")
      }
      val cBak = coarseBakDir(path)
      if (fs.exists(cBak)) {
        val cLive = new Path(coarseDir(path))
        if (fs.exists(cLive)) fs.delete(cLive, true)
        if (!fs.rename(cBak, cLive))
          throw new java.io.IOException(s"split sidecar rollback failed: $cBak -> $cLive")
      }
      fs.delete(journal, false)
    }
    // journal-absent sidecar debris: a crash after the journal delete but
    // before debris cleanup leaves a stale sidecar backup/staging
    Swap.restore(fs, new Path(coarseDir(path)), coarseBakDir(path))
    if (fs.exists(coarseStagingDir(path))) fs.delete(coarseStagingDir(path), true)
    val stagingRoot = new Path(idx, StagingDir)
    if (fs.exists(stagingRoot)) fs.delete(stagingRoot, true)
    Swap.restoreAll(fs, new Path(idx, BakDir), idx)
  }

  /** The persisted (vec_id, codes, cell) rows — the documented index
    * layout, exposed for read-only health checks (q170's occupancy drift)
    * without callers hardcoding the directory structure.
    */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(indexDir(path))

  /** The most occupied cell (ties: smallest id) — the split candidate the
    * q170 occupancy-drift check points at. One bounded aggregate over the
    * code rows (<= k groups).
    */
  def hottestCell(spark: SparkSession, path: String): Long =
    readIndex(spark, path)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("members"))
      .orderBy(desc("members"), col("cell"))
      .limit(1).collect()(0).getLong(0)

  final case class SplitReport(parentCell: Long, newCell: Long,
      parentMembers: Long, keptMembers: Long, movedMembers: Long)

  private val SplitJournal = ".split_journal"
  private def coarseStagingDir(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/.codebook_coarse.split_staging")
  private def coarseBakDir(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/.codebook_coarse.split_bak")

  /** The INCREMENTAL action for localized occupancy drift — the middle
    * tier between [[append]] (no structural change) and
    * [[rebuildAndSwap]] (full retrain): split ONE hot cell into two.
    * Two sub-centroids are trained over just that cell's residents (a
    * partition-pruned read; [[KMeans.fitCodebook]] with k=2, same exact
    * decimal-mean arithmetic as the full build, init = the two
    * smallest-id residents), each resident is re-assigned to the nearer
    * sub-centroid ([[VecOps.argmaxCell]] — same tie-break as everywhere),
    * and only that cell's directory is rewritten: the child under the
    * smaller init id KEEPS the parent's cell id, the other gets
    * max(c_id)+1, so every other inverted list and both PQ sidecars are
    * untouched (codes don't change — ADC distances are identical, which
    * is why a full-probe search after a split returns bit-identical
    * rows).
    *
    * Crash safety extends the cell-swap discipline with a JOURNAL,
    * because a split is the one maintenance op that must move TWO cell
    * directories and the coarse sidecar together: children and the
    * updated sidecar are fully staged first (dot-prefixed, invisible),
    * then `.split_journal` commits the intent, then the renames run
    * (parent -> backup, children -> live, sidecar staged -> live), then
    * the journal is deleted, then debris. [[recoverCells]] rolls an
    * interrupted split BACK whenever the journal exists — the original
    * cell and sidecar are still on disk by construction at every
    * journaled instant — and cleans forward debris when it doesn't; the
    * index is never visible in a mixed state. Like rebuilds, concurrent
    * maintenance ops must be serialized with a split (they share the
    * per-cell staging namespace).
    *
    * 100 TB shape: cost is proportional to ONE cell (read residents,
    * 2-means over them, rewrite one directory), not the corpus — the
    * whole point vs rebuild; the codebook grows by one row.
    */
  def splitCell(spark: SparkSession, vecs: DataFrame, path: String,
      cell: Long, iters: Int = 2): SplitReport = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    recoverCells(spark, path)
    val cb = loadCodebooks(spark, path)
    require(cb.coarse.exists(_._1 == cell),
      s"splitCell: no cell $cell in the coarse codebook at $path")
    val newCellId = cb.coarse.map(_._1).max + 1
    val residents = spark.read.parquet(s"${indexDir(path)}/cell=$cell")
    val residentVecs = vecs
      .filter(col("embedding").isNotNull)
      .join(broadcast(residents.select("vec_id")), Seq("vec_id"), "left_semi")
    val sub = KMeans.fitCodebook(spark, residentVecs, k = 2, iters = iters)
    require(sub.length == 2,
      s"splitCell: cell $cell has fewer than 2 residents — nothing to split")
    // relabel: smaller-init-id child inherits the parent id (so probe
    // order ties keep resolving the same way: parent id < new id)
    val children = Seq((cell, sub(0)._2, sub(0)._3),
      (newCellId, sub(1)._2, sub(1)._3))
    val assigned = residentVecs
      .withColumn("v_nrm", VecOps.norm(col("embedding")))
      .withColumn("new_cell",
        VecOps.argmaxCell(col("embedding"), col("v_nrm"), children))
      .select(col("vec_id"), col("new_cell"))
    // pinned: the four consumers below (one count aggregate + two child
    // writes) each re-ran the resident join AND the k=2 assignment argmax
    // un-materialized — the cell's rows are split-sized, so the pin is
    // cheap and the re-assignments are not (guide §5: cache only what is
    // reused AND expensive to recompute; both hold here)
    val childRows = residents.join(assigned, Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = new Path(indexDir(path))
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingRoot = new Path(idx, StagingDir)
    // one aggregate for both member counts (was two full counts)
    val byChild = childRows.groupBy("new_cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keptN = byChild.getOrElse(cell, 0L)
    val movedN = byChild.getOrElse(newCellId, 0L)
    // stage EVERYTHING before the journal: both children + the sidecar
    childRows.filter(col("new_cell") === cell).select("vec_id", "codes")
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(stagingRoot, s"cell=$cell").toString)
    childRows.filter(col("new_cell") === newCellId).select("vec_id", "codes")
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(stagingRoot, s"cell=$newCellId").toString)
    childRows.unpersist()
    val newCoarse = cb.coarse.filterNot(_._1 == cell) ++ children
    newCoarse.sortBy(_._1).toDF("c_id", "centroid", "c_nrm")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(coarseStagingDir(path).toString)
    // journal commits the intent; from here recovery rolls BACK
    val journal = new Path(idx, SplitJournal)
    val out = fs.create(journal, true)
    out.write(s"cell=$cell\ncell=$newCellId\n".getBytes("UTF-8")); out.close()
    // renames: parent -> backup, children -> live, sidecar swap
    val bakRoot = new Path(idx, BakDir)
    fs.mkdirs(bakRoot)
    val liveOld = new Path(idx, s"cell=$cell")
    if (!fs.rename(liveOld, new Path(bakRoot, s"cell=$cell")))
      throw new java.io.IOException(s"splitCell: backup rename failed for $liveOld")
    if (!fs.rename(new Path(stagingRoot, s"cell=$cell"), liveOld))
      throw new java.io.IOException(s"splitCell: swap failed for $liveOld")
    val liveNew = new Path(idx, s"cell=$newCellId")
    if (!fs.rename(new Path(stagingRoot, s"cell=$newCellId"), liveNew))
      throw new java.io.IOException(s"splitCell: swap failed for $liveNew")
    val coarseLive = new Path(coarseDir(path))
    if (!fs.rename(coarseLive, coarseBakDir(path)))
      throw new java.io.IOException("splitCell: sidecar backup rename failed")
    if (!fs.rename(coarseStagingDir(path), coarseLive))
      throw new java.io.IOException("splitCell: sidecar swap failed")
    // the split is complete — journal off, then debris
    fs.delete(journal, false)
    fs.delete(coarseBakDir(path), true)
    fs.delete(new Path(bakRoot, s"cell=$cell"), true)
    if (fs.exists(bakRoot) && fs.listStatus(bakRoot).isEmpty) fs.delete(bakRoot, true)
    fs.delete(stagingRoot, true)
    SplitReport(cell, newCellId, keptN + movedN, keptN, movedN)
  }

  /** Materialize the index rows as a cell-BUCKETED managed table — the
    * co-location layout for extreme-query-count [[batchQuery]]. The
    * partitioned-parquet layout serves partition PRUNING (query-time cell
    * filters) but gives the co-partitioned search no distribution
    * guarantee, so `broadcastProbes = false` re-shuffled the index side
    * on every query batch; bucketing by cell pays that exchange ONCE at
    * write (the [[graft.curation.Curation.writeBandedSignatureStore]]
    * discipline applied to the index), after which every search joins it
    * with ZERO index-side exchange — only the narrow probe rows move.
    * `cell` is cast long at write so the join key matches the codebook's
    * c_id type with no runtime cast in the bucket-pruned path.
    */
  def writeBucketedIndex(spark: SparkSession, path: String, table: String,
      buckets: Int = 32): Unit =
    graft.io.Writers.writeBucketed(
      readIndex(spark, path)
        .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell")),
      table, Seq("cell"), buckets)

  /** Load the sidecar codebooks (bounded: k coarse rows + m×pqK PQ rows). */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val coarse = spark.read.parquet(coarseDir(path))
      .select("c_id", "centroid", "c_nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val pqRows = spark.read.parquet(pqDir(path))
      .select("m", "c_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val pq = pqRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    Codebooks(coarse, pq)
  }

  /** ADC top-k against the built index for query vector `qid` of `vecs`
    * (read through two pushed-down point lookups — the corpus itself is
    * never scanned). Output matches q148: (vec_id, cell, codes, adc_dist).
    */
  def query(spark: SparkSession, vecs: DataFrame, path: String,
      qid: Long, nprobe: Int, topK: Int): DataFrame = {
    val cb = loadCodebooks(spark, path)
    import spark.implicits._
    // rank the coarse centroids against the query vector; keep nprobe
    // cells — a driver-side bounded collect (nprobe rows)
    val cbDf = cb.coarse.toDF("c_id", "c_emb", "c_nrm")
    val probeCells = vecs.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_emb"),
        VecOps.norm(col("embedding")).as("q_nrm"))
      .crossJoin(broadcast(cbDf))
      .withColumn("c_sim",
        VecOps.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .orderBy(desc("c_sim"), col("c_id"))
      .limit(nprobe)
      .select(col("c_id")).collect().map(_.getLong(0)).toSeq
    val q = vecs.filter(col("vec_id") === qid && col("embedding").isNotNull)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // the probed cells become PARTITION filters: only their directories
    // are listed and read
    spark.read.parquet(indexDir(path))
      .filter(col("cell").isInCollection(probeCells) && col("vec_id") =!= qid)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        concat_ws("|", col("codes")).as("codes"),
        Pq.adcDist(Pq.adcTable(q, cb.pq)).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** DISTRIBUTED batch ANN over the built index: one plan serves EVERY
    * query vector — the shape a training-data pipeline needs (dedup
    * against an index, retrieval mixing: millions of query vectors), where
    * [[query]]'s per-call driver collects cannot scale. Identical
    * arithmetic to [[query]] per query id, composed from existing pieces:
    *
    *  - probe selection is ROW-LOCAL: the k literal-centroid cosines land
    *    in an array of (negated sim, c_id) structs, and `array_sort`'s
    *    lexicographic ascending order IS the (sim DESC, c_id ASC) probe
    *    ranking — no crossJoin, no window, no shuffle (the q112 argmax
    *    shape generalized to top-nprobe);
    *  - the ADC table rides ON the query row ([[Pq.adcTableCol]] — M×K
    *    doubles each), so scoring needs no driver round-trip;
    *  - ONE equi-join on `cell` matches queries to their probed inverted
    *    lists (probe side broadcast: nprobe rows per query, narrow; at
    *    extreme query counts drop the broadcast hint and let the shuffle
    *    co-partition both sides on cell);
    *  - per-query top-k via [[graft.ops.TopKPerGroup]]: a bounded
    *    k-element buffer combining map-side, so the final shuffle carries
    *    at most topK rows per query per partition — never a full sort.
    *
    * Output: (q_id, vec_id, adc_dist), unordered (callers sort). For any
    * single q_id the rows are bit-identical to [[query]]'s — the score
    * negation round-trips exactly (0.0 − (0.0 − d) = d for d ≥ 0) and the
    * aggregator's (score DESC, id ASC) ordering is (adc_dist ASC, vec_id
    * ASC).
    *
    * `broadcastProbes = false` drops the broadcast hint on the probe side
    * — for query batches too large to ship to every executor, Catalyst
    * then co-partitions both sides on `cell` (a shuffle of narrow probe
    * rows and the coded index; at that scale the index side should be
    * bucketed on cell to pay its exchange once). Results are identical
    * either way (spec-asserted).
    *
    * `restrict` PRE-filters the searched side to the given (vec_id) set —
    * filtered ANN: the top-k is computed WITHIN the restriction (every
    * query gets up to k allowed results), where post-filtering a
    * full-corpus top-k can come back short whenever the unrestricted
    * neighborhood is dominated by excluded vectors. The semi-join runs
    * before ADC scoring, so excluded rows never pay a distance.
    *
    * `bucketedTable` routes the search through a [[writeBucketedIndex]]
    * layout instead of the partitioned parquet: with
    * `broadcastProbes = false` the cell equi-join then consumes the
    * table's bucketing directly — zero index-side exchange, only probe
    * rows shuffle (plan-asserted in AnnIndexSpec; results bit-equal to
    * the parquet path). A `restrict` semi-join would re-shuffle the
    * index side on vec_id and forfeit the guarantee — use the parquet
    * layout for restricted searches.
    */
  def batchQuery(spark: SparkSession, queries: DataFrame, path: String,
      nprobe: Int, topK: Int, exclude: Option[DataFrame] = None,
      broadcastProbes: Boolean = true,
      restrict: Option[DataFrame] = None,
      bucketedTable: Option[String] = None): DataFrame = {
    // documented-unsupported combination fails loudly: a restrict
    // semi-join re-shuffles the index side on vec_id, silently forfeiting
    // the zero-exchange guarantee the bucketed layout exists for
    require(restrict.isEmpty || bucketedTable.isEmpty,
      "batchQuery: restrict with bucketedTable would re-shuffle the " +
        "bucketed index side and forfeit its zero-exchange guarantee — " +
        "use the partitioned-parquet layout for restricted searches")
    val cb = loadCodebooks(spark, path)
    val indexRows = bucketedTable.map(spark.table)
      .getOrElse(spark.read.parquet(indexDir(path)))
    searchRows(spark, queries, indexRows,
      cb, nprobe, topK, exclude, broadcastProbes, restrict)
  }

  /** The distributed search core of [[batchQuery]], over ANY
    * (vec_id, codes, cell) frame — so an ingest loop can also search a
    * micro-batch's own freshly-encoded rows (in-batch dedup) without a
    * persisted layout. `exclude` anti-joins ids out of the searched side
    * (broadcast — a bounded batch-id frame), which retry-safe ingest
    * needs: a crashed attempt's already-appended rows must not match
    * their own re-arrival.
    */
  private[graft] def searchRows(spark: SparkSession, queries: DataFrame,
      indexRows: DataFrame, cb: Codebooks, nprobe: Int, topK: Int,
      exclude: Option[DataFrame] = None,
      broadcastProbes: Boolean = true,
      restrict: Option[DataFrame] = None): DataFrame = {
    val m = cb.pq.length
    import spark.implicits._
    val negSims = array(cb.coarse.map { case (cid, cvec, cnrm) =>
      struct(
        (lit(0.0) - VecOps.dot(col("q_emb"), lit(cvec.toArray))
          / (col("q_nrm") * lit(cnrm))).as("neg"),
        lit(cid).as("c_id"))
    }: _*)
    val probes = queries
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        VecOps.norm(col("embedding")).as("q_nrm"))
      .withColumn("adc_tab", Pq.adcTableCol(col("q_emb"), cb.pq))
      .withColumn("q_cell",
        explode(transform(slice(array_sort(negSims), 1, nprobe),
          s => s.getField("c_id"))))
      .select(col("q_id"), col("q_cell"), col("adc_tab"))
    val searched0 = exclude.fold(indexRows)(ex =>
      indexRows.join(broadcast(ex.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
    // no broadcast hint on restrict: unlike `exclude` (a bounded batch-id
    // frame), the allowed set can be corpus-sized — ids-only, so a shuffle
    // semi-join is the safe default and AQE may still broadcast small ones
    val searched = restrict.fold(searched0)(r =>
      searched0.join(r.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    val scored = searched
      .join(probeSide, col("cell") === col("q_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        (lit(0.0) - Pq.adcDistFromTable(col("adc_tab"), m)).as("score"),
        col("vec_id"))
    val topk = new graft.ops.TopKPerGroup(topK).toColumn
    scored.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(x => (x._2, x._3))
      .agg(topk.name("top"))
      .flatMap { case (qId, top) => top.map(x => (qId, x._2, 0.0 - x._1)) }
      .toDF("q_id", "vec_id", "adc_dist")
  }
}
