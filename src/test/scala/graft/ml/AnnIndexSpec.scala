package graft.ml

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** The persisted-index contract: a built index round-trips q148's exact
  * results, the QUERY path touches (a) the index with partition pruning
  * on the probed cells and (b) the embeddings table only through
  * pushed-down point lookups — never a full float-corpus scan — and the
  * BATCH query path serves every query vector in ONE distributed plan
  * whose per-query rows are bit-identical to the single-query path.
  */
class AnnIndexSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"
  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("ann_index_spec").toString
    AnnIndex.build(spark, spark.read.parquet(s"$dir/embeddings.parquet"), p)
    p
  }

  test("built-index query equals the train-inline composition (q148)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val fromIndex = AnnIndex.query(spark, e, path, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    val inline = SparkEntry.queries("q148_ivf_pq_trained")(spark, dir)
      .collect().map(_.toString).toSeq
    assert(fromIndex == inline)
  }

  test("query path prunes index partitions by cell and never scans the float corpus") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = AnnIndex.query(spark, e, path, qid = 42, nprobe = 2, topK = 10)
      .queryExecution.executedPlan
    val fileScans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // exactly one scan: the index, with the probed cells as PARTITION
    // filters (the embeddings point lookups were collected at plan-build
    // time, not joined into this plan)
    assert(fileScans.size == 1, s"expected one index scan, got ${fileScans.size}")
    val idx = fileScans.head
    assert(idx.metadata.get("PartitionFilters").exists(_.contains("cell")),
      s"probe cells must prune partitions; metadata: ${idx.metadata.get("PartitionFilters")}")
    assert(!idx.schema.fieldNames.contains("embedding"),
      "the index scan must read codes, never float vectors")
  }

  test("append encodes under the SAVED codebooks: kept half + append == full build") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val b = AnnIndex.query(spark, e, path, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    // drop half the full index's rows, append the dropped vectors back
    // under the SAVED codebooks: layout and query must be reproduced
    // exactly (append never retrains, so assignment/codes must match)
    val idx = s"$path/index"
    val kept = spark.read.parquet(idx).filter(col("vec_id") < 250)
      .select("vec_id", "codes", "cell")
    val rebuiltPath = java.nio.file.Files.createTempDirectory("ann_rebuilt").toString
    kept.write.mode("overwrite").partitionBy("cell").parquet(s"$rebuiltPath/index")
    spark.read.parquet(s"$path/codebook_coarse").write
      .mode("overwrite").parquet(s"$rebuiltPath/codebook_coarse")
    spark.read.parquet(s"$path/codebook_pq").write
      .mode("overwrite").parquet(s"$rebuiltPath/codebook_pq")
    AnnIndex.append(spark, e.filter(col("vec_id") >= 250), rebuiltPath)
    val c = AnnIndex.query(spark, e, rebuiltPath, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    assert(c == b, "append under saved codebooks must reproduce the full index")
    assert(spark.read.parquet(s"$rebuiltPath/index").count() ==
      spark.read.parquet(idx).count())
  }

  test("codebook sidecars round-trip bit-exactly") {
    val built = AnnIndex.build(spark,
      spark.read.parquet(s"$dir/embeddings.parquet"), path)
    val loaded = AnnIndex.loadCodebooks(spark, path)
    assert(loaded.coarse == built.coarse)
    assert(loaded.pq == built.pq)
  }

  test("batchQuery is bit-identical to per-query query() for every query id") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val batch = AnnIndex
      .batchQuery(spark, e.filter(col("vec_id") % 100 === 42), path, nprobe = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (q, rows) =>
        q -> rows.map(x => (x._2, x._3)).sortBy(x => (x._2, x._1)).toSeq
      }
    assert(batch.nonEmpty)
    batch.foreach { case (qid, rows) =>
      val single = AnnIndex
        .query(spark, e, path, qid = qid, nprobe = 2, topK = 10)
        .select("vec_id", "adc_dist")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == single,
        s"batchQuery rows for q_id=$qid must bit-match query()")
    }
  }

  test("batchQuery runs ONE distributed plan: no per-query jobs, one index join") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // 50 query vectors — a per-query loop would launch O(50) jobs (the
    // single-query path runs 2+ per call); the batch plan must stay O(1)
    val queries = e.filter(col("vec_id") % 10 === 2)
    val df = AnnIndex.batchQuery(spark, queries, path, nprobe = 2, topK = 5)
    val plan = df.queryExecution.executedPlan
    val joins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1, s"expected exactly one join (index × probes), got ${joins.size}")
    val idxScans = collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.schema.fieldNames.contains("codes") => s
    }
    assert(idxScans.size == 1, "exactly one scan of the coded index")
    assert(idxScans.forall(!_.schema.fieldNames.contains("embedding")),
      "the index side must never read float vectors")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = df.collect().length
      assert(n > 0)
    } finally {
      org.apache.spark.graft.SparkStatus.drain(spark.sparkContext, 10000L)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs <= 10, s"batch search over 50 queries must not launch per-query jobs (saw $jobs)")
  }

  test("batchQuery shuffle path (no probe broadcast) is row-identical") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = e.filter(col("vec_id") % 10 === 2)
    def rows(bcast: Boolean) = AnnIndex
      .batchQuery(spark, queries, path, nprobe = 2, topK = 5, broadcastProbes = bcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._3, x._2)).toSeq
    assert(rows(bcast = false) == rows(bcast = true),
      "the co-partitioned shuffle path must match the broadcast path exactly")
  }

  test("bucketed index: co-partitioned batchQuery has ZERO index-side exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val table = freshTable("ann_bucketed_test")
    AnnIndex.writeBucketedIndex(spark, path, table, buckets = 4)
    val queries = e.filter(col("vec_id") % 10 === 2)
    // force the shuffle join: a broadcast would also skip the index-side
    // exchange, but only because this fixture is tiny — the claim under
    // test is the bucketed co-location that holds at extreme query counts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val res = AnnIndex.batchQuery(spark, queries, path, nprobe = 2, topK = 5,
        broadcastProbes = false, bucketedTable = Some(table))
      val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._3, x._2)).toSeq
      val plan = res.queryExecution.executedPlan
      val scans = collect(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains(table) => s
      }
      assert(scans.nonEmpty && scans.forall(_.toString.contains("Bucketed: true")),
        s"index scan not bucketed:\n$plan")
      // no exchange may sit between the index scan and its cell join;
      // shuffles above the join (the bounded top-k aggregation) are the
      // probe-sized ones and are fine
      def reachesScanPreJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        collect(p) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.toString.contains(table) => s
        }.nonEmpty && collect(p) {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.isEmpty
      val indexSideShuffles = collect(plan) {
        case ex: ShuffleExchangeExec if reachesScanPreJoin(ex.child) => ex
      }
      assert(indexSideShuffles.isEmpty,
        s"index side shuffled despite bucketing:\n$plan")
      // bit-equal to the broadcast path over the partitioned parquet
      val want = AnnIndex.batchQuery(spark, queries, path, nprobe = 2, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._3, x._2)).toSeq
      assert(got == want,
        "bucketed-path results must match the parquet broadcast path exactly")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("restrict pre-filters the searched side: identity on all ids, subset otherwise") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = e.filter(col("vec_id") % 20 === 2)
    val plain = AnnIndex.batchQuery(spark, queries, path, nprobe = 2, topK = 5)
      .collect().map(_.toString).toSet
    // restricting to the full id set must change nothing
    val all = AnnIndex.batchQuery(spark, queries, path, nprobe = 2, topK = 5,
      restrict = Some(e.select(col("vec_id")))).collect().map(_.toString).toSet
    assert(all === plain)
    // restricting to even ids must return only even ids — and the top-k is
    // WITHIN the restriction (counts can exceed a post-filter of `plain`)
    val evens = AnnIndex.batchQuery(spark, queries, path, nprobe = 2, topK = 5,
      restrict = Some(e.filter(col("vec_id") % 2 === 0).select(col("vec_id"))))
      .collect()
    assert(evens.nonEmpty)
    assert(evens.forall(_.getLong(1) % 2 == 0), "excluded ids leaked through")
  }

  test("append compaction bounds per-cell files; results unchanged") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def buildAndAppend(threshold: Int): String = {
      val p = java.nio.file.Files.createTempDirectory(s"ann_compact_$threshold").toString
      AnnIndex.build(spark, e.filter(col("vec_id") < 250), p)
      for (i <- 0 until 5)
        AnnIndex.append(spark,
          e.filter(col("vec_id") >= 250 + i * 50 && col("vec_id") < 300 + i * 50),
          p, maxFilesPerCell = threshold)
      p
    }
    val compacted = buildAndAppend(threshold = 2)
    val control = buildAndAppend(threshold = 0)
    def cellFiles(p: String): Map[String, Int] = {
      val idx = new java.io.File(s"$p/index")
      idx.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    }
    val after = cellFiles(compacted)
    assert(after.values.forall(_ <= 2),
      s"every cell must stay within the file threshold after append: $after")
    assert(cellFiles(control).values.sum > after.values.sum,
      "the uncompacted control must carry more files than the compacted index")
    val a = AnnIndex.query(spark, e, compacted, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    val b = AnnIndex.query(spark, e, control, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    assert(a == b, "compaction must never change query results")
  }

  test("rebuildAndSwap retrains atomically; crash windows heal whole") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = java.nio.file.Files.createTempDirectory("ann_rebuild").toString + "/idx"
    AnnIndex.build(spark, e.filter(col("vec_id") < 250), p)
    val beforeRows = spark.read.parquet(s"$p/index").count()
    // the q170 trigger fired -> retrain on the full corpus and swap
    AnnIndex.rebuildAndSwap(spark, e, p)
    // post-swap the index must be EXACTLY a fresh full build (build is
    // bit-reproducible, so query equality proves codebooks and cells
    // swapped TOGETHER — a mixed state would score different distances)
    val control = java.nio.file.Files.createTempDirectory("ann_rebuild_ctl").toString
    AnnIndex.build(spark, e, control)
    val got = AnnIndex.query(spark, e, p, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    val want = AnnIndex.query(spark, e, control, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    assert(got == want)
    assert(spark.read.parquet(s"$p/index").count() > beforeRows)
    // recall re-measured on the rebuilt index (the q149-style check):
    // ANN top-10 against brute-force exact cosine top-10
    def recall10(idxPath: String): Int = {
      val ann = AnnIndex.query(spark, e, idxPath, qid = 42, nprobe = 2, topK = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val q = e.filter(col("vec_id") === 42)
        .select(col("embedding").as("q_emb"),
          VecOps.norm(col("embedding")).as("q_nrm"))
      val exact = e.filter(col("embedding").isNotNull && col("vec_id") =!= 42)
        .crossJoin(q)
        .withColumn("sim", VecOps.dot(col("embedding"), col("q_emb"))
          / (VecOps.norm(col("embedding")) * col("q_nrm")))
        .orderBy(desc("sim"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (ann intersect exact).size
    }
    assert(recall10(p) == recall10(control))
    // crash between the two renames: the live root is ABSENT and the
    // backup sibling holds the whole old index — recovery restores it
    val root = new java.io.File(p)
    val bak = new java.io.File(root.getParentFile, s".${root.getName}.rebuild_bak")
    assert(root.renameTo(bak))
    AnnIndex.recoverCells(spark, p)
    val healed = AnnIndex.query(spark, e, p, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    assert(healed == got, "healed index must be the pre-crash whole index")
    assert(!bak.exists(), "backup sibling must be cleaned up")
    // stale staging from an aborted rebuild is harmless debris that
    // recoverCells must NOT touch: append/compactCells run recovery too,
    // and sweeping staging there would let a micro-batch append racing an
    // in-flight rebuild delete the build mid-write (the lost-index race)
    val stg = new java.io.File(root.getParentFile, s".${root.getName}.rebuild_staging")
    assert(stg.mkdirs())
    AnnIndex.recoverCells(spark, p)
    assert(stg.exists(), "recovery from append/compact must leave rebuild staging alone")
    AnnIndex.append(spark, e.filter(col("vec_id") === 42), p)
    assert(stg.exists(), "append must never delete an (apparently in-flight) rebuild staging")
    // only rebuildAndSwap itself clears the stale sibling, right before
    // restaging — and a completed build stamps the completion marker the
    // swap requires before promoting staging over the live root
    AnnIndex.rebuildAndSwap(spark, e, p)
    assert(!stg.exists(), "rebuildAndSwap must consume/clear the staging sibling")
    assert(new java.io.File(root, "_GRAFT_BUILD_COMPLETE").isFile,
      "a swapped-in index carries build's completion marker")
  }

  test("splitCell: exact at full probe, recall holds, crashes roll back") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = java.nio.file.Files.createTempDirectory("ann_split").toString + "/idx"
    AnnIndex.build(spark, e, p)
    val pre = AnnIndex.query(spark, e, p, qid = 42, nprobe = 16, topK = 10)
      .collect().map(_.toString).toSeq
    val preRows = spark.read.parquet(s"$p/index")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    def recall10(idxPath: String, nprobe: Int): Int = {
      val ann = AnnIndex.query(spark, e, idxPath, qid = 42, nprobe = nprobe, topK = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val q = e.filter(col("vec_id") === 42)
        .select(col("embedding").as("q_emb"), VecOps.norm(col("embedding")).as("q_nrm"))
      val exact = e.filter(col("embedding").isNotNull && col("vec_id") =!= 42)
        .crossJoin(q)
        .withColumn("sim", VecOps.dot(col("embedding"), col("q_emb"))
          / (VecOps.norm(col("embedding")) * col("q_nrm")))
        .orderBy(desc("sim"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (ann intersect exact).size
    }
    val preRecall = recall10(p, nprobe = 2)
    val hot = AnnIndex.hottestCell(spark, p)
    val r = AnnIndex.splitCell(spark, e, p, hot)
    assert(r.parentCell === hot)
    assert(r.keptMembers > 0 && r.movedMembers > 0,
      s"a real split must populate both children: $r")
    assert(r.parentMembers === r.keptMembers + r.movedMembers)
    // codebook grew by exactly one cell; children partition the parent
    assert(AnnIndex.loadCodebooks(spark, p).coarse.length === 17)
    val postRows = spark.read.parquet(s"$p/index")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(postRows === preRows, "a split must move rows, never lose or duplicate them")
    // PQ codes are untouched, so the FULL-probe search is bit-identical:
    // probing all 17 cells scans exactly the rows probing all 16 did,
    // with identical ADC distances
    val post = AnnIndex.query(spark, e, p, qid = 42, nprobe = 17, topK = 10)
      .collect().map(_.toString).toSeq
    assert(post === pre)
    // the q149-style check re-measured on the split index: the finer
    // partition must not LOSE recall at the same probe budget
    assert(recall10(p, nprobe = 2) >= preRecall)

    // crash window 1: staged + journaled, no renames yet -> rollback
    val p2 = java.nio.file.Files.createTempDirectory("ann_split_crash").toString + "/idx"
    AnnIndex.build(spark, e.filter(col("vec_id") < 200), p2)
    val before = AnnIndex.query(spark, e, p2, qid = 42, nprobe = 16, topK = 10)
      .collect().map(_.toString).toSeq
    val idx2 = new java.io.File(s"$p2/index")
    val hot2 = AnnIndex.hottestCell(spark, p2)
    val stg = new java.io.File(idx2, ".compact_staging/cell=999")
    assert(stg.mkdirs())
    val jf = new java.io.File(idx2, ".split_journal")
    java.nio.file.Files.write(jf.toPath,
      s"cell=$hot2\ncell=999\n".getBytes("UTF-8"))
    AnnIndex.recoverCells(spark, p2)
    assert(!jf.exists() && !stg.exists())
    assert(AnnIndex.query(spark, e, p2, qid = 42, nprobe = 16, topK = 10)
      .collect().map(_.toString).toSeq === before)
    // crash window 2: parent moved to backup, fake child live, sidecar
    // swapped out — rollback restores cell AND sidecar together
    val hotDir = new java.io.File(idx2, s"cell=$hot2")
    val bakRoot = new java.io.File(idx2, ".compact_bak")
    assert(bakRoot.mkdirs())
    assert(hotDir.renameTo(new java.io.File(bakRoot, s"cell=$hot2")))
    val fakeChild = new java.io.File(idx2, "cell=999")
    assert(fakeChild.mkdirs())
    val root2 = new java.io.File(p2)
    val coarse = new java.io.File(root2, "codebook_coarse")
    assert(coarse.renameTo(new java.io.File(root2, ".codebook_coarse.split_bak")))
    java.nio.file.Files.write(jf.toPath,
      s"cell=$hot2\ncell=999\n".getBytes("UTF-8"))
    AnnIndex.recoverCells(spark, p2)
    assert(!jf.exists() && !fakeChild.exists() && hotDir.isDirectory && coarse.isDirectory)
    assert(AnnIndex.query(spark, e, p2, qid = 42, nprobe = 16, topK = 10)
      .collect().map(_.toString).toSeq === before)
  }

  test("batchQuery: restrict + bucketedTable is refused loudly") {
    // the restrict semi-join re-shuffles the index side, silently
    // forfeiting the zero-exchange guarantee the bucketed layout exists
    // for — the documented-unsupported combination must fail, not degrade
    val dummy = spark.range(1).select(col("id").as("vec_id"))
    intercept[IllegalArgumentException] {
      AnnIndex.batchQuery(spark, dummy, "/nonexistent", nprobe = 1, topK = 1,
        restrict = Some(dummy), bucketedTable = Some("no_such_table"))
    }
  }

  test("recoverCells restores a cell stranded mid-swap") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = java.nio.file.Files.createTempDirectory("ann_recover").toString
    AnnIndex.build(spark, e, p)
    val before = AnnIndex.query(spark, e, p, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    // simulate a crash between the two renames: one cell lives ONLY
    // under .compact_bak
    val idx = new java.io.File(s"$p/index")
    val cell = idx.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val bak = new java.io.File(idx, ".compact_bak")
    assert(bak.mkdirs())
    val stranded = new java.io.File(bak, cell.getName)
    assert(cell.renameTo(stranded))
    AnnIndex.recoverCells(spark, p)
    assert(new java.io.File(idx, cell.getName).isDirectory, "cell must be restored")
    assert(!bak.exists(), "backup root must be cleaned up")
    val after = AnnIndex.query(spark, e, p, qid = 42, nprobe = 2, topK = 10)
      .collect().map(_.toString).toSeq
    assert(after == before)
  }

  test("forget removes exactly the requested ids and touches only their cells") {
    import spark.implicits._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = java.nio.file.Files.createTempDirectory("ann_forget").toString
    AnnIndex.build(spark, e, p)
    val preIdx = AnnIndex.readIndex(spark, p)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.get(1).toString))
    // forget every id in ONE specific cell plus one id elsewhere
    val targetCell = preIdx.groupBy(_._2).maxBy(_._2.length)._1
    val inCell = preIdx.filter(_._2 == targetCell).map(_._1).toSeq
    val other = preIdx.find(_._2 != targetCell).get._1
    val forgetIds = (inCell :+ other).toDF("vec_id")
    // record untouched-cell file state before the forget
    val idxDir = new java.io.File(s"$p/index")
    def cellFiles(c: String) = Option(new java.io.File(idxDir, s"cell=$c").listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet)
      .getOrElse(Set.empty)
    val untouched = preIdx.map(_._2).distinct
      .filterNot(c => c == targetCell || preIdx.exists(x => x._1 == other && x._2 == c))
    val beforeFiles = untouched.map(c => c -> cellFiles(c)).toMap

    val removed = AnnIndex.forget(spark, p, forgetIds)
    assert(removed == inCell.length + 1L)
    val post = AnnIndex.readIndex(spark, p).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(inCell.forall(!post.contains(_)) && !post.contains(other))
    assert(post.size == preIdx.length - inCell.length - 1)
    // cells without forgotten ids were not rewritten (same files, same mtimes)
    untouched.foreach(c => assert(cellFiles(c) == beforeFiles(c),
      s"cell $c was rewritten without containing a forgotten id"))
    // search still serves, and never returns a forgotten id
    val hits = AnnIndex.query(spark, e, p, qid = 42, nprobe = 2, topK = 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.forall(post.contains))
    // an empty forget set is a no-op
    assert(AnnIndex.forget(spark, p, Seq.empty[Long].toDF("vec_id")) == 0L)
  }

  test("forget job count is independent of the affected-cell count (k=64)") {
    import spark.implicits._
    // GDPR shape: a forget set whose vectors land in MANY cells. The old
    // per-cell driver loop cost ~3 jobs x affected cells; the set-based
    // rewrite is a fixed number of jobs (discovery aggregate + one staged
    // anti-join write) plus rename RPCs — asserted here with a 64-cell
    // codebook and a forget set spanning dozens of cells.
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = java.nio.file.Files.createTempDirectory("ann_forget_k64").toString
    AnnIndex.build(spark, e, p, k = 64)
    val pre = AnnIndex.readIndex(spark, p)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.get(1).toString))
    val forgetIds = pre.map(_._1).filter(_ % 2 == 0).toSeq
    val affectedCells = pre.filter(t => t._1 % 2 == 0).map(_._2).distinct.length
    assert(affectedCells >= 32, s"fixture too narrow: $affectedCells cells")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val removed =
      try {
        val r = AnnIndex.forget(spark, p, forgetIds.toDF("vec_id"))
        // listener delivery is async — poll until the count stabilizes
        var last = -1
        var waited = 0
        while (jobs.get() != last && waited < 10000) {
          last = jobs.get(); Thread.sleep(200); waited += 200
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(removed == forgetIds.length.toLong)
    // fixed-job budget: discovery + staged write (each may split into a
    // couple of AQE sub-jobs) — NOT O(cells); the old shape would be 96+
    assert(jobs.get() <= 12,
      s"forget ran ${jobs.get()} jobs for $affectedCells affected cells")
    val post = AnnIndex.readIndex(spark, p).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(forgetIds.forall(!post.contains(_)))
    assert(post.size == pre.length - forgetIds.length)
  }

  test("forget heals a crash stranded between its two renames") {
    import spark.implicits._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = java.nio.file.Files.createTempDirectory("ann_forget_crash").toString
    AnnIndex.build(spark, e, p)
    val pre = AnnIndex.readIndex(spark, p).count()
    // strand one cell under .compact_bak (the forget swap's crash window),
    // then run forget — recoverCells at its top must restore the cell first
    val idx = new java.io.File(s"$p/index")
    val cell = idx.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val bak = new java.io.File(idx, ".compact_bak")
    assert(bak.mkdirs())
    assert(cell.renameTo(new java.io.File(bak, cell.getName)))
    val someId = e.filter(col("embedding").isNotNull)
      .select("vec_id").head().getLong(0)
    val removed = AnnIndex.forget(spark, p, Seq(someId).toDF("vec_id"))
    assert(removed == 1L)
    assert(AnnIndex.readIndex(spark, p).count() == pre - 1)
  }
}
