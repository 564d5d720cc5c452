// Capture the EXECUTED formatted plans of the WRITE jobs behind every
// rename-staged lifecycle (the plans a registry-row explain cannot show,
// because the writes run as side effects before any returned frame).
// Attaches a QueryExecutionListener, drives over sf0.1:
//   - InvertedIndex build/merge/compact;
//   - Writers.overwrite and upsertPath (first write to an absent path,
//     then a write over an existing one);
//   - AnnIndex build, compactCells, forget and rebuildAndSwap;
//   - Curation.forgetFromPackedCorpus (ids from one stratum, so the
//     concurrent stratum rewrites cannot reorder the captured plans);
// and writes each executed plan to
// $GRAFT_EXPLAIN_OUT/<label>_w<i>_$GRAFT_EXPLAIN_TAG.txt. Within one
// label, plans are numbered in the order of their id-stripped text, so
// a loop over cell directories pairs up whatever order the FS lists
// them in. Run once per jar and compare with tools/plan_diff.py:
//   GRAFT_EXPLAIN_OUT=plans/<dir> GRAFT_EXPLAIN_TAG=before \
//     spark-shell --master 'local[2]' \
//     --conf spark.sql.codegen.cache.maxEntries=2000 --jars <jar> \
//     -I tools/explain_writes.scala
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val out = sys.env.getOrElse("GRAFT_EXPLAIN_OUT", "plans/r17")
val tag = sys.env.getOrElse("GRAFT_EXPLAIN_TAG", "after")
java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
// spark-shell's session predates the graft extensions: install the
// engine profile (native functions, SpatialFilterRule, engine confs)
// on it (a static conf never reaches an existing session: launch with
// --conf spark.sql.codegen.cache.maxEntries=2000 to size the codegen
// cache as GraftSession does), keeping the shell's shuffle width
graft.GraftSession.create(
  shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
// and dump whole plans: the engine cuts plan strings at 64k characters
spark.conf.unset("spark.sql.maxPlanStringLength")
spark.sparkContext.setLogLevel("ERROR")
val plans = new ConcurrentLinkedQueue[(String, String)]()
val listener = new org.apache.spark.sql.util.QueryExecutionListener {
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    plans.add((funcName,
      qe.explainString(org.apache.spark.sql.execution.FormattedMode)))
    ()
  }
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}
def capture(label: String)(f: => Unit): Unit = {
  plans.clear()
  f
  org.apache.spark.graft.SparkStatus.drain(spark.sparkContext, 10000L)
  val all = plans.toArray(Array.empty[(String, String)])
  // keep only write/command plans (save/parquet/insert) — the point is
  // the exchange structure feeding each write
  val writes = all.filter { case (fn, _) =>
    fn.contains("save") || fn.contains("parquet") || fn.contains("command")
  }
  val picked = (if (writes.nonEmpty) writes else all)
    .sortBy { case (_, p) => p.replaceAll("#\\d+|plan_id=\\d+", "") }
  picked.zipWithIndex.foreach { case ((fn, p), i) =>
    val f = s"$out/${label}_w$i${"_"}$tag.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      (s"// executed plan of $fn during $label\n" + p).getBytes("UTF-8"))
    println(s"[explain] wrote $f (${p.length} chars)")
  }
}
val docs = spark.read.parquet(s"$sfDir/documents.parquet")
val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
val base = graft.io.Scratch.dir("explain_writes")
spark.listenerManager.register(listener)
capture("invidx_build")(graft.text.InvertedIndex.build(spark,
  docs.filter(col("doc_id") % 2 === 0), s"$base/a"))
capture("invidx_build_b")(graft.text.InvertedIndex.build(spark,
  docs.filter(col("doc_id") % 2 === 1), s"$base/b"))
capture("invidx_merge")(graft.text.InvertedIndex.merge(spark,
  s"$base/a", s"$base/b", s"$base/m"))
capture("invidx_compact")({
  graft.text.InvertedIndex.delete(spark, s"$base/m",
    docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
  graft.text.InvertedIndex.compact(spark, s"$base/m")
})
capture("ann_build")(graft.ml.AnnIndex.build(spark, embs, s"$base/ann"))
val rows = docs.select("doc_id", "lang", "n_chars")
capture("writers_overwrite")({
  graft.io.Writers.overwrite(rows.filter(col("doc_id") % 2 === 0), s"$base/ow")
  graft.io.Writers.overwrite(rows.filter(col("doc_id") % 3 === 0), s"$base/ow")
})
capture("writers_upsert")({
  graft.io.Writers.upsertPath(spark, rows.filter(col("doc_id") % 2 === 0),
    s"$base/up", Seq("doc_id"))
  graft.io.Writers.upsertPath(spark, rows.filter(col("doc_id") % 3 === 0),
    s"$base/up", Seq("doc_id"))
})
// two appends leave >1 file in most cells for compactCells to rewrite
graft.ml.AnnIndex.append(spark, embs.filter(col("vec_id") % 2 === 0), s"$base/ann")
graft.ml.AnnIndex.append(spark, embs.filter(col("vec_id") % 2 === 1), s"$base/ann")
capture("ann_compact_cells")(
  graft.ml.AnnIndex.compactCells(spark, s"$base/ann", maxFilesPerCell = 2))
capture("ann_forget")(graft.ml.AnnIndex.forget(spark, s"$base/ann",
  embs.filter(col("vec_id") % 5 === 0).select("vec_id")))
capture("ann_rebuild")(graft.ml.AnnIndex.rebuildAndSwap(spark,
  embs.filter(col("vec_id") % 5 =!= 0), s"$base/ann"))
graft.curation.Curation.writePackedCorpus(
  docs.filter(col("doc_id") < 1000), s"$base/packed", seqTokens = 64)
val oneLang = docs.filter(col("doc_id") < 1000).select("lang").head().getString(0)
capture("packed_forget")(graft.curation.Curation.forgetFromPackedCorpus(spark,
  s"$base/packed", docs.filter(col("doc_id") < 1000 && col("lang") === oneLang &&
    col("doc_id") % 7 === 0).select("doc_id")))
System.exit(0)
