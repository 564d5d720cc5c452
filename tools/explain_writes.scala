// Capture the EXECUTED formatted plans of the index-build/merge WRITE
// jobs (the plans a registry-row explain cannot show, because the
// builds run as side effects before the returned query frame). Attaches
// a QueryExecutionListener, drives InvertedIndex build/merge/compact and
// AnnIndex.build over sf0.1, and writes each executed plan to
// $GRAFT_EXPLAIN_OUT/<label>_$GRAFT_EXPLAIN_TAG.txt (plans of repeated
// shapes are numbered).
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val out = sys.env.getOrElse("GRAFT_EXPLAIN_OUT", "plans/r17")
val tag = sys.env.getOrElse("GRAFT_EXPLAIN_TAG", "after")
java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
// spark-shell's session predates the graft extensions: install the
// engine profile (native functions, SpatialFilterRule, engine confs)
// on it, keeping the shell's shuffle width
graft.GraftSession.create(
  shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
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
  org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext, 10000L)
  val all = plans.toArray(Array.empty[(String, String)])
  // keep only write/command plans (save/parquet/insert) — the point is
  // the exchange structure feeding each write
  val writes = all.filter { case (fn, _) =>
    fn.contains("save") || fn.contains("parquet") || fn.contains("command")
  }
  val picked = if (writes.nonEmpty) writes else all
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
System.exit(0)
