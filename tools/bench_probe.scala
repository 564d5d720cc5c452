// Ad-hoc stage-attributed probe for the optimization round: times the
// index-build / training / classifier hot paths in isolation (fresh
// scratch dirs, same code paths as the registry rows). Iterate with:
//   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 /opt/spark/bin/spark-shell \
//     --master 'local[32]' --conf spark.sql.codegen.cache.maxEntries=2000 \
//     --jars target/scala-2.13/geoscalehealthflowetldjangoanalyticsspark_2.13-0.1.0.jar \
//     -I tools/bench_probe.scala 2>/dev/null | grep PROBE
import org.apache.spark.sql.functions._
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
// spark-shell's session predates the graft extensions: install the
// engine profile (native functions, SpatialFilterRule, engine confs)
// on it (a static conf never reaches an existing session: launch with
// --conf spark.sql.codegen.cache.maxEntries=2000 to size the codegen
// cache as GraftSession does), keeping the shell's shuffle width
graft.GraftSession.create(
  shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
spark.sparkContext.setLogLevel("ERROR")
def timed(name: String)(f: => Unit): Unit = {
  spark.sparkContext.setJobDescription(name)
  val t0 = System.nanoTime()
  f
  println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  spark.sparkContext.setJobDescription(null)
}
val docs = spark.read.parquet(s"$sfDir/documents.parquet")
val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
// warmup
docs.count(); embs.count()

// ---- ANN index build, stage grain ----
val annPath = graft.io.Scratch.dir("probe_ann")
timed("ann.kmeans")(graft.ml.KMeans.fitCodebook(spark, embs, k = 16, iters = 2))
timed("ann.pqfit")(graft.ml.Pq.fit(spark, embs, m = 4, k = 4, iters = 2))
timed("ann.build.full")(graft.ml.AnnIndex.build(spark, embs, s"$annPath/idx"))
timed("ann.build.full2")(graft.ml.AnnIndex.build(spark, embs, s"$annPath/idx2"))

// ---- text inverted index ----
val tPath = graft.io.Scratch.dir("probe_text")
timed("inv.build.full")(graft.text.InvertedIndex.build(spark, docs, s"$tPath/full"))
timed("inv.build.a")(graft.text.InvertedIndex.build(spark,
  docs.filter(col("doc_id") % 2 === 0), s"$tPath/a"))
timed("inv.build.b")(graft.text.InvertedIndex.build(spark,
  docs.filter(col("doc_id") % 2 === 1), s"$tPath/b"))
timed("inv.merge")(graft.text.InvertedIndex.merge(spark, s"$tPath/a", s"$tPath/b", s"$tPath/m"))
timed("inv.query")(graft.text.InvertedIndex.query(spark, s"$tPath/m",
  Seq("spark", "window", "hash")).queryExecution.toRdd.count())
timed("inv.forget")({
  graft.text.InvertedIndex.delete(spark, s"$tPath/full",
    docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
  graft.text.InvertedIndex.compact(spark, s"$tPath/full")
})

// ---- quality classifier (q267 shape) ----
timed("qc.q267")(graft.SparkEntry.queries("q267_quality_classifier")(spark, sfDir)
  .queryExecution.toRdd.count())

// ---- bloom decon (the q191 dominant stage) ----
timed("decon.survivors")({
  val toks0 = split(trim(col("text")), "\\s+")
  val bench = docs.filter(col("doc_id") % 50 === 0)
    .select(array_join(slice(toks0, lit(3), greatest(size(toks0) - 2, lit(0))), " ").as("btext"))
  graft.curation.Curation.bloomDecontaminateSurvivors(
    docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text"), bench,
    benchTextCol = "btext").select("doc_id").queryExecution.toRdd.count()
})

// file counts in the scratch layouts (the small-files axis)
for ((label, p) <- Seq("inv.full" -> s"$tPath/full", "inv.merged" -> s"$tPath/m", "ann.idx" -> s"$annPath/idx")) {
  val n = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try walk.filter(_.toString.endsWith(".parquet")).count() finally walk.close()
  }
  println(s"PROBE files.$label $n")
}
System.exit(0)
