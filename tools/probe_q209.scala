// A/B probe for q209_packed_corpus_forget (writePackedCorpus pin).
// Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 /opt/spark/bin/spark-shell \
//   --master 'local[32]' --conf spark.sql.shuffle.partitions=32 \
//   --conf spark.sql.codegen.cache.maxEntries=2000 \
//   --jars <jar> -I tools/probe_q209.scala 2>/dev/null | grep PROBE
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
docs.count() // warmup
for (rep <- 1 to 3) {
  // the q209 registry row body, fresh scratch each rep
  timed(s"q209.full.$rep") {
    graft.SparkEntry.queries("q209_packed_corpus_forget")(spark, sfDir)
      .queryExecution.toRdd.count()
  }
  // stage grain: write alone
  val base = graft.io.Scratch.dir(s"probe_pack_$rep")
  timed(s"q209.write.$rep")(graft.curation.Curation.writePackedCorpus(docs, base))
}
System.exit(0)
