// Dump .explain("formatted") for a comma-separated list of registry
// queries to $GRAFT_EXPLAIN_OUT/<name>_$GRAFT_EXPLAIN_TAG.txt.
// Usage:
//   GRAFT_EXPLAIN_QUERIES=q215_inverted_index_merge,q267_quality_classifier \
//   GRAFT_EXPLAIN_OUT=plans/r17 GRAFT_EXPLAIN_TAG=before \
//   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
//   $SPARK_HOME/bin/spark-shell --master 'local[8]' \
//     --conf spark.sql.codegen.cache.maxEntries=2000 --jars <jar> -I tools/explain_dump.scala
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val out = sys.env.getOrElse("GRAFT_EXPLAIN_OUT", "plans/r17")
val tag = sys.env.getOrElse("GRAFT_EXPLAIN_TAG", "before")
val names = sys.env.getOrElse("GRAFT_EXPLAIN_QUERIES", "").split(",").map(_.trim).filter(_.nonEmpty)
java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
// spark-shell's session predates the graft extensions: install the
// engine profile (native functions, SpatialFilterRule, engine confs)
// on it (a static conf never reaches an existing session: launch with
// --conf spark.sql.codegen.cache.maxEntries=2000 to size the codegen
// cache as GraftSession does), keeping the shell's shuffle width
graft.GraftSession.create(
  shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
spark.sparkContext.setLogLevel("ERROR")
for (n <- names) {
  val fn = graft.SparkEntry.queries(n)
  val df = fn(spark, sfDir)
  val plan = df.queryExecution.explainString(
    org.apache.spark.sql.execution.FormattedMode)
  java.nio.file.Files.write(
    java.nio.file.Paths.get(s"$out/${n}_$tag.txt"),
    plan.getBytes("UTF-8"))
  println(s"[explain] wrote $out/${n}_$tag.txt (${plan.length} chars)")
}
System.exit(0)
