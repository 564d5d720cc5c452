// Dump the EXECUTED plan (post-AQE, with *(n) whole-stage-codegen
// markers) for a comma-separated list of registry queries to
// $GRAFT_EXPLAIN_OUT/<name>_$GRAFT_EXPLAIN_TAG.txt. Unlike
// explain_dump.scala this runs each query (toRdd.count) first, so the
// AdaptiveSparkPlan is final and codegen collapse has happened.
val done = {
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val out = sys.env.getOrElse("GRAFT_EXPLAIN_OUT", "plans/r18")
  val tag = sys.env.getOrElse("GRAFT_EXPLAIN_TAG", "exec")
  val names = sys.env.getOrElse("GRAFT_EXPLAIN_QUERIES", "")
    .split(",").map(_.trim).filter(_.nonEmpty)
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
  // spark-shell's session predates the graft extensions: install the
  // engine profile (native functions, SpatialFilterRule, engine confs)
  // on it, keeping the shell's shuffle width
  graft.GraftSession.create(
    shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
  spark.sparkContext.setLogLevel("ERROR")
  for (n <- names) {
    spark.catalog.clearCache()
    val df = graft.SparkEntry.queries(n)(spark, sfDir)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/${n}_$tag.txt"), plan.getBytes("UTF-8"))
    println(s"[explain-exec] wrote $out/${n}_$tag.txt (${plan.length} chars)")
  }
  "ok"
}
System.exit(0)
