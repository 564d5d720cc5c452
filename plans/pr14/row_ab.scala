// Times registry rows as Bench does (clearCache, fn + toRdd.count), PASSES passes.
val done = {
  val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
  val names = sys.env("GRAFT_EXPLAIN_QUERIES").split(",").map(_.trim).filter(_.nonEmpty)
  val passes = sys.env.getOrElse("PASSES", "2").toInt
  val tag = sys.env("SIDE")
  graft.GraftSession.create(shufflePartitions = spark.sparkContext.defaultParallelism)
  spark.sparkContext.setLogLevel("ERROR")
  val w = new java.io.PrintWriter(new java.io.FileWriter(sys.env("OUT"), true))
  for (p <- 1 to passes; n <- names) {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(n)(spark, sfDir)
    df.queryExecution.toRdd.count()
    w.println(s"$tag\t$p\t$n\t${(System.nanoTime() - t0) / 1e6}")
    w.flush()
  }
  w.close()
  "ok"
}
System.exit(0)
