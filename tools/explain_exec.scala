// Dump the EXECUTED plan (post-AQE, with *(n) whole-stage-codegen
// markers) for a comma-separated list of registry queries to
// $GRAFT_EXPLAIN_OUT/<name>_$GRAFT_EXPLAIN_TAG.txt, and the query's
// profile line (graft.QueryProfile: jobs by call site, stages, tasks,
// shuffle, spill and per-operator metrics) to
// <name>_$GRAFT_EXPLAIN_TAG_profile.json. Unlike explain_dump.scala this
// runs each query (toRdd.count, as Bench times it) first, so the
// AdaptiveSparkPlan is final and codegen collapse has happened. The
// executed plans of the SQL executions the query ran while it was built
// (the fills of its `util.Pins.leaf` pins, which its own plan reads as
// one scan each, and any driver-side collect; the profile's tag collects
// them) go to <name>_$GRAFT_EXPLAIN_TAG_fills.txt, one after another,
// each under a "== execution <i> ==" header.
val done = {
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val out = sys.env.getOrElse("GRAFT_EXPLAIN_OUT", "plans/r18")
  val tag = sys.env.getOrElse("GRAFT_EXPLAIN_TAG", "exec")
  val names = sys.env.getOrElse("GRAFT_EXPLAIN_QUERIES", "")
    .split(",").map(_.trim).filter(_.nonEmpty)
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
  // spark-shell's session predates the graft extensions: install the
  // engine profile (native functions, SpatialFilterRule, engine confs)
  // on it, at Bench's shuffle width (one partition per core) so plans
  // and profiles match Bench's. A static conf never reaches an existing
  // session: launch with --conf spark.sql.codegen.cache.maxEntries=2000,
  // or the profiles' compile counts differ from Bench's
  graft.GraftSession.create(shufflePartitions = spark.sparkContext.defaultParallelism)
  spark.sparkContext.setLogLevel("ERROR")
  for (n <- names) {
    spark.catalog.clearCache()
    val (df, profileTag) = graft.QueryProfile.tagged(spark, n) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.toRdd.count()
      df
    }
    // the plans whole: the engine cuts plan strings at 64k characters.
    // The query ran under the cut, as in Bench, so its profile's `wall_ms`
    // and `driver_ms` match Bench's
    val bound = "spark.sql.maxPlanStringLength"
    spark.conf.unset(bound)
    val plan = df.queryExecution.executedPlan.toString
    val fills = profileTag.executions.zipWithIndex.map { case (qe, i) =>
      s"== execution $i ==\n${qe.executedPlan}\n"
    }
    spark.conf.set(bound, graft.GraftSession.engineConf(bound))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/${n}_$tag.txt"), plan.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/${n}_${tag}_fills.txt"),
      fills.mkString("\n").getBytes("UTF-8"))
    val profile = graft.QueryProfile.read(spark, profileTag, Some(df)).json(n)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/${n}_${tag}_profile.json"),
      (profile + "\n").getBytes("UTF-8"))
    println(s"[explain-exec] wrote $out/${n}_$tag.txt (${plan.length} chars), " +
      s"${fills.size} executions' plans and its profile")
  }
  "ok"
}
System.exit(0)
