package graft

import org.apache.spark.sql.SparkSession

/** Engine entry point: a SparkSession wired with the graft extensions
  * (native expressions, table functions, optimizer rule — see
  * [[sql.NativeCatalog]]) and the confs the engine is tuned for. Users of
  * the reference switch by building their session here and calling the
  * `graft.api` pipelines / `graft.queries` operators.
  */
object GraftSession {

  /** The engine profile every session runs under — users, mains and the
    * test suite alike.
    */
  val engineConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // align whole-stage-codegen's fallback threshold with HotSpot's
    // actual JIT limit (-XX:DontCompileHugeMethods refuses methods over
    // 8000 bytecodes): Spark's 65535 default lets it keep a generated
    // stage whose method the JVM will NEVER JIT-compile, which then runs
    // as interpreted bytecode — measured 1.7x slower than the per-
    // expression-codegen fallback on the gram/bloom projection. A JVM
    // constant, not a data-scale tunable: identical on any cluster.
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    // let AQE size a cache fill by its data like any other stage: at
    // Spark's false default the final stage of every cached plan keeps
    // one task per shuffle partition, so a 60-row persist fills (and a
    // write from it makes) 32 tasks and 32 files. Where a pin's hash
    // partitioning feeds a later join or aggregate, the pin site keeps it
    // with `util.Widths.pinPartitioned`, a stated-count repartition that
    // AQE never coalesces.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Pre-configured builder; caller may add deployment settings (warehouse
    * dir, timeouts) before getOrCreate.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      .withExtensions(new geo.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config(engineConf)

  /** Build the session. When one already existed (spark-shell, notebooks,
    * a second call), `getOrCreate` returns it without running the
    * extensions, so the native catalog is installed on it here; on a
    * session the extensions built, the install changes nothing.
    */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    sql.NativeCatalog.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
