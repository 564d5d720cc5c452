package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
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
    // keep every generated class of a warm engine compiled: at Spark's
    // 100 default one healthflow cycle (265-282 compiles) or one q191 run
    // (~200) evicts the previous run's classes, so each request pays its
    // Janino compiles again. Static: `CodeGenerator` reads it once per
    // JVM, when it first compiles, so it takes effect only from a session
    // built here (or a `--conf` at launch). Spark 4.1 keys an entry by
    // (context class loader, source), so in local mode each whole-stage
    // class is held twice: for the planner's compile check and for the
    // tasks. Guava splits the bound over 4 segments; 2000 leaves ~4x
    // headroom over the ~500 entries both benchmark chains need together.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // and keep a class's source independent of the order AQE plans its
    // stages: with the stage id in the class name, two concurrent
    // aggregates (the weather grid's) swap ids between runs, and each
    // swap is a cache miss. Class names lose the id; plans keep it.
    "spark.sql.codegen.useIdInClassName" -> "false",
    // let AQE size a cache fill by its data like any other stage: at
    // Spark's false default the final stage of every cached plan keeps
    // one task per shuffle partition, so a 60-row persist fills (and a
    // write from it makes) 32 tasks and 32 files. Where a pin's hash
    // partitioning feeds a later join or aggregate, the pin site keeps it
    // with `util.Widths.pinPartitioned`, a stated-count repartition that
    // AQE never coalesces.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // bound the explain string Spark builds for every SQL execution start
    // and every AQE plan update; it rides on a listener event that, with
    // the UI off, nothing reads. A scan of a cached relation prints that
    // relation's whole cached plan, once per reference, so a query over
    // pins read in place (`persist` alone) renders every plan below them.
    // q191 reads its pins as plan leaves (`util.Pins.leaf`) and stays
    // under the bound (~31k characters); the bound stays for the other
    // nested-pin plans. 64k sits above every plan the healthflow chain
    // renders (a healthflow run cuts none). Spark walks the whole tree
    // before it cuts; code that needs a whole plan writes it through
    // `TreeNode.treeString(append, …)`, which takes no bound.
    "spark.sql.maxPlanStringLength" -> "64k",
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
    // a plan string cut at `spark.sql.maxPlanStringLength` already ends in
    // Spark's own "... N more characters" marker; the WARN logged for each
    // cut says nothing more
    Configurator.setLevel("org.apache.spark.sql.catalyst.util.StringUtils", Level.ERROR)
    spark
  }
}
