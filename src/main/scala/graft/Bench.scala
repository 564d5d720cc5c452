package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main — runs the headline queries on SPARK_GRAFT_SF_DIR and
  * STREAMS one JSON line per completed row, a cumulative board line after
  * every row, and the final ONE-line board
  * {"metric":"total",…,"queries":{name:sec,…},"metrics":{name:value,…},
  * "partial":false} (VERDICT
  * r16 #1: the r16 driver run timed out and yielded `parsed: null`
  * because the old main printed nothing until the very end — any prefix
  * of this run now contains a complete, parsable cumulative board, and
  * BENCH_LOCAL.json on disk is rewritten atomically after every row so a
  * kill at ANY point leaves a board whose `"partial":true` stamp says
  * exactly what it is).
  *
  * Each query is forced through full execution with
  * `queryExecution.toRdd.count()` — unlike `df.count()`, this materializes
  * every output row (a bare count() lets Catalyst prune the query to a
  * row-count scan, which would fake the numbers). After each registry
  * sample, one {"metric":"profile",…} line ([[QueryProfile]]) attributes
  * its time to jobs, stages and plan operators.
  */
object Bench {

  /** Every registered query gets timed (min-of-2) — a regression anywhere
    * in the registry shows up in the per-round artifact, not just a
    * curated subset. Layout/skew demos append their own labeled entries.
    */
  private def headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  // ---- streaming board state (single-threaded: main drives every write).
  // rows keeps insertion order = run order, so a prefix board reads as
  // "how far the run got"; registryNames marks which rows sum into
  // "value" (registry mins only — micro/demo rows are labeled extras,
  // matching the pre-streaming board's semantics).
  private val rows = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val registryNames = scala.collection.mutable.Set[String]()
  private val failedRows = scala.collection.mutable.LinkedHashSet[String]()
  private var sfDirTag = ""
  private var provenance = ""
  private var wallT0 = System.nanoTime()
  private var startupSec = -1.0

  /** Age of the parent (sbt) JVM in seconds — on a driver run this is
    * sbt startup + compile, i.e. exactly the pre-first-row budget the
    * r16 timeout burned invisibly. /proc/<ppid>/stat field 22 is
    * starttime in USER_HZ (100 on Linux) ticks since boot; comm can
    * contain spaces, so parse from the last ')'.
    */
  private def parentAgeSec(): Option[Double] =
    try {
      val up = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/uptime")), "UTF-8").split("\\s+")(0).toDouble
      val pp = java.lang.ProcessHandle.current().parent()
      if (!pp.isPresent) None
      else {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/${pp.get().pid()}/stat")), "UTF-8")
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        Some(up - rest(19).toDouble / 100.0)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Rows whose value is not seconds: bytes (`_mb`), driver round counts
    * (`_rounds`) and the skew micro's salt factor. The board keeps them in
    * its `"metrics"` map, apart from the seconds in `"queries"`.
    */
  private def isMetric(name: String): Boolean =
    name.endsWith("_mb") || name.endsWith("_rounds") || name == "skew_salt_factor"

  /** `"queries":{…},"metrics":{…}` for `kv`: seconds, then the rest. */
  private def byUnit(kv: Iterable[(String, Double)]): String = {
    def obj(xs: Iterable[(String, Double)]) =
      xs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val (metrics, secs) = kv.partition { case (k, _) => isMetric(k) }
    s""""queries":${obj(secs)},"metrics":${obj(metrics)}"""
  }

  private def boardLine(partial: Boolean): String = {
    val errs = failedRows.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = rows.collect { case (k, v) if registryNames(k) => v }.sum
    val wall = (System.nanoTime() - wallT0) / 1e9
    f"""{"metric":"total","value":$total%.3f,"unit":"sec",${byUnit(rows)},"errors":$errs,"sf":"$sfDirTag","partial":$partial,$provenance,"startup_sec":$startupSec%.1f,"wall_sec":$wall%.1f}"""
  }

  /** Atomic board rewrite: a kill between write and move leaves the last
    * complete board, never a torn file.
    */
  private def writeBoardFile(line: String): Unit =
    try {
      val tmp = java.nio.file.Paths.get("BENCH_LOCAL.json.tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("BENCH_LOCAL.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** One completed sample: fold into the min, emit the compact row line
    * (with the wall offset `t` — the line that attributes WHERE a killed
    * run's budget went) plus the refreshed cumulative board, and rewrite
    * the on-disk board.
    */
  private def record(name: String, sec: Double, isRegistry: Boolean): Unit = {
    val v = rows.get(name).fold(sec)(math.min(_, sec))
    rows(name) = v
    if (isRegistry) registryNames += name
    failedRows -= name
    val t = (System.nanoTime() - wallT0) / 1e9
    val key = if (isMetric(name)) "value" else "sec"
    println(f"""{"metric":"row","name":"$name","$key":$sec%.3f,"min":$v%.3f,"t":$t%.1f}""")
    val board = boardLine(partial = true)
    println(board)
    System.out.flush()
    writeBoardFile(board)
  }

  def main(args: Array[String]): Unit = {
    wallT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    sfDirTag = sfDir
    // provenance stamp (VERDICT r16 #5) + startup breakdown (#1): load1
    // read BEFORE the session spins up, so it reflects the host we
    // inherited — on a driver run that includes the sbt compile that just
    // finished (so `idle:false` there is correct and expected); an
    // end-of-round re-stamp from a warm sbt reads near-zero and stamps
    // idle:true. sbt_age_at_main_sec is the pre-fork budget (sbt startup
    // + compile) that r16's timeout burned invisibly.
    val load1 = try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val jvmUp = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sbtAge = parentAgeSec().getOrElse(-1.0)
    provenance = f""""idle":${load1 >= 0 && load1 < 4.0},"load1_before":$load1%.2f,"jvm_uptime_at_main_sec":$jvmUp%.1f,"sbt_age_at_main_sec":$sbtAge%.1f,"cpus":$cpus"""
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", "/tmp/graft_bench_warehouse")
      // a loaded host can stall block-manager RPCs past the 10s default;
      // the resulting TimeoutException stacks are harmless but pollute the
      // captured output around the result line — wait instead of whining
      .config("spark.rpc.askTimeout", "600s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warmup on the smallest scale so measured times reflect
    // execution, not first-query JIT + classload.
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir).queryExecution.toRdd.count()
    // main-entry → Spark warm: everything before the first timed row
    startupSec = (System.nanoTime() - wallT0) / 1e9

    // dev mode: SPARK_GRAFT_MICROS_ONLY=skew|bucket|zorder|bpe|codec|sketch
    // (comma-separable)
    // runs just the named layout micros — iterating on one demo shouldn't
    // cost a 20-minute full-registry pass
    sys.env.get("SPARK_GRAFT_MICROS_ONLY").foreach { which =>
      val sel = which.split(",").map(_.trim).toSet
      val micros =
        (if (sel("skew")) benchSkew(spark, sfDir) else Nil) ++
        (if (sel("bucket")) benchBucketed(spark, sfDir) else Nil) ++
        (if (sel("zorder")) benchZOrder(spark) else Nil) ++
        (if (sel("bpe")) benchBpeRounds(spark, sfDir) else Nil) ++
        (if (sel("codec")) benchCodec(spark, sfDir) else Nil) ++
        (if (sel("sketch")) benchDistinctSketch(spark, sfDir) else Nil)
      spark.stop()
      println(s"""{"metric":"micros",${byUnit(micros)}}""")
      return
    }

    // ---- shared ANN index: built ONCE, timed as its own row ----------
    // The ANN family (q154/q155/q158/q165/q169/q170/q179) searches the
    // IDENTICAL index; rebuilding it inside each timed region billed
    // ~5 s x 7 of duplicate build cost to queries that are measuring
    // search. One explicit build row keeps attribution honest — family
    // rows below then time pure search against the shared index.
    // NonFatal only: an OOM/VM error here means every later timing is
    // suspect — let it kill the run. On a NonFatal failure the family
    // queries are SKIPPED (reported under "errors"), not retried: each
    // would otherwise re-attempt the full build inside its own timed
    // region via ensureIndex, silently re-introducing the per-query
    // duplicate-build attribution this shared build exists to remove.
    val annFamily = Seq("q154_ann_index_query", "q155_ann_batch_query",
      "q158_ann_index_dedup", "q165_hard_negatives", "q169_filtered_ann",
      "q170_index_drift", "q179_ann_ingest_verdicts", "q181_ann_bucketed_batch")
    var annBuildFailed = false
    try {
      val t0 = System.nanoTime()
      graft.queries.SimilarityQueries.ensureIndex(spark, sfDir)
      record("ann_index_build", (System.nanoTime() - t0) / 1e9, isRegistry = false)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] ann index build failed: $e")
        annBuildFailed = true
    }

    // ---- shared text inverted index: same discipline ------------------
    // q214/q217/q251 search the IDENTICAL persisted index; their rows
    // measure pure search against this one explicit build. q215/q216
    // keep builds in their timed regions by design (ingest/forget
    // lifecycles ARE their operators) and use private paths.
    val textFamily = Seq("q214_inverted_index_query", "q217_phrase_search",
      "q251_sql_text_search")
    var textBuildFailed = false
    try {
      val t0 = System.nanoTime()
      graft.queries.CurationQueries.ensureTextIndex(spark, sfDir)
      record("text_index_build", (System.nanoTime() - t0) / 1e9, isRegistry = false)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] text index build failed: $e")
        textBuildFailed = true
    }

    // min of two runs: the second run reflects steady-state (JIT-warm,
    // file-cache-warm) execution, which is what a long-lived cluster sees.
    // The two samples come from two FULL PASSES over the registry, not
    // back-to-back executions: a transient host stall (observed: a
    // ~10-minute interference window inflating one alphabetical block
    // 20-50x) then poisons at most one sample per query instead of both.
    // A failing query is reported under "errors", NOT folded into the
    // timings (an aborted duration is not a measurement).
    val timed = {
      val afterAnn =
        if (annBuildFailed) {
          System.err.println(s"[bench] skipping ANN family (shared build failed): " +
            annFamily.mkString(", "))
          annFamily.filter(SparkEntry.queries.contains).foreach(failedRows += _)
          headline.filterNot(annFamily.contains)
        } else headline
      if (textBuildFailed) {
        System.err.println(s"[bench] skipping text-search family (shared build failed): " +
          textFamily.mkString(", "))
        textFamily.filter(SparkEntry.queries.contains).foreach(failedRows += _)
        afterAnn.filterNot(textFamily.contains)
      } else afterAnn
    }
    // Each sample runs under a job tag; after its time is recorded (outside
    // the timed region) one {"metric":"profile",…} line says where the time
    // went: its jobs, stages, tasks, shuffle and spill, and the operators of
    // its executed plan and of the SQL executions it ran (QueryProfile).
    for (_ <- 1 to 2; name <- timed; fn <- SparkEntry.queries.get(name)) {
      // queries that persist() an intermediate (q35, q113) would
      // otherwise serve run 2 from CacheManager — a cached-read time,
      // not a query time — and pin blocks across the whole registry
      spark.catalog.clearCache()
      val ran = try {
        val (df, tag) = QueryProfile.tagged(spark, name) {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.count()
          df
        }
        // the body's own wall time: `tagged` then waits for the listener
        // bus, which is the profile's cost, not the row's
        record(name, tag.wallMs / 1e3, isRegistry = true)
        Some((df, tag))
      } catch {
        // NonFatal: an OOM here poisons every subsequent timing — die.
        // A failure only lists under "errors" while NO pass succeeded
        // (an aborted duration is not a measurement; record() clears the
        // flag on a later success).
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          if (!rows.contains(name)) failedRows += name
          None
      }
      // a profile that cannot be read is reported, never a failed row
      ran.foreach { case (df, tag) =>
        try println(QueryProfile.read(spark, tag, Some(df)).json(name))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name profile unreadable: $e")
        }
      }
    }
    // ---- skew-resilience demo: one hot key holding ~50% of the fact side.
    // Plain shuffled join (AQE off) serializes the hot key onto one task;
    // the salted join and AQE's skew split both spread it. The small side
    // is forced off the broadcast path (autoBroadcastJoinThreshold=-1) to
    // model the 100-TB case where the dim side is itself too big to ship.
    // RUNS FIRST among the micros: the bucket/zorder demos write ~78M rows
    // of tables, and in a full-registry run that page-cache + heap aging
    // systematically distorted the skew timings (a salted round measured
    // 3x its dedicated-run time); variant fairness WITHIN the micro is
    // handled by its own interleaved rounds, so demo order is free to
    // choose for isolation.
    benchSkew(spark, sfDir).foreach { case (k, v) => record(k, v, isRegistry = false) }

    // ---- bucketing demo: pay the shuffle once at write time, join
    // exchange-free forever after (the 100-TB co-location strategy)
    benchBucketed(spark, sfDir).foreach { case (k, v) => record(k, v, isRegistry = false) }

    // ---- z-order data-skipping demo: identical rows + identical box
    // query, three physical layouts. Linear-by-x prunes one dimension;
    // the z-order layout makes BOTH range predicates selective against
    // row-group min/max stats (the Delta/Iceberg OPTIMIZE ZORDER effect).
    benchZOrder(spark).foreach { case (k, v) => record(k, v, isRegistry = false) }

    // ---- BPE round-batching demo: same 256 learned merges, driver rounds
    // (hence scheduling wall time) cut by the provably-commuting batch
    benchBpeRounds(spark, sfDir).foreach { case (k, v) => record(k, v, isRegistry = false) }

    // ---- storage-codec demo: the parquet compression decision that
    // dominates a 100-TB footprint (write cost vs bytes vs scan cost)
    benchCodec(spark, sfDir).foreach { case (k, v) => record(k, v, isRegistry = false) }

    // ---- pure-sketch distinct-n: the 100-TB diversity-report recipe
    // (q279's registry row carries the EXACT distinct beside the HLL so
    // its oracle can assert the bound — correct verification design, but
    // its time reads as "the approx face"; this row times the sketch-only
    // path a production report actually runs)
    benchDistinctSketch(spark, sfDir).foreach { case (k, v) => record(k, v, isRegistry = false) }

    val line = boardLine(partial = false)
    // stop FIRST: once the context is down no background thread can emit
    // a log line that interleaves with (or trails) the result line
    spark.stop()
    // belt-and-braces artifact: the same line on disk, immune to stdout
    // capture glitches entirely
    writeBoardFile(line)
    // printed TWICE: the driver keeps only a bounded tail of stdout, and a
    // single ~4 KB line can straddle the window edge (r3's parsed:null).
    // Two consecutive copies guarantee one complete line inside any tail
    // window larger than the line itself; BENCH_LOCAL.json is the on-disk
    // authority either way.
    println(line)
    println(line)
    System.out.flush()
  }

  /** Same join+agg over orders⋈lineitem, off plain parquet vs pre-bucketed
    * tables (32 buckets on the join key, sorted): the bucketed plan runs
    * the SortMergeJoin with ZERO exchanges and no per-query sort — the
    * write-once shuffle amortized across every later query.
    *
    * The joined data is replicated 8× first (distinct keys, same join
    * fan-out): at raw sf0.1 the join runs sub-second and one GC pause
    * flips the ordering — round 3's artifact measured bucketed 2.6×
    * SLOWER purely from noise. At ~5M joined rows the shuffle the
    * bucketed plan avoids is the dominant cost, so the ordering is the
    * signal. Both variants read the SAME replicated parquet; only the
    * layout differs.
    */
  private def benchBucketed(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def joined(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity").cast("decimal(14,2)")).as("qty"))

    val rep = 8
    // per-JVM paths: a second bench on the same host overwriting a shared
    // /tmp dir mid-demo would yank parquet files out from under this one;
    // deleted in the finally below (they're ~8x sf0.1 of disk)
    val runTag = java.lang.ProcessHandle.current().pid().toString
    val repOrdersPath = s"/tmp/graft_bench_join_orders_$runTag"
    val repLineitemPath = s"/tmp/graft_bench_join_lineitem_$runTag"

    def once(bucketed: Boolean): Double = {
      val (o, l) =
        if (bucketed) (spark.table("b_orders"), spark.table("b_lineitem"))
        else (spark.read.parquet(repOrdersPath), spark.read.parquet(repLineitemPath))
      // aged-heap hygiene (the bpe256/skew discipline): interleaving
      // handles slow drift, but a GC landing inside one variant's timed
      // region still skews a single round — collect before, not during
      System.gc()
      val t0 = System.nanoTime()
      joined(o, l).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }

    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      // a fresh in-memory catalog doesn't know last run's tables, so DROP
      // can't clear their leftover warehouse locations — saveAsTable then
      // fails with LOCATION_ALREADY_EXISTS; remove the dirs directly
      for (t <- Seq("b_orders", "b_lineitem")) {
        val p = new org.apache.hadoop.fs.Path(s"/tmp/graft_bench_warehouse/$t")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      // replicate with DISTINCT keys (k*rep + r) so the join fan-out per
      // key is unchanged — the join just has 8× the rows on both sides
      def replicate(df: org.apache.spark.sql.DataFrame, key: String) = df
        .crossJoin(spark.range(rep).select(col("id").as("__r")))
        .withColumn(key, col(key) * rep + col("__r"))
        .drop("__r")
      replicate(spark.read.parquet(s"$sfDir/orders.parquet"), "o_orderkey")
        .write.mode("overwrite").parquet(repOrdersPath)
      replicate(spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_orderkey")
        .write.mode("overwrite").parquet(repLineitemPath)
      graft.io.Writers.writeBucketed(
        spark.read.parquet(repOrdersPath), "b_orders", Seq("o_orderkey"), 32)
      graft.io.Writers.writeBucketed(
        spark.read.parquet(repLineitemPath), "b_lineitem", Seq("l_orderkey"), 32)
      // INTERLEAVED rounds (shuffled, bucketed, shuffled, bucketed, ...):
      // back-to-back min-of-3 per variant let slow JVM drift (GC pressure,
      // page-cache state after the 117-query sweep) land entirely on one
      // variant and flip the ordering between runs; alternating rounds
      // expose both variants to the same drift, so the per-variant min is
      // comparable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val rounds = (1 to 3).map(_ => (once(bucketed = false), once(bucketed = true)))
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq(
        "join_shuffled" -> rounds.map(_._1).min,
        "join_bucketed" -> rounds.map(_._2).min)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] bucketed demo failed: $e"); Seq.empty
    } finally {
      for (dir <- Seq(repOrdersPath, repLineitemPath)) {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        ()
      }
    }
  }

  /** 20M (x, y, payload) rows, box filter selecting 0.39% of the space
    * (256x256 of 4096^2, cell-aligned so the box is ONE contiguous
    * z-range). 256 files, each sorted, so row-group min/max stats are the
    * pruning grain: linear-by-x can only prune to the x-slice (~6%);
    * z-order prunes to the files whose z-range intersects the box (<1%).
    */
  private def benchZOrder(spark: SparkSession): Seq[(String, Double)] = {
    import org.apache.spark.sql.DataFrame
    val rows = spark.range(0, 20000000L, 1, 32).select(
      pmod(hash(col("id")), lit(4096)).as("x"),
      pmod(hash(col("id") + 987654321L), lit(4096)).as("y"),
      col("id").as("payload"))

    def box(df: DataFrame) = df
      .filter(col("x") >= 1024 && col("x") < 1280 && col("y") >= 2048 && col("y") < 2304)
      .agg(sum("payload"))

    def once(df: => DataFrame): Double = {
      System.gc() // aged-heap hygiene — see benchBucketed
      val t0 = System.nanoTime()
      box(df).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }

    val runTag = java.lang.ProcessHandle.current().pid().toString
    val linPath = s"/tmp/graft_bench_linear_$runTag"
    val zPath = s"/tmp/graft_bench_zorder_$runTag"
    try {
      rows.repartitionByRange(256, col("x")).sortWithinPartitions("x", "y")
        .write.mode("overwrite").parquet(linPath)
      graft.ops.ZOrder.writeZOrdered(rows, zPath, col("x"), col("y"), 256)
      // interleaved rounds — see benchBucketed for why
      val rounds = (1 to 3).map(_ => (once(spark.read.parquet(linPath)),
        once(spark.read.parquet(zPath))))
      Seq(
        "zorder_box_linear" -> rounds.map(_._1).min,
        "zorder_box_zorder" -> rounds.map(_._2).min)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] zorder demo failed: $e"); Seq.empty
    } finally {
      for (dir <- Seq(linPath, zPath)) {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        ()
      }
    }
  }

  /** A 256-merge BPE vocabulary training run, sequential (one merge per
    * driver round) vs batchedRounds=16 (per round, the longest
    * provably-commuting prefix of the ranked pair list — see
    * BpeTrainer.safeBatch for the proof). The learned merge tables are
    * asserted IDENTICAL (the q189 oracle checks the same at 8 merges);
    * what changes is the DRIVER ROUND count, i.e. the number of
    * sequential Spark jobs — the model-scale bottleneck a 32k-merge
    * production vocabulary hits (~65k sequential aggregates of pure
    * scheduling latency). Reported: wall seconds per variant plus the
    * actual round counts, so the artifact shows rounds (and wall time)
    * dropping ~an-order-of-magnitude at identical output.
    */
  private def benchBpeRounds(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    try {
      // documents.parquet has a 31-word vocabulary — it EXHAUSTS at ~90
      // merges and its pair rankings degenerate long before that, so it
      // can't exercise vocabulary-scale training. The micro instead
      // generates a zipf-distributed corpus (~3k distinct words, 10-char
      // words over the 16-letter md5 alphabet; frequencies ~1/k from the
      // floor(M/u) transform of a uniform hash) — like the zorder/skew
      // micros, the workload is synthetic because the thing measured
      // (driver rounds vs merge count at realistic vocabulary breadth)
      // needs a shape the test tables don't have. Deterministic: pure
      // hash arithmetic, no RNG.
      val docs = spark.range(0, 1000000L, 1, 32).select(
        translate(
          substring(md5(floor(lit(2000000.0)
            / (pmod(hash(col("id")), lit(2000000)) + 1)).cast("long").cast("string")), 1, 10),
          "0123456789", "ghijklmnop").as("text"))
      // every round's aggregates run over the VOCABULARY-sized word
      // table (~3k rows here) — 32 shuffle partitions would be nearly
      // empty tasks of pure scheduling; 8 is what a real trainer would
      // size for this table (restored after)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", 8)
      // aged-heap hygiene (the benchSkew discipline): this micro is the
      // board's scheduler-latency CONTROL row and runs late in a
      // full-registry JVM — isolated it reads ~50 s where the aged heap
      // read ~88 s; don't bill earlier demos' garbage to the control
      def run(batch: Int): (Double, graft.text.BpeTrainer.BpeModel) = {
        System.gc()
        val t0 = System.nanoTime()
        val m = graft.text.BpeTrainer.fit(spark, docs, merges = 256,
          batchedRounds = batch)
        ((System.nanoTime() - t0) / 1e9, m)
      }
      val (seqSec, seqModel) = try { run(1) }
      finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.shuffle.partitions", 8)
      val (batSec, batModel) = try { run(16) }
      finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      if (seqModel.merges != batModel.merges) {
        System.err.println("[bench] bpe round-batching CHANGED the merges — " +
          "semantics bug, suppressing the micro rows")
        Seq.empty
      } else {
        // ENCODE at vocabulary scale: the native BpeEncode expression
        // applies all 256 learned merges over the 1M-doc corpus as ONE
        // expression node (per-word cost independent of merge count).
        // The foldLeft-of-replaces this replaced is structurally absent
        // here on purpose: at 256 merges it is a 256-deep expression
        // tree — the exact wide-codegen OOM shape the native path
        // exists to avoid.
        val encT0 = System.nanoTime()
        docs.select(md5(graft.text.BpeEncoder.encode(col("text"),
            seqModel.merges.map { case (a, b, _) => (a, b) })).as("h"))
          .queryExecution.toRdd.count()
        val encSec = (System.nanoTime() - encT0) / 1e9
        Seq(
          "bpe256_seq" -> seqSec,
          "bpe256_batched" -> batSec,
          "bpe256_seq_rounds" -> seqModel.rounds.toDouble,
          "bpe256_batched_rounds" -> batModel.rounds.toDouble,
          "bpe256_encode" -> encSec)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] bpe rounds demo failed: $e"); Seq.empty
    }
  }

  private def benchSkew(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    // 60M generated rows, one key holding 50% (30M): sized so the hot
    // reducer's sort dominates every per-row overhead the mitigation adds
    // (round 3 taught the same lesson on the bucketed micro — too-small
    // workloads let host noise flip the ordering). A cheap codegen'd map
    // side keeps the measurement on the REDUCER, where skew actually hurts.
    // The payload is xxhash64-derived — INCOMPRESSIBLE on purpose: AQE's
    // skew detection reads COMPRESSED map-output sizes, and the previous
    // `id % 100` payload made the hot partition (constant key, cycling
    // value) compress ~10x better than the mixed partitions, hiding a
    // 32x row skew below the default 5x-median byte test. Real fact rows
    // don't compress their skew away; neither should the fixture.
    val skewed = spark.range(0, 60000000L, 1, 32).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % 997).as("k"),
      (xxhash64(col("id")) % 1000000).cast("double").as("v"))
    val dim = spark.range(0, 997).select(col("id").as("k"), (col("id") * 2).as("w"))

    def once(aqe: Boolean, salted: Boolean, saltFactor: Int): (Double, Double) = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      // sf0.1-sized partitions need lower AQE skew thresholds to trigger
      // the same split a 100-TB run gets with the defaults; force the
      // optimization past the downstream-agg distribution check too
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", aqe)
      // rebuild the frame per iteration: re-timing one Dataset would let
      // a later run reuse its shuffle files (skipped stages) and report
      // fiction
      val joined =
        if (salted) graft.ops.SkewJoin.saltedInnerJoin(skewed, dim, Seq("k"), saltFactor)
        else skewed.join(dim, Seq("k"))
      val agged = joined.agg(sum(col("v") * col("w")))
      // aged-heap hygiene: in a full-registry run this micro executes in a
      // long-lived JVM — don't bill earlier demos' garbage to this variant
      System.gc()
      val (_, tag) = QueryProfile.tagged(spark, "skew") {
        agged.queryExecution.toRdd.count()
      }
      val dt = tag.wallMs / 1e3
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
      spark.conf.set("spark.sql.adaptive.enabled", true)
      // max task duration: the STRAGGLER metric. Wall time on a 32-core
      // box understates skew (31 idle cores don't slow the clock much and
      // host noise swamps the signal); the serialized reducer shows up
      // directly as the longest task, and that task IS the job's critical
      // path on a real cluster where every core has queued work
      (dt, QueryProfile.read(spark, tag).taskMaxMs / 1e3)
    }

    // interleaved rounds — see benchBucketed for why
    try {
      // the salt is MEASURED, not guessed: adaptiveSaltFactor samples the
      // key distribution (keys-only job, outside the timed region — on a
      // real deployment the share estimate comes from ingest statistics)
      val factor = graft.ops.SkewJoin.adaptiveSaltFactor(
        skewed, Seq("k"), sampleFraction = 0.001)
      val rounds = (1 to 3).map { _ =>
        (once(aqe = false, salted = false, factor),
          once(aqe = false, salted = true, factor),
          once(aqe = true, salted = false, factor))
      }
      Seq(
        "skew_plain_join" -> rounds.map(_._1._1).min,
        "skew_salted_join" -> rounds.map(_._2._1).min,
        "skew_aqe_join" -> rounds.map(_._3._1).min,
        "skew_plain_max_task" -> rounds.map(_._1._2).min,
        "skew_salted_max_task" -> rounds.map(_._2._2).min,
        "skew_aqe_max_task" -> rounds.map(_._3._2).min,
        "skew_salt_factor" -> factor.toDouble)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] skew demo failed: $e"); Seq.empty
    }
  }

  /** The pure-sketch distinct-n path ([[graft.text.Eval.distinctNgramStatsApprox]],
    * 1% rsd): one gram explode, mergeable HLL partials, NO exact-distinct
    * shuffle — the recipe a 100-TB diversity report runs. On one box the
    * sketch does NOT beat exact q273 on wall time (the exact path's
    * map-side partial dedup is cheap CPU and local shuffle is
    * memory-speed; HLL register updates cost more per gram) — so the row
    * that tells the scale story here is EXCHANGE BYTES: the exact
    * distinct ships every deduplicated gram string across the shuffle,
    * the sketch ships fixed-size mergeable registers. Measured at sf1:
    * 93.7 MB vs 10.4 MB total shuffle write (and the sketch's 10 MB is
    * the shared ingest-spread of the documents, not gram keys). Both
    * axes board below: wall min-of-2 plus per-variant shuffle MB.
    */
  private def benchDistinctSketch(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      def run(df: => org.apache.spark.sql.DataFrame): (Double, Double) = {
        // aged-heap hygiene (the bpe256/skew discipline): this micro
        // runs late in the full-registry JVM; r15's committed board
        // read 36.3 s here against 2.86 s idle — don't bill earlier
        // demos' garbage (or a collection landing mid-region) to the
        // row that exists to look cheap
        System.gc()
        val (_, tag) = QueryProfile.tagged(spark, "distinct_ngrams") {
          df.queryExecution.toRdd.count()
        }
        val dt = tag.wallMs / 1e3
        (dt, QueryProfile.read(spark, tag).shuffleWriteBytes / 1e6)
      }
      val (_, exactMb) = run(
        graft.text.Eval.distinctNgramStats(docs, "source", "text", maxN = 3))
      val (t1, sketchMb) = run(
        graft.text.Eval.distinctNgramStatsApprox(docs, "source", "text", maxN = 3))
      val (t2, _) = run(
        graft.text.Eval.distinctNgramStatsApprox(docs, "source", "text", maxN = 3))
      Seq(
        "distinct_ngrams_sketch" -> math.min(t1, t2),
        "distinct_ngrams_sketch_shuffle_mb" -> sketchMb,
        "distinct_ngrams_exact_shuffle_mb" -> exactMb)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] sketch distinct-n micro failed: $e"); Seq.empty
    }

  /** Parquet codec trade-off on the fact table: write cost, on-disk
    * bytes, full-width scan cost for snappy (Spark's default), zstd
    * (the modern footprint/speed sweet spot — same frames the shuffle
    * codec and the TIFF tag-50000 path use), and gzip (the legacy
    * archival choice). At 100 TB the bytes column IS the storage bill
    * and the scan column IS every later query's floor, so this is the
    * one knob worth a standing measurement. The scan forces every
    * column through xxhash64(struct(*)) — a bare count would let the
    * reader skip the data pages entirely and measure footers. Timings
    * are min-of-2 interleaved rounds (see benchBucketed); bytes are
    * deterministic and reported from round 1 in MB.
    */
  private def benchCodec(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    try {
      val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val root = java.nio.file.Files.createTempDirectory("graft_codec").toString
      val codecs = Seq("snappy", "zstd", "gzip")
      val samples = scala.collection.mutable.Map[String, List[Double]]()
      def record(k: String, v: Double): Unit =
        samples(k) = v :: samples.getOrElse(k, Nil)
      for (round <- 1 to 2; c <- codecs) {
        val path = s"$root/${c}_$round"
        val t0 = System.nanoTime()
        base.write.option("compression", c).mode("overwrite").parquet(path)
        record(s"codec_${c}_write", (System.nanoTime() - t0) / 1e9)
        if (round == 1) {
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
          val bytes =
            try walk.filter(p => p.toString.endsWith(".parquet"))
              .mapToLong(p => java.nio.file.Files.size(p)).sum()
            finally walk.close()
          record(s"codec_${c}_mb", bytes / 1e6)
        }
        val t1 = System.nanoTime()
        spark.read.parquet(path)
          .select(xxhash64(struct(col("*"))).as("h"))
          // decimal sum: a long sum of full-range hashes overflows ANSI
          .agg(sum(col("h").cast("decimal(38,0)"))).queryExecution.toRdd.count()
        record(s"codec_${c}_scan", (System.nanoTime() - t1) / 1e9)
      }
      // best-effort cleanup: the replicas are ~30 MB of /tmp
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: Throwable => () }
      samples.toSeq.map { case (k, vs) => k -> vs.min }.sortBy(_._1)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] codec demo failed: $e"); Seq.empty
    }
  }
}
