package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate the seeded inputs, set the workload up
  * several times on a fresh session, run its closed loop for the given
  * seconds, check every operation, and print the metrics. The last line of
  * standard output is the JSON result.
  *
  * There is no untimed warm-up: one warm-up cycle costs as much as two
  * timed ones, and the run budget (every run of every workload within the
  * benchmark's time limit) has no room for it. So the first timed cycle is
  * the first after engine start and includes code generation and JIT
  * warm-up, which every restart of the engine pays.
  *
  * Untraced runs report the end-to-end metrics; traced runs (`--trace 1`)
  * attach the listeners, record a span around every call into the engine
  * and report the per-layer metrics instead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: Path, out: Path, gitSha: String)

  /** Set-ups per run, and how many of the first ones `setup_s` leaves out;
    * it is the median of the rest. One set-up takes about 0.1 s on a warm
    * JVM, so a few samples are dominated by scheduling noise; and over the
    * first twenty or so the JIT is still compiling session start-up, so
    * their times step down part-way and a median over them flips between
    * the two levels.
    */
  val Setups = 61
  val WarmSetups = 20

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")), Paths.get(need("out")), need("git-sha"))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def load1(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(" ")(0).toDouble).getOrElse(-1.0)

  /** Metric name → (value, unit), in report order. */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadBefore = load1()
    Files.createDirectories(a.out)

    // ---- inputs (reported apart from set-up) ----
    val g0 = System.nanoTime()
    val (w, digests, genProblems) = a.workload match {
      case "healthflow_refresh" =>
        val in = Gen.healthflow(a.seed)
        Gen.writeFiles(in, a.work.resolve("inputs"))
        (new Refresh(in, a.work), in.digests,
          Gen.selfCheck(a.seed, in.digests, s => Gen.healthflow(s).digests))
      case "curation_chain" =>
        val docs = Gen.corpus(a.seed)
        val c = new CurationChain(docs, a.work, a.out)
        val s0 = graft.GraftSession.create(s"local[${a.cores}]")
        c.writeCorpus(s0)
        s0.stop()
        val d = Gen.corpusDigest(docs)
        (c, d, Gen.selfCheck(a.seed, d, s => Gen.corpusDigest(Gen.corpus(s))))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val genS = (System.nanoTime() - g0) / 1e9

    // ---- set-up, several times, each on a fresh session ----
    var spark: SparkSession = null
    val setupS = (0 until Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.create(s"local[${a.cores}]")
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val ops = new Ops
    ops.check("generator.self_check", genProblems)

    // ---- the timed closed loop ----
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val sp: Spans = tracer.getOrElse(Spans.Off)
    val s = new Samples
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var cycles = 0
    while ((cycles == 0 || System.nanoTime() < deadline) && ops.failed < 4) {
      sp.nextOp()
      cycles += 1
      ops.guard(s"cycle $cycles")(w.cycle(spark, sp, s, ops))
    }
    tracer.foreach(_.detach())
    ops.guard("final checks")(w.finish(spark, s, ops))
    val rss = peakRssMb()

    // ---- report ----
    val cycleS = s.cycleNs.map(_ / 1e9).toSeq
    val requestMs = s.requestNs.map(_ / 1e6).toSeq
    val e2e = new Metrics
    val setupMedian = median(setupS.drop(WarmSetups))
    e2e("setup_s") = (setupMedian, "s")
    e2e("cycle_s") = (median(cycleS), "s")

    val named = mutable.ArrayBuffer[String]()
    def line(name: String, v: Double, unit: String, note: String = ""): Unit =
      named += f"$name%-18s $v%-20s $unit%-6s $note"
    line("setup_s", setupMedian, "s", s"median of set-ups ${WarmSetups + 1} to ${setupS.size}: " +
      setupS.map(x => f"$x%.2f").mkString(", "))
    line("gen_s", genS, "s", "input generation and self-check (not in setup_s)")
    val unitName = if (a.workload == "curation_chain") "curation_s" else "refresh_s"
    line(unitName, median(cycleS), "s", s"median of ${cycleS.size} timed cycles")
    line("cycle_s", median(cycleS), "s", s"the same, under its workload-neutral name")
    if (requestMs.nonEmpty) {
      val p90 = quantile(requestMs, 0.9)
      line("dashboard_p50_ms", median(requestMs), "ms", s"${requestMs.size} requests")
      line("dashboard_p90_ms", p90, "ms",
        s"${requestMs.size} requests, ${requestMs.count(_ > p90)} beyond")
    }
    line("peak_rss_mb", rss, "MB", "VmHWM of the process")
    line("ops_attempted", ops.attempted.toDouble, "count",
      "input self-check, table commits, requests, chain runs and output checks")
    line("ops_failed_ratio", if (ops.attempted == 0) 0.0 else ops.failed.toDouble / ops.attempted,
      "ratio", s"of ops_attempted (${ops.failed} failed)")

    val layer = tracer.map { t =>
      val m = Layers.metrics(t, s, w, a.cores)
      m("peak_rss_mb") = (rss, "MB")
      m("gen_s") = (genS, "s")
      m
    }.getOrElse(new Metrics)
    tracer.foreach { t =>
      val txt = Layers.selfTimeTable(t)
      Files.write(a.out.resolve("trace_report.txt"), txt.getBytes(UTF_8))
      Files.write(a.out.resolve("spans.json"), Layers.spansJson(t).getBytes(UTF_8))
      println(txt)
    }

    println(s"workload ${a.workload}  seed ${a.seed}  seconds ${a.seconds}  " +
      s"trace ${if (a.trace) 1 else 0}  cycles $cycles")
    named.foreach(println)
    ops.failures.take(20).foreach(f => println(s"FAILED $f"))

    val conf = spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1)
    val provenance = ListMap(
      "seed" -> a.seed, "workload" -> a.workload, "trace" -> (if (a.trace) 1 else 0),
      "seconds" -> a.seconds, "nproc" -> a.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "load1_before" -> loadBefore, "git_sha" -> a.gitSha,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "gen_s" -> genS, "setup_samples_s" -> setupS, "cycles" -> cycles,
      "failures" -> ops.failures.toSeq,
      "input_sha256" -> ListMap(digests.toSeq.sorted: _*),
      "session_conf" -> ListMap(conf: _*))
    Files.write(a.out.resolve("provenance.json"), Json.pretty(provenance).getBytes(UTF_8))
    println(s"provenance: nproc ${a.cores}, heap ${Runtime.getRuntime.maxMemory >> 20} MB, " +
      s"load1 $loadBefore, git ${a.gitSha}, spark ${spark.version} " +
      s"(full record with session conf: ${a.out.resolve("provenance.json")})")
    spark.stop()

    val metrics = if (a.trace) layer else e2e
    // a metric that could not be measured fails the run rather than reading 0
    metrics.foreach { case (k, (v, _)) =>
      if (v.isNaN || v.isInfinite) ops.check(s"metric $k", Seq(s"not finite: $v"))
    }
    println(Json(ListMap("correct" -> (ops.failed == 0), "attempted" -> math.max(1L, ops.attempted),
      "failed" -> ops.failed, "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u) }: _*))))
  }
}
