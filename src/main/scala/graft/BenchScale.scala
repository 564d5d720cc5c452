package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof bench (round-15 directive #1): measures the ~30 headline
  * rows at sf0.1 AND at a deterministically generated 10× replica ("sf1"),
  * writing `BENCH_sf1.json` with per-query times at both scales and the
  * sf1/sf0.1 ratio — converting the "this plan survives 100×" argument
  * from plan-shape audit into a measured scaling curve. Linear work
  * should ratio ≈ 10 or below (fixed costs amortize); anything
  * meaningfully ABOVE 10 is a super-linear operator and a bug in the
  * scale story.
  *
  * sf1 generation replicates sf0.1 ×10 with FK-preserving key transforms
  * (`k → k*10 + r`, applied consistently on both sides of every join
  * key), so per-key join fan-outs and group sizes match the original and
  * only the ROW COUNT grows — the TPC-H scaling shape. Two content
  * transforms keep derived workloads honest at scale:
  *   - `documents.text` rotates its alphabet per replica (a per-replica
  *     `translate`), so the 10 copies of a document are NOT near-dups of
  *     each other: MinHash/SimHash/shingle candidate sets grow linearly
  *     (each replica contains its own planted dup pairs), not
  *     quadratically (10-deep exact-copy LSH buckets would manufacture
  *     ~100× candidate pairs no real 10× corpus has).
  *   - `embeddings.embedding` shifts every component by `0.37·r` so
  *     replica vectors are distinct points, not 10-deep identical stacks,
  *     for the same candidate-set reason.
  * Dimension tables `region`/`nation` copy unchanged (fixed at every
  * TPC-H scale). Deterministic end to end: no RNG, rerunning regenerates
  * byte-identical tables.
  */
object BenchScale {

  /** Replication factor — env-overridable (SPARK_GRAFT_REP=100 gives the
    * second scaling point, a two-decade curve sf0.1 → ×10 → ×100).
    */
  private val Rep = sys.env.getOrElse("SPARK_GRAFT_REP", "10").toInt

  /** Interleaved full passes per (query, scale) — min over passes is the
    * boarded number. Default 2 (the Bench transient-stall discipline);
    * VERDICT r16 #6 boards the heaviest ×100 rows at 3 so the most-quoted
    * numbers aren't two-sample measurements.
    */
  private val Passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt

  /** Headline subset: every workload family with one-to-few
    * representative rows (the round-14 verdict's list, plus the eval and
    * ANN families). Micros (skew/zorder/bucket) are EXCLUDED: they
    * synthesize fixed-size inputs and don't scale with sfDir.
    */
  private val headline = Seq(
    // TPC-H-ish scan/join/agg
    "q01_pricing_summary", "q02_filtered_scan", "q15_revenue_by_nation",
    "q109_custdist", "q113_top_supplier",
    // health flagship (the reference's core analytics)
    "q50_yearly_slide_status", "q51_gender_positivity",
    "q52_monthly_positivity", "q53_village_positivity",
    "q54_total_summary", "q55_lab_transform_e2e",
    // weather join + fill ladder
    "q16_full_outer_merge", "q17_fill_ladder",
    // geo
    "q45_zonal_stats",
    // dedup family
    "q31_dedup_exact", "q35_minhash_lsh", "q39_dedup_keeplist",
    "q116_chunk_dedup",
    // similarity / ANN
    "q40_cosine_topk", "q41_lsh_ann", "q112_ivf_multiprobe",
    "q154_ann_index_query", "q155_ann_batch_query",
    // text analysis / eval
    "q32_token_counts", "q48_langid_confusion", "q118_bm25",
    "q273_distinct_ngrams", "q279_distinct_ngrams_approx",
    "q258_bleu_stats", "q280_chrf_stats", "q284_wer_stats",
    // curation chain + packing
    "q103_decontaminate", "q191_ccnet_pipeline", "q142_training_order",
    "q229_bfd_pack",
    // graph (VERDICT r15 #1: previously plan-audit-only) — q264 extracts
    // edges from synthesized HTML then ranks; q241 mode-votes labels along
    // chain+hub edges; q260 pointer-jumps redirect chains. All three edge
    // sets derive from the key-scaled documents, so edges grow linearly
    // with the replication (dst fan-in grows where the synthesis pins a
    // fixed universe — more in-links per popular node, not new nodes,
    // which only DENSIFIES the per-node aggregates pagerank sums over)
    "q264_web_pagerank", "q241_label_propagation", "q260_redirect_resolution",
    // inverted index lifecycle — q214 searches the shared per-dir index
    // (built outside the timings as text_index_build); q215/q216 build,
    // merge/forget and compact PRIVATE segments inside the timed region
    // by design (incremental-ingest cost IS the operator)
    "q214_inverted_index_query", "q215_inverted_index_merge",
    "q216_inverted_index_forget",
    // tokenizer training — per-replica alphabet rotation grows the word
    // table ~linearly, the axis trainer cost actually scales on
    "q189_bpe_train_batched", "q282_unigram_viterbi",
    // multimodal decode — assets synthesize per document row; decode is
    // partition-local, payloads never cross an exchange
    "q130_image_decode", "q128_wav_decode",
    // ANN served-artifact lifecycle (VERDICT r15 #6: build/query had
    // scaling points, forget/rebuild did not)
    "q208_ann_index_forget", "q182_index_rebuild_swap",
    // events / streaming batch-half — the last family without a point:
    // user_id/event_id key-scale like every FK, so per-user session and
    // funnel sizes are unchanged and only the row count grows
    "q96_stream_dedup", "q114_session_window", "q123_event_funnel")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      if (Rep == 10) "/tmp/graft_sf1" else s"/tmp/graft_rep$Rep")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1.json")
    // optional trim for the expensive high-rep run
    val subset = sys.env.get("SPARK_GRAFT_SCALE_SUBSET")
      .map(_.split(",").map(_.trim).toSet)
    val boarded = subset.fold(headline)(sel => headline.filter(sel))
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", "/tmp/graft_bench_warehouse")
      .config("spark.rpc.askTimeout", "600s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the marker RECORDS (rep, src): a rerun with a different replication
    // factor or source against the same dst must regenerate, not silently
    // board stale data under a freshly-stamped "rep" value
    val marker = java.nio.file.Paths.get(s"$dst/_generated_ok")
    val stamp = s"$Rep $src"
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == stamp
    if (!fresh) {
      System.err.println(s"[bench-sf1] generating $dst from $src (x$Rep)")
      generate(spark, src, dst)
      java.nio.file.Files.write(marker, stamp.getBytes("UTF-8"))
      ()
    }

    // warmup (JIT + classload) on the small scale, outside every timing
    SparkEntry.queries("q01_pricing_summary")(spark, src).queryExecution.toRdd.count()

    // the ANN family searches a shared persisted index per sfDir; build
    // both outside the query timings, reported as their own rows (the
    // Bench ann_index_build discipline). Builds are GATED on the boarded
    // subset actually containing a consumer — a x100 trim that excludes
    // the index families must not pay minutes of index build for rows
    // nobody reads (q208/q182/q215/q216 build PRIVATE indexes inside
    // their own timed regions and need no shared artifact).
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val annUsers = Set("q154_ann_index_query", "q155_ann_batch_query")
    val textUsers = Set("q214_inverted_index_query")
    val annBuild: Option[(Double, Double)] =
      if (boarded.exists(annUsers)) Some((
        timed(graft.queries.SimilarityQueries.ensureIndex(spark, src)),
        timed(graft.queries.SimilarityQueries.ensureIndex(spark, dst))))
      else None
    val textBuild: Option[(Double, Double)] =
      if (boarded.exists(textUsers)) Some((
        timed(graft.queries.CurationQueries.ensureTextIndex(spark, src)),
        timed(graft.queries.CurationQueries.ensureTextIndex(spark, dst))))
      else None

    // min-of-2 via two full interleaved passes per scale (Bench's
    // transient-stall discipline); a failed query reports in "errors"
    val errors = scala.collection.mutable.ListBuffer[String]()
    val samples = scala.collection.mutable.Map[(String, String), List[Double]]()
    for (_ <- 1 to Passes; name <- boarded; dir <- Seq(src, dst);
         fn <- SparkEntry.queries.get(name)) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).queryExecution.toRdd.count()
        samples((name, dir)) =
          ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse((name, dir), Nil)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench-sf1] $name @ $dir failed: $e")
      }
    }
    val rows = boarded.flatMap { name =>
      (samples.get((name, src)), samples.get((name, dst))) match {
        case (Some(a), Some(b)) if a.nonEmpty && b.nonEmpty =>
          Some((name, a.min, b.min))
        case _ => errors += name; None
      }
    }
    val buildRows =
      annBuild.map { case (a, b) =>
        f""""ann_index_build":{"sf01":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}""" }.toSeq ++
      textBuild.map { case (a, b) =>
        f""""text_index_build":{"sf01":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}""" }.toSeq
    val qs = (rows.map { case (n, a, b) =>
        f""""$n":{"sf01":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}"""
      } ++ buildRows)
      .mkString("{", ",", "}")
    val ratios = rows.map { case (_, a, b) => b / a }.sorted
    val median = if (ratios.isEmpty) 0.0 else ratios(ratios.size / 2)
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // provenance (the Bench discipline): load1 is read at the END here —
    // the generation step at the start makes the entry load unrepresentative
    val load1 = try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val line =
      f"""{"metric":"sf1_scaling","rep":$Rep,"passes":$Passes,"load1_after":$load1%.2f,"sf01_total":${rows.map(_._2).sum}%.3f,"sf1_total":${rows.map(_._3).sum}%.3f,"median_ratio":$median%.2f,"queries":$qs,"errors":$errs}"""
    spark.stop()
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // printed once: unlike Bench (whose driver tails stdout and needs the
    // straddle-proof double print), this main's authority is the file
    println(line)
    System.out.flush()
  }

  private def generate(spark: SparkSession, src: String, dst: String): Unit = {
    val repDf = spark.range(Rep).select(col("id").as("__r"))
    def write(name: String)(f: DataFrame => DataFrame): Unit =
      f(spark.read.parquet(s"$src/$name.parquet").crossJoin(broadcast(repDf)))
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def scaleKey(c: String): Column = col(c) * Rep + col("__r")

    // fixed dimensions: identical at every TPC-H scale
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    write("customer")(_.withColumn("c_custkey", scaleKey("c_custkey")))
    write("supplier")(_.withColumn("s_suppkey", scaleKey("s_suppkey")))
    write("part")(_.withColumn("p_partkey", scaleKey("p_partkey")))
    // both sides of every FK transform identically, preserving fan-outs
    write("orders")(_
      .withColumn("o_orderkey", scaleKey("o_orderkey"))
      .withColumn("o_custkey", scaleKey("o_custkey")))
    write("lineitem")(_
      .withColumn("l_orderkey", scaleKey("l_orderkey"))
      .withColumn("l_partkey", scaleKey("l_partkey"))
      .withColumn("l_suppkey", scaleKey("l_suppkey")))
    write("events")(_
      .withColumn("event_id", scaleKey("event_id"))
      .withColumn("user_id", scaleKey("user_id")))
    // per-replica alphabet rotation: replicas are distinct documents of
    // identical statistical shape (lengths, token boundaries, scripts),
    // so shingle/minhash candidate growth stays LINEAR — see class doc
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // mod-25 offset, never identity for r>0: at Rep>26 rotations recur
    // (replicas k and k+25 are exact copies — bounded 4-deep at Rep=100,
    // a mildly DENSER candidate set, i.e. conservative for scaling)
    def rot(k: Int) = { val o = k % 25 + 1; alpha.drop(o) + alpha.take(o) }
    val rotated = (1 until Rep).foldLeft(
        when(col("__r") === 0, col("text"))) { (acc, k) =>
      acc.when(col("__r") === k,
        translate(col("text"), alpha + alpha.toUpperCase, rot(k) + rot(k).toUpperCase))
    }.otherwise(col("text"))
    write("documents")(_
      .withColumn("doc_id", scaleKey("doc_id"))
      .withColumn("text", rotated))
    write("embeddings")(_
      .withColumn("vec_id", scaleKey("vec_id"))
      .withColumn("embedding",
        transform(col("embedding"), x => x + col("__r").cast("float") * lit(0.37f))))
  }
}
