package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Plan-shape regression guards for the scale-sensitive queries: the
  * correctness gate proves the VALUES; these prove the PLAN stays the one
  * that survives a 100-TB scale-up (no unbounded aggregation buffers, no
  * avoidable exchanges, no interpreted lambdas in hot paths).
  */
class PlanShapeSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    planText(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)

  test("q43 label centroids aggregates with constant-size state (no collect_list)") {
    val plan = physicalPlan("q43_label_centroids")
    assert(!plan.contains("collect_list"), "per-group list buffer is a scale-killer")
    assert(!plan.contains("sort_array"))
    assert(plan.contains("HashAggregate"), "expected partial+final hash aggregation")
  }

  test("q77 IVF cell assignment is row-local (no window exchange, no cross join)") {
    val plan = physicalPlan("q77_ivf_ann")
    assert(!plan.contains("Window"), "argmax must not go through a window")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("vecargmaxcell"), "expected the native argmax expression")
  }

  test("q41/q42 sign buckets are codegen'd when-chains (no interpreted HOF lambda)") {
    for (q <- Seq("q41_lsh_ann", "q42_embedding_neardup")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("aggregate("), s"$q: interpreted lambda in bucket path")
      assert(!plan.contains("lambdafunction"), s"$q: interpreted lambda in bucket path")
    }
  }

  test("q35/q36 sketch expressions are not re-evaluated by pushdown or project collapse") {
    // a pushed-down isNotNull(sig) filter or band keys built straight over
    // the sketch column would duplicate the full per-doc hash pass
    val p35 = physicalPlan("q35_minhash_lsh")
    assert(!p35.contains("isnotnull(minhashsig"), "sig-null filter was pushed below the projection")
    val p36 = physicalPlan("q36_simhash")
    assert("simhash60\\(".r.findAllIn(p36).length <= 12,
      "simhash inlined into band expressions (CollapseProject regression)")
  }

  test("q35 broadcast exchanges carry only narrow pair ids (never document text)") {
    // the verify stage must broadcast the (doc_a, doc_b) candidate set,
    // not any frame carrying text: pair COUNT is data-dependent, but a
    // text-free broadcast degrades gracefully where a wide one OOMs
    val plan = SparkEntry.queries("q35_minhash_lsh")(spark, dir)
      .queryExecution.executedPlan
    val broadcasts = collect(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.nonEmpty, "expected broadcast pair joins in the verify stage")
    for (b <- broadcasts; a <- b.output)
      assert(!a.name.toLowerCase.contains("text"),
        s"document text column '${a.name}' inside a broadcast exchange")
  }

  test("q103 decontamination joins corpus grams against a BROADCAST bench set") {
    // the corpus side must stream map-side into the broadcast join — a
    // shuffle of every corpus 8-gram would be an exchange proportional to
    // total token count
    val plan = SparkEntry.queries("q103_decontaminate")(spark, dir)
      .queryExecution.executedPlan
    val bhj = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "expected a broadcast hash join for the gram match")
    val smj = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "corpus grams must not shuffle into a merge join")
  }

  test("one-pass queries scan their base table exactly once") {
    // q104 derives n_tokens from the same gram aggregation (no second
    // text scan); q111's two-level partial merge is one lineitem read;
    // q108 is the pure pushdown probe
    for (q <- Seq("q104_repetition_filter", "q111_partial_merge", "q108_forecast_revenue")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val scans = collect(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1, s"$q: expected a single file scan, got ${scans.size}")
    }
  }

  test("no query plans a CartesianProduct (unbroadcast cross joins are scale bombs)") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = planText(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q20/q39 accounting is one declarative plan (no driver-side multi-action counts)") {
    // a single aggregate over an outer join — materializes through one job
    for (q <- Seq("q20_upsert_counts", "q39_dedup_keeplist")) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(planText(df.queryExecution.executedPlan).contains("HashAggregate"))
      assert(df.count() == 1)
    }
  }

  test("q142 training-order report has NO window at all (tiled layout + boundary stitch)") {
    // the registry's last deliberate single-partition window is retired:
    // the verdict columns come from a partition-local run-length encode
    // over writeTrainingOrder's range-tiled files, stitched through an
    // O(partitions) boundary table — a global row_number would funnel
    // the corpus through one task at 100 TB
    val plan = SparkEntry.queries("q142_training_order")(spark, dir)
      .queryExecution.executedPlan
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"q142 must not use any window: ${windows.map(_.partitionSpec)}")
  }

  test("q116 chunk dedup: no hot-key window, only hashes shuffle") {
    val plan = SparkEntry.queries("q116_chunk_dedup")(spark, dir)
      .queryExecution.executedPlan
    // r10 contract: global multiplicity is the two-level aggregate, so
    // NO window partitions on the chunk hash — a boilerplate chunk
    // repeated across billions of docs would funnel through one
    // unsplittable window task. The totals branch may cost a second
    // text scan when Catalyst doesn't reuse the grain exchange (the
    // deliberate, embarrassingly-parallel trade) — bounded at two.
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"multiplicity must not go through a window: ${windows.map(_.partitionSpec)}")
    val textScans = planText(plan).linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("text#"))
    assert(textScans <= 2, s"expected at most two text-reading scans, got $textScans")
    val shuffles = collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    for (e <- shuffles; a <- e.output)
      assert(!a.name.toLowerCase.contains("text") && a.name != "chunk",
        s"wide column '${a.name}' in a shuffle exchange")
  }

  test("q118 BM25 never shuffles or broadcasts text; df and stats broadcast") {
    val plan = SparkEntry.queries("q118_bm25")(spark, dir)
      .queryExecution.executedPlan
    val shuffles = collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    for (e <- shuffles; a <- e.output)
      assert(!a.name.toLowerCase.contains("text"),
        s"document text column '${a.name}' in a shuffle exchange")
    val broadcasts = collect(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.nonEmpty, "df + corpus stats should be broadcast")
    for (b <- broadcasts; a <- b.output)
      assert(!a.name.toLowerCase.contains("text"),
        s"document text column '${a.name}' in a broadcast exchange")
  }

  test("q119/q120 stratified window inputs are narrow (no text through an exchange)") {
    for (q <- Seq("q119_stratified_sample", "q120_shard_pack")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      assert(planText(plan).contains("Window"), s"$q: expected a window")
      val shuffles = collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      for (e <- shuffles; a <- e.output)
        assert(!a.name.toLowerCase.contains("text"),
          s"$q: text column '${a.name}' in a shuffle exchange")
    }
  }

  test("q121 SemDeDup assignment is row-local (native argmax, no window)") {
    val plan = physicalPlan("q121_semdedup")
    assert(plan.contains("vecargmaxcell"), "expected the native argmax expression")
    assert(!plan.contains("Window"), "cell assignment must not go through a window")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q132 IVF x PQ prunes probe cells BEFORE the ADC scan") {
    val plan = SparkEntry.queries("q132_ivf_pq")(spark, dir)
      .queryExecution.executedPlan
    // the probe filter must be a broadcast join (2 narrow q_cell rows),
    // never a shuffle of the indexed corpus
    val bhj = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.exists(_.leftKeys.exists(_.toString.contains("cell"))),
      "expected a broadcast probe join on the cell id")
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "indexed corpus must not shuffle into a merge join")
    // the ADC table lookups live ABOVE the probe join in the plan tree —
    // i.e. only probed residents pay the element_at scan
    val s = planText(plan)
    val adcAt = s.indexOf("element_at")
    val joinAt = s.indexOf("BroadcastHashJoin")
    assert(adcAt >= 0 && joinAt >= 0 && adcAt < joinAt,
      "ADC projection must sit above (after) the probe-cell join")
    assert(!s.contains("Window"), "cell assignment must not go through a window")
  }

  test("q148 trained IVF x PQ keeps q132's plan: probe prune BEFORE the ADC scan") {
    // training is index-build-time driver work; the QUERY plan must be
    // identical in shape to the heuristic-codebook composition
    val plan = SparkEntry.queries("q148_ivf_pq_trained")(spark, dir)
      .queryExecution.executedPlan
    val bhj = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.exists(_.leftKeys.exists(_.toString.contains("cell"))),
      "expected a broadcast probe join on the trained cell id")
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "indexed corpus must not shuffle into a merge join")
    val s = planText(plan)
    val adcAt = s.indexOf("element_at")
    val joinAt = s.indexOf("BroadcastHashJoin")
    assert(adcAt >= 0 && joinAt >= 0 && adcAt < joinAt,
      "ADC projection must sit above (after) the probe-cell join")
    assert(!s.contains("Window"), "trained cell assignment must not go through a window")
  }

  test("q136 subword tokenization is one pass: no explode, no text in exchanges") {
    val plan = SparkEntry.queries("q136_subword_tokenize")(spark, dir)
      .queryExecution.executedPlan
    assert(!planText(plan).contains("Generate"),
      "segmentation must not explode per-token rows")
    val scans = collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected a single documents scan, got ${scans.size}")
    for (e <- collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }; a <- e.output)
      assert(!a.name.toLowerCase.contains("text") && a.name != "joined",
        s"wide column '${a.name}' in a shuffle exchange")
  }

  test("q140 visual near-dup joins narrow features; payloads never shuffle") {
    val plan = SparkEntry.queries("q140_visual_neardup")(spark, dir)
      .queryExecution.executedPlan
    val exchanges = collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.output
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b.output
    }
    for (out <- exchanges; a <- out)
      assert(!a.name.toLowerCase.contains("payload"),
        s"image payload column '${a.name}' in an exchange")
    assert(!planText(plan).contains("CartesianProduct"))
  }

  test("q140 blocks on the dHash band key, not dims alone (fixed-size-corpus safety)") {
    // a dims-only blocking key degenerates to one all-pairs block on a
    // standardized-thumbnail corpus; the equi-join keys must include the
    // perceptual band so candidates stay bounded at any dims distribution
    val plan = SparkEntry.queries("q140_visual_neardup")(spark, dir)
      .queryExecution.executedPlan
    val joinKeys = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
    }.flatten.map(_.toString.toLowerCase)
    assert(joinKeys.exists(_.contains("band_val")),
      s"pair join must key on the dHash band value; keys were: $joinKeys")
    assert(joinKeys.exists(_.contains("band_idx")),
      s"pair join must key on the band index; keys were: $joinKeys")
  }

  test("visual/video pair joins carry the luma-bucket prune in the equi-key") {
    // LSH banding degenerates on brightness-gradient corpora (every dHash
    // comparison bit identical), collapsing all same-dims assets into one
    // block — the box-0 luma bucket is the exact necessary condition that
    // re-spreads candidates BEFORE the 16-box verify (r18; a dropped
    // bucket key silently reverts the candidate fan to quadratic)
    for (q <- Seq("q140_visual_neardup", "q194_video_neardup",
        "q196_video_ingest_verdicts", "q156_visual_ingest_verdicts")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val joinKeys = collect(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
      }.flatten.map(_.toString.toLowerCase)
      assert(joinKeys.exists(_.contains("bq_probe")),
        s"$q: pair join must key on the luma-bucket probe; keys were: $joinKeys")
    }
  }

  test("q143 temperature mix joins the corpus only against broadcast mix rows") {
    // the #sources-row mix table must broadcast into the doc-level repeat
    // pass — a shuffle join there would exchange the whole corpus to
    // co-locate against 20 rows; text must never enter the plan at all
    val plan = SparkEntry.queries("q143_temperature_mix")(spark, dir)
      .queryExecution.executedPlan
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, "expected broadcast joins for the mix/total tables")
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.forall(j => j.output.forall(a => !a.name.toLowerCase.contains("doc_id"))),
      "doc-level rows must not shuffle into a merge join")
    assert(!planText(plan).contains("text#"), "text column read by a mix-only query")
  }

  test("q144 exact re-rank fetches floats through a pushed In() point lookup") {
    // stage 2 must not be a second corpus pass: the 30 shortlist ids are
    // pushed to the parquet scan, so row-group stats prune the float fetch
    val plan = SparkEntry.queries("q144_adc_rerank")(spark, dir)
      .queryExecution.executedPlan
    val scans = collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("In(vec_id"))),
      "shortlist ids were not pushed down to the embeddings scan")
    assert(collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "re-rank must join broadcast shortlist rows, not shuffle")
  }

  test("q122 incremental dedup broadcasts only narrow pair ids (never text)") {
    val plan = SparkEntry.queries("q122_incremental_neardup")(spark, dir)
      .queryExecution.executedPlan
    val broadcasts = collect(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.nonEmpty, "expected broadcast pair joins in the verify stage")
    for (b <- broadcasts; a <- b.output)
      assert(!a.name.toLowerCase.contains("text"),
        s"document text column '${a.name}' inside a broadcast exchange")
  }

  test("q163 bloom prefilter: grams hash to longs before any exchange") {
    // The scale contract: corpus grams are md5-hashed to 60-bit longs in
    // the scan stage and the 8 KiB bitset is a broadcast-able literal, so
    // no exchange ever carries gram or document text — only ids, hashes,
    // and counts. (The exact-verify join input is the bloom-positive
    // survivor set, already narrow.) Inspected through the lazy core:
    // the public entry point checkpoints the tiny report to release its
    // cache, which collapses the executedPlan to a block scan.
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val toks = split(trim(col("text")), "\\s+")
    val bench = d.filter(col("doc_id") % 50 === 0)
      .select(array_join(
        slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("btext"))
    val (report, flagged) = graft.curation.Curation.bloomDecontaminateLazy(
      d, bench, benchTextCol = "btext")
    try {
      val plan = report.queryExecution.executedPlan
      val exchanges = collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, "expected dedup/report exchanges")
      for (e <- exchanges; a <- e.output)
        assert(!Seq("gram", "text", "btext").contains(a.name.toLowerCase),
          s"corpus text column '${a.name}' reached an exchange")
      assert(!planText(plan).contains("CartesianProduct"))
    } finally flagged.unpersist()
  }

  test("q166 pipeline chains four stages with text on the base scan side only") {
    // every stage filter is an id left-semi back onto the corpus, so no
    // exchange anywhere in the chained plan may carry the text column
    val plan = SparkEntry.queries("q166_curation_e2e")(spark, dir)
      .queryExecution.executedPlan
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output)
      assert(!a.name.toLowerCase.contains("text"),
        s"document text column '${a.name}' reached an exchange")
    assert(!planText(plan).contains("CartesianProduct"))
  }

  test("q191 CCNet chain: text scan-side only, no corpus-sized window") {
    // the full composed pipeline (span removal -> funnel -> decon ->
    // terciles -> budget -> pack): every stage is id algebra over narrow
    // frames computed scan-side from the one cached cleaned corpus, so
    // no exchange may carry document text, and every window must run at
    // md5-bucket grain (the cumsum), histogram grain (terciles), or a
    // narrow hash-multiplicity grain — never partitioned by a
    // corpus-sized text/id-order key alone
    val plan = SparkEntry.queries("q191_ccnet_pipeline")(spark, dir)
      .queryExecution.executedPlan
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output)
      assert(!Seq("text", "ctext", "clean_text", "btext", "gram", "wtext")
          .contains(a.name.toLowerCase),
        s"text-bearing column '${a.name}' reached an exchange")
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    for (w <- windows) {
      val bucketed = w.partitionSpec.exists(_.toString.contains("_bkt"))
      // histogram-grain windows (the tercile thresholds) run over
      // (stratum, score, cnt) rows — bounded by score cardinality; a
      // per-doc window would carry doc_id through
      val histogramGrain = !w.output.exists(_.name == "doc_id")
      assert(bucketed || histogramGrain,
        s"corpus-sized window: partitions ${w.partitionSpec}, output ${w.output}")
    }
    assert(!planText(plan).contains("CartesianProduct"))
  }

  test("q194 video near-dup: payload bytes never reach an exchange") {
    // the codec boundary is row-local mapPartitions: what shuffles is
    // (ids, dims, 16 box sums, md5) — never AVI payloads or frame bytes
    val plan = SparkEntry.queries("q194_video_neardup")(spark, dir)
      .queryExecution.executedPlan
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output) {
      assert(!Seq("payload", "frame_bytes").contains(a.name.toLowerCase),
        s"payload column '${a.name}' reached an exchange")
      assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.BinaryType],
        s"binary column '${a.name}' reached an exchange")
    }
    assert(!planText(plan).contains("CartesianProduct"))
  }

  test("q187/q188 surprisal: gram text never reaches an exchange") {
    // the reference-LM family's scale contract: both corpora hash grams
    // to 60-bit longs in their scan stages, so every exchange carries
    // longs and counts — never gram or document text — and no window
    // partitions on corpus-sized keys (the tercile windows run over the
    // per-(source, score) histogram only)
    for (name <- Seq("q187_cross_surprisal", "q188_surprisal_terciles")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan
      for (e <- collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }; a <- e.output)
        assert(!Seq("text", "g", "w", "gram").contains(a.name.toLowerCase),
          s"$name: text-bearing column '${a.name}' reached an exchange")
      assert(!planText(plan).contains("CartesianProduct"), name)
    }
  }

  test("q160 sequence packing: distributed cumsum, no per-stratum window") {
    // Token counts are row-local; the running offset is the two-pass
    // cumsumByStratum. The contract at 100x: every window in the plan
    // partitions by (bucket, stratum) — never stratum alone, which would
    // funnel each language through ONE task — the offset frame arrives by
    // BROADCAST join only (no shuffle join), and no exchange carries text.
    val plan = SparkEntry.queries("q160_seq_pack")(spark, dir)
      .queryExecution.executedPlan
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the cumsum window")
    for (w <- windows) {
      assert(w.partitionSpec.length >= 2 &&
        w.partitionSpec.exists(_.toString.contains("_bkt")),
        s"window partitions by ${w.partitionSpec} — a stratum-only window " +
          "serializes each stratum through one task")
    }
    val s = planText(plan)
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      "the offset join must broadcast, not shuffle")
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output)
      assert(a.name.toLowerCase != "text",
        s"document text column '${a.name}' reached an exchange")
  }

  test("q226 set-similarity join: equi-joins only, no window, no cartesian") {
    val plan = physicalPlan("q226_ssjoin_jaccard")
    assert(!plan.contains("CartesianProduct"),
      "prefix filtering must drive equi-joins — a cartesian IS the " +
        "quadratic enumeration the operator exists to avoid")
    assert(!plan.contains("Window"), "no global-rank window in the " +
      "rarity ordering (per-doc struct sort instead)")
  }

  test("q229 BFD packing shuffles only narrow (bucket, id, n) longs") {
    val plan = SparkEntry.queries("q229_bfd_pack")(spark, dir)
      .queryExecution.executedPlan
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output)
      assert(a.name.toLowerCase != "text",
        s"document text column '${a.name}' reached the packing exchange")
  }

  test("q232 JL sketch stays codegen'd: no interpreted HOF lambda") {
    val plan = physicalPlan("q232_jl_sketch")
    assert(!plan.contains("lambdafunction"),
      "the quantize/project path must be flat expressions, not transform()")
    assert(!plan.contains("Exchange") || plan.contains("rangepartitioning"),
      "the sketch is projection-only — the only exchange allowed is the " +
        "final presentation sort")
  }

  test("q224/q230 graph rounds exchange only long ids and scores") {
    for (q <- Seq("q224_pagerank", "q230_hits")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan
      for (e <- collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }; a <- e.output)
        assert(!a.dataType.typeName.contains("string") || a.name == "anchor",
          s"$q: string column '${a.name}' reached an exchange — graph " +
            "rounds must move only longs")
    }
  }

  test("q253/q254 web scalar chains are projection-only: one sort exchange") {
    // extraction and canonicalization are codegen'd built-in chains —
    // no HOF lambda in the hot path, no exchange except the final
    // presentation sort, one scan of the base table
    for (q <- Seq("q253_html_extract", "q254_url_canonicalize")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("lambdafunction") || q == "q254_url_canonicalize",
        s"$q: interpreted lambda in the scalar chain")
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(plan.contains("rangepartitioning"),
        s"$q: expected only the presentation sort exchange")
      assert("FileScan".r.findAllIn(plan).length == 1,
        s"$q: base table must scan exactly once")
    }
  }

  test("q256 robots gate: broadcast rules, max-struct pick, no window") {
    val plan = physicalPlan("q256_robots_gate")
    assert(!plan.contains("Window"),
      "longest-match must be the max-struct aggregate, not a window")
    assert(plan.contains("BroadcastExchange") || plan.contains("Broadcast"),
      "the per-host rule table must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q261 CDC chunking never explodes: row-local HOFs, rollup-only exchange") {
    val plan = physicalPlan("q261_cdc_dedup")
    assert(!plan.contains("Generate"),
      "chunking must stay a row-local aggregate() pass, never explode")
    assert("FileScan".r.findAllIn(plan).length == 1,
      "base table must scan exactly once")
  }

  test("q264 raw-HTML pagerank: html and text never reach an exchange") {
    val plan = SparkEntry.queries("q264_web_pagerank")(spark, dir)
      .queryExecution.executedPlan
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output)
      assert(!a.name.toLowerCase.contains("text") &&
        !a.name.toLowerCase.contains("html") &&
        !a.name.toLowerCase.contains("canon"),
        s"q264: wide column '${a.name}' reached an exchange — only " +
          "(src, dst) longs may leave the extraction stage")
  }

  test("q269 geotiff ingest: encode/decode stay partition-local, exchanges narrow") {
    val plan = SparkEntry.queries("q269_geotiff_compressed")(spark, dir)
      .queryExecution.executedPlan
    // the only exchange is the groupBy(b) aggregate over partial rows —
    // TIFF bytes must never cross it (decode runs inside the flatMap)
    val exchanges = collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty)
    for (e <- exchanges; a <- e.output)
      assert(!a.dataType.typeName.contains("binary"),
        s"q269: binary column '${a.name}' reached an exchange")
    assert(planText(plan).contains("HashAggregate"),
      "expected partial+final aggregation around the exchange")
  }

  test("q271 byte fertility: shifted text never crosses an exchange") {
    val plan = SparkEntry.queries("q271_byte_fertility")(spark, dir)
      .queryExecution.executedPlan
    for (e <- collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }; a <- e.output)
      assert(!Set("text", "tok", "w").contains(a.name.toLowerCase),
        s"q271: text-bearing column '${a.name}' reached an exchange — " +
          "encode and counting are row-local; only narrow aggregates shuffle")
  }
}
