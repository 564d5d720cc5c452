package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.ShiftRight
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.text.TextFunctions.{shingles, tokens}

/** Public training-data curation API over arbitrary DataFrames — the
  * library surface behind the oracled registry queries q116-q121. Every
  * function is a pure DataFrame-in/DataFrame-out transformation with
  * column names as parameters, so it composes with any corpus schema;
  * the registry queries delegate here with the testdata's column names
  * (which keeps each function under the DuckDB hash-exactness gate).
  *
  * Scale contracts are part of each function's doc — the common theme is
  * that document text and embedding vectors never shuffle; only hashes,
  * ids and counts do.
  */
object Curation {

  /** Per-group chunk-level exact-dedup report: documents are chunked into
    * consecutive non-overlapping `chunkTokens`-token windows; a chunk is
    * duplicated when its text occurs anywhere else in the corpus. Output
    * per `groupCol`: docs, total_chunks, dup_chunks, flagged_docs (docs
    * with >= half their chunks duplicated). One text scan; only
    * (id, group, md5) triples shuffle.
    */
  def chunkDedupReport(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", groupCol: String = "source",
      chunkTokens: Int = 20): DataFrame = {
    // Global multiplicity WITHOUT a count window over the h partition: a
    // boilerplate chunk repeated across billions of docs would funnel
    // every occurrence through ONE window task (windows cannot split a
    // hot key — the one shape no amount of cluster parallelizes). Two-
    // level aggregate instead — and the FIRST level computes ROW-LOCALLY
    // (native WindowHashGroups: the (id, group, h) grain's key set
    // contains the doc id, so the old explode → groupBy corpus-chunk-
    // grain exchange never needed to exist; guide §2.3/§2.4). The chunk
    // key is the 60-bit md5 prefix, not the hex string (guide §2.3).
    // The per-h totals reduce the doc-collapsed frame, and the h-keyed
    // join-back is AQE-skew-splittable. The totals branch may cost a
    // second text scan when Catalyst doesn't reuse the grain frame — a
    // deliberate trade: an extra scan is embarrassingly parallel, a
    // hot-key window is not (callers at extreme scale can persist the
    // narrow grain themselves).
    val perDocChunk = docs.select(col(idCol), col(groupCol),
        explode(graft.text.TextSketch.windowHashGroups(
          col(textCol), chunkTokens, chunkTokens, tail = false)).as("g"))
      .select(col(idCol), col(groupCol), col("g.h").as("h"),
        col("g.k").as("k"))
    val hTot = perDocChunk.groupBy("h").agg(sum("k").as("cnt"))
      .filter(col("cnt") > 1).select(col("h"), lit(1L).as("isdup"))
    val perDoc = perDocChunk.join(hTot, Seq("h"), "left")
      .groupBy(idCol, groupCol)
      .agg(sum("k").as("chunks"),
        sum(when(col("isdup") === 1L, col("k")).otherwise(0L)).as("dup"))
    val byGroup = docs.groupBy(groupCol).agg(count(lit(1)).as("docs"))
    byGroup.join(
      perDoc.groupBy(groupCol).agg(
        sum("chunks").as("pc"), sum("dup").as("pd"),
        sum(when(col("dup") * 2 >= col("chunks"), 1L).otherwise(0L)).as("pf")),
      Seq(groupCol), "left")
      .select(col(groupCol), col("docs"),
        coalesce(col("pc"), lit(0L)).as("total_chunks"),
        coalesce(col("pd"), lit(0L)).as("dup_chunks"),
        coalesce(col("pf"), lit(0L)).as("flagged_docs"))
      .orderBy(groupCol)
  }

  /** One quality rule of the [[filterFunnel]] cascade: `fails` is built
    * from the integer per-doc features `n` (tokens), `vocab` (distinct
    * tokens), `max_single` (highest single-token count) and `stop_cnt`
    * (stopword occurrences).
    */
  final case class FunnelRule(name: String, fails: Column)

  /** The default C4/Gopher-style cascade (integer-only thresholds). */
  def defaultFunnelRules: Seq[FunnelRule] = Seq(
    FunnelRule("too_short", col("n") < 15),
    FunnelRule("too_long", col("n") > 95),
    FunnelRule("repetitive", col("max_single") * 5 > col("n")),
    FunnelRule("low_vocab", col("vocab") * 5 < col("n") * 2),
    FunnelRule("low_stopword", col("stop_cnt") * 50 < col("n")))

  /** Ordered quality-filter cascade with first-fail attribution: each doc
    * is attributed to the FIRST rule it fails (or 'kept'), and the output
    * is the survival funnel (stage, rule, dropped, survivors_after). All
    * rule features derive from ONE token explode + two-level keyed agg —
    * text never leaves the scan stage.
    */
  /** The one token explode + two-level keyed agg both funnel surfaces
    * derive their rule features from — (idCol, n, vocab, max_single,
    * stop_cnt), one row per doc. Shared so [[filterFunnel]]'s report and
    * [[funnelSurvivors]]'s corpus cut can never silently disagree on what
    * a feature means.
    */
  private def funnelFeatures(docs: DataFrame, textCol: String,
      idCol: String, stopwords: Seq[String]): DataFrame = {
    val tokCnt = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("cnt"))
    tokCnt.groupBy(idCol).agg(
      sum("cnt").as("n"),
      count(lit(1)).as("vocab"),
      max("cnt").as("max_single"),
      sum(when(col("tok").isin(stopwords: _*), col("cnt")).otherwise(0L)).as("stop_cnt"))
  }

  def filterFunnel(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is"),
      rules: Seq[FunnelRule] = defaultFunnelRules): DataFrame = {
    val feats = funnelFeatures(docs, textCol, idCol, stopwords)
    def v(stage: Int, rule: String) =
      struct(lit(stage).as("stage"), lit(rule).as("rule"))
    val verdict = rules.zipWithIndex.foldRight(v(rules.size + 1, "kept"): Column) {
      case ((r, i), rest) => when(r.fails, v(i + 1, r.name)).otherwise(rest)
    }
    val staged = feats.select(verdict.as("verdict"))
    val totals = docs.agg(count(lit(1)).as("total"))
    staged.groupBy(col("verdict.stage").as("stage"), col("verdict.rule").as("rule"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dropped",
        when(col("rule") === "kept", 0L).otherwise(col("cnt")))
      .crossJoin(broadcast(totals))
      .withColumn("survivors_after",
        col("total") - sum("dropped").over(
          Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("stage").cast("long").as("stage"), col("rule"),
        col("dropped"), col("survivors_after"))
      .orderBy("stage")
  }

  /** The corpus-side counterpart of [[filterFunnel]]'s report: the
    * documents that pass EVERY cascade rule, original columns intact —
    * the frame the next pipeline stage consumes (the report tells you
    * what the cascade did; this hands you the survivors). Same
    * one-explode feature pass; survivors rejoin as a narrow id left-semi,
    * so document text stays on the base scan side of a single join.
    */
  def funnelSurvivors(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is"),
      rules: Seq[FunnelRule] = defaultFunnelRules): DataFrame = {
    val feats = funnelFeatures(docs, textCol, idCol, stopwords)
    val kept = feats.filter(rules.map(r => !r.fails).reduce(_ && _)).select(col(idCol))
    docs.join(kept, Seq(idCol), "left_semi")
  }

  /** BM25 top-k ranked retrieval with the log-free idf weight
    * (N - df + 0.5)/(df + 0.5) — a strictly monotone transform of the
    * classic log idf chosen so every operation is an IEEE +|*|/ (exactly
    * reproducible; no engine-specific ln rounding). Tokens are filtered
    * to the query terms inside the scan-stage lambda, so only matching
    * (id, dl, term) rows shuffle; df and corpus stats broadcast.
    * Per-term contributions are decimal-cast before the per-doc sum so
    * the reduction is order-independent.
    */
  def bm25(docs: DataFrame, terms: Seq[String], topK: Int = 15,
      textCol: String = "text", idCol: String = "doc_id",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.select(col(idCol), size(toks).as("dl"),
      explode(filter(toks, _.isin(terms: _*))).as("term"))
    val tf = base.groupBy(idCol, "dl", "term").agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n"),
      (sum(size(toks)).cast("double") / count(lit(1))).as("avgdl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val denom = tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))
    val contrib = idf * ((tfD * lit(k1 + 1.0)) / denom)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col(idCol), contrib.cast("decimal(24,10)").as("c"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("matched_terms"),
        sum(col("c")).cast("double").as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(topK)
  }

  // ---- distributed per-stratum order & running sums -----------------------

  /** Order-preserving fixed bucketing of the md5 order key: the first 8
    * hex chars as a 32-bit value, scaled to [0, buckets). Lexicographic
    * order of fixed-width lowercase hex IS numeric order, so bucket id is
    * monotone in the full (md5, id) sort key — and md5's uniformity makes
    * the buckets balanced BY CONSTRUCTION, with no RangePartitioner
    * sampling job and no sampling nondeterminism between passes.
    */
  private def orderBucket(ok: Column, buckets: Int): Column =
    (conv(substring(ok, 1, 8), 16, 10).cast("long") * buckets / lit(1L << 32))
      .cast("int")

  /** Distributed per-stratum running sum in the content-addressed
    * (md5(id), id) order — the scale-safe replacement for
    * `sum(n).over(Window.partitionBy(stratum))`, whose single task per
    * stratum serializes a 100-TB corpus through 10-30 tasks when strata
    * are languages or sources (the TopKPerGroup docstring's shape, at the
    * per-stratum grain). Two passes, both deterministic:
    *
    *  1. rows get a bucket id from [[orderBucket]] — a pure row-local
    *     function of the id, so the two passes can never disagree (no
    *     cache pinning, no repartitionByRange resample risk); one narrow
    *     map-side-combining aggregate collects the per-(bucket, stratum)
    *     sums (≤ buckets × strata rows — driver-bounded by configuration,
    *     not data);
    *  2. exclusive prefix offsets per stratum broadcast back, and the
    *     running sum completes inside a window partitioned by (bucket,
    *     stratum) — `buckets` tasks per stratum instead of one.
    *
    * Output: `counted`'s columns plus `cum`, bit-identical to the
    * single-window form (bucket boundaries respect the global per-stratum
    * order, so offset + local sum IS the global running sum; all math is
    * exact longs; NULL strata form their own stratum through the
    * null-safe offset join, exactly as a window partition would).
    * `buckets` defaults to spark.sql.shuffle.partitions.
    * `_ok`/`_bkt`/`_off`/`cum` are reserved names (rejected loudly, never
    * clobbered). Calling this triggers the pass-1 job immediately.
    *
    * Cardinality contract: the pass-1 collect is buckets × STRATA rows —
    * bounded by configuration only while strata are what the name says
    * (languages, sources: tens to thousands). For a HIGH-cardinality key
    * this is the wrong tool twice over (the collect grows with data, and
    * a plain per-key window was never a straggler there — many keys means
    * many tasks); the guard below fails loudly rather than OOM the
    * driver.
    */
  def cumsumByStratum(counted: DataFrame, strataCol: String = "lang",
      idCol: String = "doc_id", nCol: String = "n",
      buckets: Int = 0): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val reserved = Seq("_ok", "_bkt", "_off", "cum", "_obkt", "_ostr")
    require(!reserved.exists(counted.columns.contains),
      s"cumsumByStratum reserves columns ${reserved.mkString(", ")}")
    val spark = counted.sparkSession
    val p = if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = counted
      .withColumn("_ok", md5(col(idCol).cast("string")))
      .withColumn("_bkt", orderBucket(col("_ok"), p))
    // pass 1 doubles as the NULL-id guard: a null id has no
    // content-addressed position (md5(null) is null — the old window
    // form ordered such rows arbitrarily-but-silently; here pass-1's
    // getInt would NPE), so count them in the aggregate already running
    // and fail loudly instead of either
    val partialsRaw = keyed
      .groupBy(col("_bkt"), col(strataCol))
      .agg(coalesce(sum(col(nCol)).cast("long"), lit(0L)).as("_psum"),
        sum(when(col(idCol).isNull, 1L).otherwise(0L)).as("_nulls"))
      .collect()
    val nullIds = partialsRaw.map(_.getLong(3)).sum
    require(nullIds == 0L,
      s"cumsumByStratum: $nullIds rows have a NULL '$idCol' — the order " +
        "key must be a non-null content address (a null row has no " +
        "deterministic position in the running sum)")
    val partials = partialsRaw
    require(partials.length <= (1 << 22),
      s"cumsumByStratum: ${partials.length} (bucket, stratum) groups — " +
        s"'$strataCol' looks like a high-cardinality key, not a stratum; " +
        "use a plain per-key window (many keys already means many tasks)")
    val offSchema = StructType(Seq(
      StructField("_obkt", IntegerType, nullable = false),
      counted.schema(strataCol).copy(name = "_ostr"),
      StructField("_off", LongType, nullable = false)))
    val offRows: Seq[Row] = partials.groupBy(_.get(1)).valuesIterator.flatMap { rs =>
      var acc = 0L
      rs.sortBy(_.getInt(0)).map { r =>
        val row = Row(r.getInt(0), r.get(1), acc)
        acc += r.getLong(2)
        row
      }
    }.toSeq
    val offsets = spark.createDataFrame(offRows.asJava, offSchema)
    val w = Window.partitionBy(col("_bkt"), col(strataCol))
      .orderBy(col("_ok"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    // null-safe stratum equality: a NULL stratum is a real stratum (the
    // window form kept it as its own partition; a plain equi-join would
    // silently DROP those rows from every rewired caller)
    keyed.join(broadcast(offsets),
        col("_bkt") === col("_obkt") && col(strataCol) <=> col("_ostr"))
      .withColumn("cum", sum(col(nCol)).over(w) + col("_off"))
      .drop("_bkt", "_ok", "_off", "_obkt", "_ostr")
  }

  /** Distributed per-stratum RANK in the same content-addressed order —
    * [[cumsumByStratum]] with a unit weight (row_number without the
    * single-task-per-stratum window). Output: `df`'s columns plus `rk`;
    * `_one` and `rk` join cumsum's reserved names (rejected loudly).
    */
  def rankByStratum(df: DataFrame, strataCol: String,
      idCol: String = "doc_id", buckets: Int = 0): DataFrame = {
    require(!df.columns.contains("_one") && !df.columns.contains("rk"),
      "rankByStratum reserves columns _one, rk")
    cumsumByStratum(df.withColumn("_one", lit(1L)), strataCol, idCol, "_one",
        buckets)
      .withColumnRenamed("cum", "rk").drop("_one")
  }

  /** Deterministic fixed-size per-stratum sample: `n` rows per stratum,
    * selected by ranking on md5 of the id — content-addressed, so the
    * draw is reproducible across engines, runs and cluster sizes. The
    * projection narrows to (stratum, id, carry) BEFORE the rank, and the
    * rank itself is the distributed [[rankByStratum]] — no stratum ever
    * funnels through one task.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, n: Int,
      idCol: String = "doc_id", carryCols: Seq[String] = Nil): DataFrame = {
    rankByStratum(df.select((Seq(strataCol, idCol) ++ carryCols).map(col): _*),
        strataCol, idCol)
      .filter(col("rk") <= n)
      .select((Seq(col(strataCol), col("rk"), col(idCol)) ++ carryCols.map(col)): _*)
      .orderBy(strataCol, "rk")
  }

  /** Deterministic probability-proportional-to-size sampling (systematic
    * PPS — Madow 1949): per stratum, draw `k` grid points evenly spaced
    * through the cumulative-weight line (offset half a step, the
    * midpoint rule) over items laid out in content-addressed md5(id)
    * order; an item is drawn once per grid point inside its weight
    * interval, so inclusion probability is EXACTLY k·w/Σw for items
    * with w ≤ Σw/k (heavier items can be drawn multiple times — `hits`
    * reports the multiplicity honestly instead of silently truncating).
    *
    * Everything is integer: with T = Σw per stratum, the number of grid
    * points strictly below cumulative position x is
    * count(x) = (2k·x + T − 1) div (2T), and hits = count(cum) −
    * count(cum − w) — floor division on non-negative operands, so
    * Spark's `div` and DuckDB's `//` agree and the draw is bit-stable
    * across engines, partitionings and retries.
    *
    * 100 TB shape: the layout is [[cumsumByStratum]]'s two-pass
    * distributed cumsum over narrow (stratum, id, w) triples; the totals
    * frame is one row per stratum (broadcast join); no stratum ever
    * funnels through a single task and nothing but longs shuffles.
    */
  def systematicPpsSample(counted: DataFrame, k: Int,
      strataCol: String = "lang", idCol: String = "doc_id",
      wCol: String = "w"): DataFrame = {
    require(k >= 1, s"sample size must be positive: $k")
    val c = cumsumByStratum(
      counted.select(col(strataCol), col(idCol), col(wCol).cast("long").as(wCol))
        .filter(col(wCol) > 0),
      strataCol, idCol, wCol)
    val totals = c.groupBy(strataCol)
      .agg(sum(col(wCol)).cast("long").as("_tot"))
    // the grid-count expression computes 2*k*cum in longs with cum <= _tot;
    // a per-stratum weight total above Long.Max/(2k) would wrap negative
    // and silently drop/duplicate draws — fail loudly IN the plan (the
    // dominantAxisFixedPoint budget-guard discipline, kept lazy so the
    // builder stays a pure plan: an eager check would force the cumsum
    // twice). The guard rides the _hi expression, so it cannot be pruned.
    val bound = Long.MaxValue / (2L * k)
    c.join(broadcast(totals), Seq(strataCol))
      .withColumn("_hi", expr(
        s"if(_tot > ${bound}L, raise_error(concat(" +
          s"'systematicPpsSample: stratum weight total ', _tot, " +
          s"' overflows the 2*k*cum long budget for k=$k (max ${bound}L) — " +
          s"rescale the weights before sampling')), " +
          s"(2 * $k * cum + _tot - 1) div (2 * _tot))"))
      .withColumn("_lo",
        expr(s"(2 * $k * (cum - $wCol) + _tot - 1) div (2 * _tot)"))
      .withColumn("hits", col("_hi") - col("_lo"))
      .filter(col("hits") > 0)
      .select(col(strataCol), col(idCol), col(wCol).as("w"),
        col("hits").cast("long").as("hits"))
  }

  /** Deterministic training-shard packing: per stratum, documents are
    * laid out in md5(id) order and a shard boundary falls every
    * `tokensPerShard` tokens of running offset (a doc belongs to the
    * shard its first token lands in). Output: per-(stratum, shard) docs
    * and token counts. Only narrow (stratum, id, n) triples shuffle, and
    * the running offset is the two-pass [[cumsumByStratum]] — no pack
    * stream serializes globally OR per stratum.
    */
  def packShards(docs: DataFrame, tokensPerShard: Int = 2000,
      strataCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    cumsumByStratum(docs.select(col(strataCol), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n")),
        strataCol, idCol, "n")
      .withColumn("shard", expr(s"(cum - n) div $tokensPerShard"))
      .groupBy(strataCol, "shard")
      .agg(count(lit(1)).as("docs"), sum("n").as("tokens"))
      .orderBy(strataCol, "shard")
  }

  /** Token-level sequence packing (concat-and-chunk) with document-boundary
    * attribution: per stratum, documents are concatenated in the
    * deterministic md5(id) order and cut into fixed `seqTokens`-token
    * training sequences; a document whose tokens straddle a cut
    * contributes one SEGMENT per sequence it touches. Output is the
    * dataloader index — (stratum, seq, id, seg_start, seg_len): where in
    * each packed sequence every document's tokens land. This is the op
    * that turns a curated corpus into fixed-length training rows, and the
    * segment table is exactly what a boundary-resetting attention-mask
    * loader consumes. [[packShards]] is the doc-grain sibling (a doc
    * belongs to one shard); this one attributes at TOKEN grain, so no
    * sequence is left short except each stratum's last.
    *
    * 100 TB shape: token counts are one row-local pass; the running
    * offset is the two-pass [[cumsumByStratum]] over narrow (stratum, id,
    * n) triples — text never shuffles, and no stratum funnels through a
    * single task. The explode emits only the sequences a doc touches
    * (n/seqTokens + 1 worst case), so output is O(docs + sequences). All
    * boundary math is exact long division — no float risk against the
    * oracle.
    */
  def packSequences(docs: DataFrame, seqTokens: Int = 512,
      strataCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    packSegments(docs.select(col(strataCol), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n")),
      seqTokens, strataCol, idCol)

  /** [[packSequences]] over an already-counted (strataCol, idCol, n)
    * frame — the composition entry point (q166) for pipelines that
    * extracted token counts in the scan stage and dropped text long ago;
    * packing then never touches a text column at all.
    */
  def packSegments(counted: DataFrame, seqTokens: Int = 512,
      strataCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    val L = seqTokens.toLong
    cumsumByStratum(
        counted.select(col(strataCol), col(idCol), col("n").cast("long").as("n"))
          .filter(col("n") > 0),
        strataCol, idCol, "n")
      .withColumn("seq",
        explode(sequence(expr(s"(cum - n) div $L"), expr(s"(cum - 1) div $L"))))
      .withColumn("seg_start",
        greatest(lit(0L), col("cum") - col("n") - col("seq") * L))
      .withColumn("seg_len",
        least((col("seq") + 1) * L, col("cum"))
          - greatest(col("seq") * L, col("cum") - col("n")))
      .select(col(strataCol), col("seq"), col(idCol),
        col("seg_start"), col("seg_len"))
      .orderBy(strataCol, "seq", "seg_start")
  }

  /** Best-fit-decreasing bin packing — the "Fewer Truncations Improve
    * Language Modeling" discipline (Ding et al., 2024): pack documents
    * WHOLE into fixed-capacity training bins, so sequences aren't
    * truncated mid-document the way greedy chain-packing truncates them.
    * BFD sorts items by length descending and places each into the
    * fullest bin that still fits (guaranteed ≤ 11/9·OPT + 1 bins).
    *
    * Distributed form: BFD is sequential, so the corpus first splits into
    * `buckets` INDEPENDENT md5-hash buckets and each bucket runs its own
    * row-local BFD inside `flatMapGroups` — bins never span buckets (the
    * documented approximation; with iid length distributions per bucket
    * the efficiency loss is marginal, and bucket count scales with the
    * cluster, not the corpus). Only (id, n) longs shuffle; text stays on
    * the scan side. Docs longer than `capacity` are dropped here — chunk
    * them upstream (packSegments) first.
    *
    * Determinism contract (what the DuckDB oracle replays step by step
    * with a recursive CTE): items in (n DESC, id ASC) order; the chosen
    * bin is the FIRST bin index holding the smallest residual ≥ n; a new
    * bin opens at index (#bins + 1) when none fits.
    */
  def packBinsBfd(docs: DataFrame, capacity: Long = 128L, buckets: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    require(buckets >= 1, s"buckets must be positive: $buckets")
    // fail FAST on non-integral ids: the cast('long') below would turn a
    // string id into null and crash the typed encoder mid-job instead.
    require({
      import org.apache.spark.sql.types._
      Seq(LongType, IntegerType, ShortType, ByteType)
        .contains(docs.schema(idCol).dataType)
    }, s"packBinsBfd needs an integral '$idCol' (got " +
      s"${docs.schema(idCol).dataType.simpleString}); map string ids to " +
      "longs upstream")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(
        (graft.text.TextSketch.md5PrefixLong(
            concat(lit("bfd#"), col(idCol)), 2)
          .cast("int") % buckets).as("bucket"),
        col(idCol).cast("long").as("id"),
        size(tokens(col(textCol))).cast("long").as("n"))
      .filter(col("n") > 0 && col("n") <= capacity)
      .as[(Int, Long, Long)]
    base.groupByKey(_._1)
      .flatMapGroups { (bucket, it) =>
        val items = it.map(r => (r._2, r._3)).toArray
        // n DESC, id ASC — the canonical FFD/BFD order, and the oracle's
        java.util.Arrays.sort(items, Ordering.by((p: (Long, Long)) => (-p._2, p._1)))
        val resid = scala.collection.mutable.ArrayBuffer.empty[Long]
        items.iterator.map { case (id, n) =>
          var best = -1
          var i = 0
          while (i < resid.length) {
            // strict < keeps the FIRST index among equal residuals
            if (resid(i) >= n && (best < 0 || resid(i) < resid(best))) best = i
            i += 1
          }
          if (best < 0) { resid += (capacity - n); best = resid.length - 1 }
          else resid(best) -= n
          (bucket, id, (best + 1).toLong)
        }
      }
      .toDF("bucket", "doc_id", "bin")
  }

  /** Greedy token-budget sampling: per stratum, documents are taken whole
    * in the deterministic md5(id) order until the running token count
    * would exceed `budgetTokens` — the "sample N tokens per source" step
    * that sizes a training mix before packing. The prefix rule (keep
    * while cum <= budget) is what makes the draw reproducible across
    * engines, cluster sizes and retries. Report per stratum: docs_total,
    * tokens_total, docs_kept, tokens_kept.
    *
    * 100 TB shape: one row-local token-count pass, then the two-pass
    * [[cumsumByStratum]] over narrow (stratum, id, n) triples — identical
    * layout to [[packShards]]; text never shuffles and nothing serializes
    * globally or per stratum.
    */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long = 3000,
      strataCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    cumsumByStratum(docs.select(col(strataCol), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n")),
        strataCol, idCol, "n")
      .withColumn("kept", when(col("cum") <= budgetTokens, 1L).otherwise(0L))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("docs_total"),
        sum("n").as("tokens_total"),
        sum("kept").as("docs_kept"),
        sum(when(col("kept") === 1L, col("n")).otherwise(0L)).as("tokens_kept"))
      .orderBy(strataCol)
  }

  /** Per-stratum quantile-calibrated quality cut: instead of one global
    * threshold (which lets a verbose language eat a terse one's budget),
    * each stratum drops its own bottom `dropNum/dropDen` fraction under
    * an INTEGER quality score. The threshold is the discrete quantile —
    * the smallest score whose cumulative count reaches ceil(n * frac) —
    * and docs strictly below it are dropped. Report per stratum:
    * (docs, threshold, dropped, kept).
    *
    * 100 TB shape: the quantile is computed over the per-(stratum, score)
    * HISTOGRAM, so the rank window's input is bounded by score
    * cardinality, not corpus size — one narrow count shuffle; documents
    * never move. Applying the cut to the corpus is then a broadcast join
    * of the per-stratum threshold rows (bounded by #strata). The
    * cross-multiplied rank test (cum * den >= n * num) keeps both engines
    * exact with no float quantile-definition drift.
    */
  def quantileCalibratedFilter(docs: DataFrame, score: Column,
      strataCol: String = "lang", dropNum: Int = 1,
      dropDen: Int = 5): DataFrame = {
    val hist = docs.select(col(strataCol), score.cast("long").as("score"))
      .groupBy(strataCol, "score").agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(strataCol).orderBy("score")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(strataCol)
    val h = hist.withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(wt))
    val thr = h.filter(col("cum") * dropDen >= col("n") * dropNum)
      .groupBy(strataCol).agg(min("score").as("threshold"))
    h.join(thr, Seq(strataCol))
      .groupBy(strataCol)
      .agg(max("n").as("docs"), min("threshold").as("threshold"),
        coalesce(sum(when(col("score") < col("threshold"), col("cnt"))),
          lit(0L)).as("dropped"))
      .withColumn("kept", col("docs") - col("dropped"))
      .select(col(strataCol), col("docs"), col("threshold"),
        col("dropped"), col("kept"))
      .orderBy(strataCol)
  }

  /** Overlapping passage chunking with offset attribution — the
    * RAG/embedding-prep chunker: fixed `width`-token windows every
    * `stride` tokens (overlap = width − stride), each chunk addressed by
    * (doc, chunk_idx, start_token, n_tokens) and content-addressed by
    * md5. The final partial window is kept only at `minTokens` or more.
    * [[chunkDedupReport]] chunks for dedup counting; this emits the
    * chunk TABLE downstream stages consume (embed it, dedup it at chunk
    * grain, cite it back to its document offset).
    *
    * Row-local end to end: the explode emits ceil(n/stride) narrow rows
    * per doc — id, two offsets, a hash — and nothing shuffles until the
    * caller aggregates; text never leaves the scan stage.
    */
  def passageChunks(docs: DataFrame, width: Int = 32, stride: Int = 24,
      minTokens: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(width > 0 && stride > 0 && minTokens > 0,
      s"bad chunk geometry: width=$width stride=$stride min=$minTokens")
    docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("start",
        explode(sequence(lit(1L), col("n"), lit(stride.toLong))))
      .withColumn("chunk_idx", expr(s"(start - 1) div $stride"))
      .withColumn("len", least(lit(width.toLong), col("n") - col("start") + 1))
      .filter(col("len") >= minTokens)
      .select(col(idCol), col("chunk_idx"),
        col("start").as("start_token"), col("len").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("w"), col("start").cast("int"), col("len").cast("int"))))
          .as("chunk_md5"))
      .orderBy(idCol, "chunk_idx")
  }

  /** Integer-exact bigram-surprisal quality scoring: the self-perplexity
    * filter (score a corpus under an n-gram model trained on itself; docs
    * whose token sequences the model finds improbable are gibberish,
    * boilerplate mashups, or mis-identified languages) made hash-exact.
    * Instead of -log2 P(w2|w1) in floats — whose ln/log2 rounding
    * hash-diverges across libm implementations — each bigram contributes
    * its INTEGER surprisal floor(log2(C(w1)/C(w1 w2))), computed as
    * length(bin(cu div cb)) - 1: bit arithmetic, no transcendentals,
    * bit-identical everywhere while ranking documents the same way.
    * Report per stratum: docs, total_bigrams, total_bits, and docs whose
    * mean surprisal exceeds `flagBits` bits/bigram (integer
    * cross-multiplied).
    *
    * 100 TB shape: one shingle explode; grams md5-hash to 60-bit longs in
    * the scan stage, so the model-count aggregations and the two count
    * joins exchange longs, never gram text. The model tables are
    * vocabulary-sized, not corpus-sized. Hash collisions merge counts
    * identically in both engines (the oracle hashes the same way), so
    * exactness survives collisions by construction.
    */
  def surprisalReport(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", strataCol: String = "lang",
      flagBits: Int = 3): DataFrame = {
    def h60(c: Column) = graft.text.TextSketch.md5PrefixLong(c, 15)
    val bi = docs.select(col(idCol), col(strataCol),
        explode(graft.text.TextSketch.wordShingles(col(textCol), 2)).as("g"))
      .select(col(idCol), col(strataCol), h60(col("g")).as("bh"),
        h60(substring_index(col("g"), " ", 1)).as("uh"))
    val bc = bi.groupBy("bh").agg(count(lit(1)).as("cb"))
    val uc = bi.groupBy("uh").agg(count(lit(1)).as("cu"))
    val perDoc = bi.join(bc, Seq("bh")).join(uc, Seq("uh"))
      .withColumn("bits", (length(bin(expr("cu div cb"))) - 1).cast("long"))
      .groupBy(idCol, strataCol)
      .agg(count(lit(1)).as("nb"), sum("bits").as("sb"))
    docs.groupBy(strataCol).agg(count(lit(1)).as("docs"))
      .join(perDoc.groupBy(strataCol).agg(
          sum("nb").as("tb"), sum("sb").as("tbits"),
          sum(when(col("sb") > col("nb") * flagBits, 1L).otherwise(0L)).as("hs")),
        Seq(strataCol), "left")
      .select(col(strataCol), col("docs"),
        coalesce(col("tb"), lit(0L)).as("total_bigrams"),
        coalesce(col("tbits"), lit(0L)).as("total_bits"),
        coalesce(col("hs"), lit(0L)).as("high_surprisal_docs"))
      .orderBy(strataCol)
  }

  /** CROSS-corpus surprisal scoring — [[surprisalReport]]'s production
    * sibling (the CCNet-style quality filter): the bigram model trains
    * on a REFERENCE corpus (the curated seed) and scores a TARGET
    * corpus against it — documents the reference model finds improbable
    * are the ones to drop or down-weight, and unlike the self-LM the
    * signal is directional ("unlike the good data", not merely
    * "internally unusual"). Same integer-exact bits: a known bigram
    * contributes floor(log2(C_ref(w1)/C_ref(w1 w2))) via bit-length
    * arithmetic; a bigram UNSEEN in the reference contributes the flat
    * `oovBits` penalty (the deterministic backoff surrogate — a real
    * Katz/KN backoff is float-bound and engine-divergent, while a fixed
    * penalty ranks identically for filtering). Report per target
    * stratum: docs, total_bigrams, total_bits, oov_bigrams, and docs
    * whose mean exceeds `flagBits` bits/bigram.
    *
    * 100 TB shape: both corpora hash grams to 60-bit longs in their scan
    * stages; the model tables are reference-vocabulary-sized and the
    * two count joins exchange longs, never gram text. A bigram seen in
    * the reference always has its w1 unigram seen (both counts derive
    * from the same rows), so the OOV rule needs only the bigram null.
    */
  /** The per-document scoring core of [[crossSurprisalReport]] and
    * [[surprisalTerciles]]: one row per target doc that produced at
    * least one bigram — (idCol, strataCol, nb, sb, ov) = bigram count,
    * total bits under the reference model, OOV bigram count.
    */
  /** 60-bit md5-prefix hash — the engine-portable gram key (both engines
    * compute `md5` identically; 60 bits keeps the value in a signed long).
    */
  private def h60(c: Column) = graft.text.TextSketch.md5PrefixLong(c, 15)

  /** One row per word BIGRAM of `textCol` with its 60-bit bigram hash `bh`
    * and first-word unigram hash `uh`, carrying `carry` through — the scan
    * stage shared by every bigram LM scorer. Text never leaves this stage;
    * downstream joins exchange longs only.
    */
  private def bigramFrame(df: DataFrame, textCol: String,
      carry: Seq[Column]): DataFrame = {
    df.select(carry :+
        explode(graft.text.TextSketch.wordShingles(col(textCol), 2)).as("g"): _*)
      .withColumn("bh", h60(col("g")))
      .withColumn("uh", h60(substring_index(col("g"), " ", 1)))
      .drop("g")
  }

  private def crossSurprisalPerDoc(target: DataFrame, reference: DataFrame,
      textCol: String, idCol: String, strataCol: String,
      oovBits: Int): DataFrame = {
    def bigrams(df: DataFrame, carry: Seq[Column]): DataFrame =
      bigramFrame(df, textCol, carry)
    val refBi = bigrams(reference, Nil)
    val bc = refBi.groupBy("bh").agg(count(lit(1)).as("cb"))
    val uc = refBi.groupBy("uh").agg(count(lit(1)).as("cu"))
    bigrams(target, Seq(col(idCol), col(strataCol)))
      .join(bc, Seq("bh"), "left")
      .join(uc, Seq("uh"), "left")
      .withColumn("bits",
        when(col("cb").isNull, lit(oovBits.toLong))
          .otherwise((length(bin(expr("cu div cb"))) - 1).cast("long")))
      .withColumn("oov", when(col("cb").isNull, 1L).otherwise(0L))
      .groupBy(idCol, strataCol)
      .agg(count(lit(1)).as("nb"), sum("bits").as("sb"), sum("oov").as("ov"))
  }

  def crossSurprisalReport(target: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source", flagBits: Int = 4,
      oovBits: Int = 20): DataFrame = {
    val perDoc = crossSurprisalPerDoc(target, reference, textCol, idCol,
      strataCol, oovBits)
    target.groupBy(strataCol).agg(count(lit(1)).as("docs"))
      .join(perDoc.groupBy(strataCol).agg(
          sum("nb").as("tb"), sum("sb").as("tbits"), sum("ov").as("tov"),
          sum(when(col("sb") > col("nb") * flagBits, 1L).otherwise(0L)).as("hs")),
        Seq(strataCol), "left")
      .select(col(strataCol), col("docs"),
        coalesce(col("tb"), lit(0L)).as("total_bigrams"),
        coalesce(col("tbits"), lit(0L)).as("total_bits"),
        coalesce(col("tov"), lit(0L)).as("oov_bigrams"),
        coalesce(col("hs"), lit(0L)).as("high_surprisal_docs"))
      .orderBy(strataCol)
  }

  /** TRIGRAM cross-corpus surprisal with integer-exact STUPID BACKOFF
    * (Brants et al., "Large Language Models in Machine Translation",
    * EMNLP 2007) — the model-order upgrade over the bigram scorer: a
    * trigram seen in the reference scores by its trigram probability; an
    * unseen trigram whose (w2, w3) bigram IS seen backs off to the
    * bigram level at a fixed penalty; only fully-novel continuations pay
    * the flat OOV bits. Stupid backoff's score is not a normalized
    * probability, which is exactly why it stays integer-exact here:
    *
    *  - trigram level: floor(log2(C(w1 w2)/C(w1 w2 w3))) via bit-length
    *    arithmetic (`length(bin(ctx div tri)) - 1` — identical in both
    *    engines, no float ever);
    *  - backoff level: `backoffBits` + floor(log2(C(w2)/C(w2 w3))) —
    *    the backoff weight alpha is 2^-backoffBits (default 1/4, near
    *    Brants' empirical 0.4), so "multiplying by alpha" IS adding a
    *    constant bit count, division stays exact;
    *  - OOV: the flat `oovBits` penalty, as in the bigram scorer.
    *
    * All counts — trigram, context bigram (w1 w2), backoff bigram
    * (w2 w3), backoff unigram (w2) — are estimated over the SAME
    * reference trigram event space (one explode of the reference, three
    * narrow aggregates). That choice is what makes the bit arithmetic
    * total: every trigram occurrence contributes to its own context
    * bigram, so C(ctx) >= C(tri) whenever the trigram is seen, and every
    * backoff-bigram occurrence contributes to its middle unigram, so
    * C(w2) >= C(w2 w3) — both divisions are >= 1 and floor(log2) >= 0,
    * with no seen-but-zero-context edge to special-case.
    *
    * 100 TB shape: identical to the bigram scorer — grams hash to 60-bit
    * longs in the scan stage, the model tables are
    * reference-vocabulary-sized, and the three count joins exchange
    * longs, never gram text.
    */
  private def trigramCrossSurprisalPerDoc(target: DataFrame,
      reference: DataFrame, textCol: String, idCol: String,
      strataCol: String, backoffBits: Int, oovBits: Int): DataFrame = {
    def h60(c: Column) = graft.text.TextSketch.md5PrefixLong(c, 15)
    def trigrams(df: DataFrame, carry: Seq[Column]): DataFrame =
      df.select(carry :+
          explode(graft.text.TextSketch.wordShingles(col(textCol), 3)).as("g"): _*)
        .withColumn("th", h60(col("g")))
        .withColumn("ch", h60(substring_index(col("g"), " ", 2)))
        .withColumn("bh2", h60(substring_index(col("g"), " ", -2)))
        .withColumn("uh2",
          h60(substring_index(substring_index(col("g"), " ", 2), " ", -1)))
        .drop("g")
    val refTri = trigrams(reference, Nil)
    val tc = refTri.groupBy("th").agg(count(lit(1)).as("ct"))
    val cc = refTri.groupBy("ch").agg(count(lit(1)).as("cctx"))
    val bc = refTri.groupBy("bh2").agg(count(lit(1)).as("cbo"))
    val uc = refTri.groupBy("uh2").agg(count(lit(1)).as("cuni"))
    trigrams(target, Seq(col(idCol), col(strataCol)))
      .join(tc, Seq("th"), "left")
      .join(cc, Seq("ch"), "left")
      .join(bc, Seq("bh2"), "left")
      .join(uc, Seq("uh2"), "left")
      .withColumn("bits",
        when(col("ct").isNotNull,
          (length(bin(expr("cctx div ct"))) - 1).cast("long"))
          .when(col("cbo").isNotNull,
            lit(backoffBits.toLong)
              + (length(bin(expr("cuni div cbo"))) - 1).cast("long"))
          .otherwise(lit(oovBits.toLong)))
      .withColumn("bo",
        when(col("ct").isNull && col("cbo").isNotNull, 1L).otherwise(0L))
      .withColumn("oov",
        when(col("ct").isNull && col("cbo").isNull, 1L).otherwise(0L))
      .groupBy(idCol, strataCol)
      .agg(count(lit(1)).as("nt"), sum("bits").as("sb"),
        sum("bo").as("bo"), sum("oov").as("ov"))
  }

  /** Per-stratum report over [[trigramCrossSurprisalPerDoc]]: docs,
    * total_trigrams, total_bits, backoff_trigrams (scored at the bigram
    * level), oov_trigrams (fully novel), high_surprisal_docs (mean over
    * `flagBits` bits/trigram). Documents too short to form a trigram
    * contribute to `docs` only — the same convention as the bigram
    * report's.
    */
  def trigramCrossSurprisalReport(target: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source", flagBits: Int = 4,
      backoffBits: Int = 2, oovBits: Int = 20): DataFrame = {
    val perDoc = trigramCrossSurprisalPerDoc(target, reference, textCol,
      idCol, strataCol, backoffBits, oovBits)
    target.groupBy(strataCol).agg(count(lit(1)).as("docs"))
      .join(perDoc.groupBy(strataCol).agg(
          sum("nt").as("tt"), sum("sb").as("tbits"), sum("bo").as("tbo"),
          sum("ov").as("tov"),
          sum(when(col("sb") > col("nt") * flagBits, 1L).otherwise(0L)).as("hs")),
        Seq(strataCol), "left")
      .select(col(strataCol), col("docs"),
        coalesce(col("tt"), lit(0L)).as("total_trigrams"),
        coalesce(col("tbits"), lit(0L)).as("total_bits"),
        coalesce(col("tbo"), lit(0L)).as("backoff_trigrams"),
        coalesce(col("tov"), lit(0L)).as("oov_trigrams"),
        coalesce(col("hs"), lit(0L)).as("high_surprisal_docs"))
      .orderBy(strataCol)
  }

  /** The CCNet head/middle/tail split: per stratum, target documents
    * partition into surprisal TERCILES under the reference model —
    * head (closest to the reference: keep), middle (keep or re-filter),
    * tail (drop or down-weight). Per-doc score = milli-bits per bigram
    * (sb·1000 div nb — integer-exact, no float perplexity), and the
    * tercile thresholds are DISCRETE quantiles over the per-(stratum,
    * score) histogram (the [[quantileCalibratedFilter]] machinery):
    * t1 = smallest score whose cumulative count reaches n/3, t2 = 2n/3
    * (cross-multiplied: cum·3 ≥ n, cum·3 ≥ 2n). head: score ≤ t1;
    * middle: t1 < score ≤ t2; tail: above. Documents too short to form
    * a bigram are reported in `unscored_docs` and excluded from the
    * terciles (scoring them would be noise, the CCNet convention).
    * Output per stratum: (strataCol, scored_docs, unscored_docs,
    * t1_millibits, t2_millibits, head_docs, middle_docs, tail_docs).
    *
    * 100 TB shape: the per-doc scoring is [[crossSurprisalReport]]'s
    * (long-only exchanges, model tables vocabulary-sized); the quantile
    * windows run over the per-(stratum, score) HISTOGRAM — bounded by
    * score cardinality, never corpus size — and the thresholds return
    * as a broadcast join of #strata rows.
    */
  def surprisalTerciles(target: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source", oovBits: Int = 20): DataFrame =
    tercileSplit(target,
      crossSurprisalPerDoc(target, reference, textCol, idCol, strataCol,
        oovBits).withColumn("score", expr("sb * 1000 div nb")),
      strataCol)

  /** [[surprisalTerciles]] under the TRIGRAM stupid-backoff scores —
    * the CCNet split at the upgraded model order. Same discrete-quantile
    * machinery, same output shape; a doc needs >= 3 tokens to be scored
    * (vs 2 for bigrams), so `unscored_docs` can only grow. The spec
    * proves the split genuinely MOVES vs the bigram terciles on a corpus
    * where two-word context is the distinguishing signal.
    */
  def trigramSurprisalTerciles(target: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source", backoffBits: Int = 2,
      oovBits: Int = 20): DataFrame =
    tercileSplit(target,
      trigramCrossSurprisalPerDoc(target, reference, textCol, idCol,
        strataCol, backoffBits, oovBits)
        .withColumn("score", expr("sb * 1000 div nt")),
      strataCol)

  /** The per-doc bigram score frame ([[crossSurprisalReport]]'s core,
    * public): one row per target doc with >= 1 bigram — (idCol,
    * strataCol, nb, sb, ov, score) with score = milli-bits per bigram.
    * The composition entry point for pipelines that act on scores
    * (q191's keep-head-and-middle) rather than consume a report.
    */
  def crossSurprisalScores(target: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source", oovBits: Int = 20): DataFrame =
    crossSurprisalPerDoc(target, reference, textCol, idCol, strataCol,
      oovBits).withColumn("score", expr("sb * 1000 div nb"))

  /** DoReMi-style domain reweighting (Xie et al. 2023), the exact-integer
    * discretization: domains whose mean reference-LM surprisal exceeds
    * the corpus mean get their mixture weight multiplied UP (they're
    * under-modeled — the data the next round should see more of), easy
    * domains get shifted down. One multiplicative-weights round:
    *
    *   excess_d = mean_milli(d) − mean_milli(corpus)      (integer milli-bits)
    *   e_d      = clamp(floor(excess_d / stepMilli), ±maxExp)
    *   weight_d = 2^(e_d + maxExp)                        (exact shift)
    *   ppm_d    = floor(10^6 · weight_d / Σ weight)
    *
    * The exponent is BUCKETED (multiples of stepMilli milli-bits) so the
    * update factor stays an exact power of two — no exp()/libm in the
    * result, which is what lets the DuckDB oracle match hash-for-hash
    * and makes reweighting runs reproducible across engines. Floor
    * division on a possibly-negative excess is realized through a
    * non-negative offset (Spark `div` truncates where DuckDB `//`
    * floors; on non-negative operands they agree).
    *
    * 100 TB shape: input is the per-doc score frame (already narrow);
    * one groupBy(stratum) aggregate, a one-row global frame and a
    * one-row weight-total frame broadcast back — nothing here scales
    * with the corpus, only with #domains.
    */
  def domainReweight(scores: DataFrame, strataCol: String = "source",
      stepMilli: Int = 256, maxExp: Int = 8): DataFrame = {
    require(stepMilli >= 1, s"stepMilli must be positive: $stepMilli")
    require(maxExp >= 1 && maxExp <= 20, s"maxExp out of range: $maxExp")
    val offB = 1048576L // floor-div offset buckets; excess is ≪ step·2^20
    val per = scores.groupBy(strataCol)
      .agg(count(lit(1)).as("docs"), sum("score").as("ssum"))
    val tot = per.agg(sum("docs").as("tdocs"), sum("ssum").as("tsum"))
    val withExcess = per.crossJoin(broadcast(tot))
      .withColumn("mean_milli", expr("ssum div docs"))
      .withColumn("excess_milli", col("mean_milli") - expr("tsum div tdocs"))
      .withColumn("exp2",
        greatest(lit(-maxExp.toLong), least(lit(maxExp.toLong),
          expr(s"(excess_milli + ${stepMilli * offB}L) div $stepMilli") - offB)))
      .withColumn("weight",
        expr(s"shiftleft(1L, CAST(exp2 + $maxExp AS INT))"))
    val wTot = withExcess.agg(sum("weight").as("wsum"))
    withExcess.crossJoin(broadcast(wTot))
      .select(col(strataCol), col("docs"), col("mean_milli"),
        col("excess_milli"), col("exp2"),
        expr("(1000000 * weight) div wsum").as("weight_ppm"))
  }

  /** The ACTION for [[domainReweight]]'s report: realize a mixture. Each
    * domain gets a token budget b_d = floor(totalTokens · ppm_d / 10^6)
    * and fills it with whole documents in content-addressed md5(id)
    * order under the prefix rule (keep while cum ≤ b_d — the same
    * reproducible-draw discipline as [[tokenBudgetSample]], with
    * per-domain budgets instead of one constant). Domains absent from
    * `weightsPpm` don't participate — the reweighting run owns the
    * domain list. Report per domain: weight_ppm, budget_tokens,
    * docs_total, tokens_total, docs_kept, tokens_kept.
    *
    * 100 TB shape: one row-local token count, the two-pass distributed
    * cumsum over narrow triples, and a broadcast join of the (tiny)
    * per-domain budget frame. Text never shuffles.
    */
  def realizeMixture(docs: DataFrame, weightsPpm: DataFrame,
      totalTokens: Long, strataCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(totalTokens >= 1, s"totalTokens must be positive: $totalTokens")
    val counted = docs.select(col(strataCol), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n"))
      .filter(col("n") > 0)
    // split multiplication: floor(T·ppm/10^6) = (T div 10^6)·ppm +
    // floor((T mod 10^6)·ppm/10^6) — exact, and neither factor can
    // overflow a long even at T = tens of trillions of tokens (the naive
    // T·ppm product wraps negative past ~9.2e18 and would silently zero
    // every heavy domain's budget).
    val budgets = weightsPpm
      .select(col(strataCol), col("weight_ppm").cast("long").as("weight_ppm"))
      .withColumn("budget_tokens",
        expr(s"(${totalTokens / 1000000L}L * weight_ppm) + " +
          s"((${totalTokens % 1000000L}L * weight_ppm) div 1000000)"))
    cumsumByStratum(counted, strataCol, idCol, "n")
      .join(broadcast(budgets), strataCol)
      .withColumn("kept", when(col("cum") <= col("budget_tokens"), 1L).otherwise(0L))
      .groupBy(strataCol)
      .agg(first("weight_ppm").as("weight_ppm"),
        first("budget_tokens").as("budget_tokens"),
        count(lit(1)).as("docs_total"),
        sum("n").as("tokens_total"),
        sum("kept").as("docs_kept"),
        sum(when(col("kept") === 1L, col("n")).otherwise(0L)).as("tokens_kept"))
      .orderBy(strataCol)
  }

  /** The CCNet KEEP action over a scored frame: ids of docs in the HEAD
    * or MIDDLE tercile of their stratum (score <= t2) — the tail is what
    * a CCNet run drops or down-weights. Thresholds are the same discrete
    * quantiles as [[surprisalTerciles]] (histogram-grain windows,
    * broadcast-joined back); docs absent from `scores` (too short to
    * form a bigram) are absent from the output — the caller's funnel
    * rules own those.
    */
  def tercileKeepIds(scores: DataFrame, strataCol: String,
      idCol: String = "doc_id"): DataFrame =
    scores.join(broadcast(tercileThresholds(scores, strataCol)), Seq(strataCol))
      .filter(col("score") <= col("t2"))
      .select(col(idCol))

  /** DUAL-reference LM quality classifier — the likelihood-ratio form of
    * the CCNet/GPT-3 quality filter (Wenzek et al. 2020 §4.3; Brown et
    * al. 2020 appendix A train a classifier to separate a curated corpus
    * from raw crawl): a target document is scored under TWO reference
    * bigram models — `refGood` (the curated seed) and `refBad` (the
    * rejected pool) — and predicted GOOD when the good model spends no
    * more bits on it than the bad model. Equivalent to sign(log
    * P_good(doc) - log P_bad(doc)), i.e. naive-Bayes classification with
    * LMs as class conditionals, and unlike the single-reference tercile
    * split the decision is calibration-free: no threshold to pick, the
    * bad model IS the null hypothesis.
    *
    * Same integer-exact bit discipline as [[crossSurprisalReport]]: each
    * bigram costs floor(log2(C(w1)/C(w1 w2))) bits under a model that
    * has seen it and the flat `oovBits` penalty under one that hasn't,
    * so both engines agree bit-for-bit and the margin is an exact long.
    *
    * Report per target stratum: docs, scored_docs (>= 1 bigram),
    * pred_good_docs (tie goes to good — deterministic), margin_bits =
    * sum over scored docs of (bits_bad - bits_good), positive when the
    * stratum as a whole sits closer to the good reference.
    *
    * 100 TB shape: the target corpus is tokenized ONCE (one explode in
    * the scan stage) and joined against all four vocabulary-sized count
    * tables in a single plan — not two separate scoring passes; the
    * joins exchange 60-bit longs, never gram text, and both models
    * build from their references' scan stages with narrow aggregates.
    */
  def dualSurprisalClassifier(target: DataFrame, refGood: DataFrame,
      refBad: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source", oovBits: Int = 20): DataFrame = {
    val gBi = bigramFrame(refGood, textCol, Nil)
    val bBi = bigramFrame(refBad, textCol, Nil)
    val gb = gBi.groupBy("bh").agg(count(lit(1)).as("gcb"))
    val gu = gBi.groupBy("uh").agg(count(lit(1)).as("gcu"))
    val bb = bBi.groupBy("bh").agg(count(lit(1)).as("bcb"))
    val bu = bBi.groupBy("uh").agg(count(lit(1)).as("bcu"))
    val perDoc = bigramFrame(target, textCol, Seq(col(idCol), col(strataCol)))
      .join(gb, Seq("bh"), "left").join(gu, Seq("uh"), "left")
      .join(bb, Seq("bh"), "left").join(bu, Seq("uh"), "left")
      // A bigram seen by a model implies its w1 unigram is seen by the same
      // model (both counts come from the same reference rows), so each OOV
      // rule needs only its bigram-count null — the single-model scorer's
      // invariant, held per model.
      .withColumn("gbits",
        when(col("gcb").isNull, lit(oovBits.toLong))
          .otherwise((length(bin(expr("gcu div gcb"))) - 1).cast("long")))
      .withColumn("bbits",
        when(col("bcb").isNull, lit(oovBits.toLong))
          .otherwise((length(bin(expr("bcu div bcb"))) - 1).cast("long")))
      .groupBy(idCol, strataCol)
      .agg(count(lit(1)).as("nb"), sum("gbits").as("sg"), sum("bbits").as("sbad"))
    target.groupBy(strataCol).agg(count(lit(1)).as("docs"))
      .join(perDoc.groupBy(strataCol).agg(
          count(lit(1)).as("sd"),
          sum(when(col("sg") <= col("sbad"), 1L).otherwise(0L)).as("pg"),
          sum(col("sbad") - col("sg")).as("mb")),
        Seq(strataCol), "left")
      .select(col(strataCol), col("docs"),
        coalesce(col("sd"), lit(0L)).as("scored_docs"),
        coalesce(col("pg"), lit(0L)).as("pred_good_docs"),
        coalesce(col("mb"), lit(0L)).as("margin_bits"))
      .orderBy(strataCol)
  }

  /** Deterministic importance DOWNSAMPLING over the tercile buckets —
    * the down-WEIGHT alternative to [[tercileKeepIds]]' hard drop (both
    * are published CCNet practice; downsampling keeps tail coverage at
    * reduced rate instead of zero). Head docs always keep; middle docs
    * keep with probability 2^-middleBits, tail with 2^-tailBits — the
    * coin is the doc's own content address (keep iff the TOP `bits` of
    * the md5-60 order hash are zero), so the rates are EXACT dyadic
    * fractions in expectation, the draw is reproducible across engines,
    * runs, retries and cluster sizes, and no RNG ever runs (the
    * stratifiedSample discipline applied to acceptance testing). Output:
    * the scored rows plus `bucket` ('head'/'middle'/'tail') and `kept`;
    * callers filter `kept` for the action or aggregate for the report.
    * head rows take the same shift path (a 60-bit value shifted by 60 is
    * 0), so there is no special case to drift.
    */
  def tercileDownsample(scores: DataFrame, strataCol: String,
      idCol: String = "doc_id", middleBits: Int = 1,
      tailBits: Int = 2): DataFrame = {
    require(middleBits >= 0 && tailBits >= 0 && middleBits <= 60 && tailBits <= 60,
      s"keep-bit budgets must be in [0, 60]: $middleBits, $tailBits")
    scores.join(broadcast(tercileThresholds(scores, strataCol)), Seq(strataCol))
      .withColumn("bucket",
        when(col("score") <= col("t1"), "head")
          .when(col("score") <= col("t2"), "middle")
          .otherwise("tail"))
      .withColumn("_kb",
        when(col("bucket") === "head", lit(0))
          .when(col("bucket") === "middle", lit(middleBits))
          .otherwise(lit(tailBits)))
      .withColumn("_h",
        graft.text.TextSketch.md5PrefixLong(col(idCol).cast("string"), 15))
      .withColumn("kept", expr("shiftright(_h, 60 - _kb) = 0"))
      .drop("_h", "_kb", "t1", "t2")
  }

  /** Discrete per-stratum tercile thresholds over a (strataCol, score)
    * frame: t1 = smallest score whose cumulative count reaches n/3, t2 =
    * 2n/3 (cross-multiplied — integer-exact). Histogram-grain windows
    * only.
    */
  private def tercileThresholds(scores: DataFrame, strataCol: String): DataFrame = {
    val hist = scores.groupBy(col(strataCol), col("score"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(strataCol).orderBy("score")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(strataCol)
    hist.withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(wt))
      .groupBy(strataCol).agg(
        min(when(col("cum") * 3 >= col("n"), col("score"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score"))).as("t2"))
  }

  /** The shared tercile cut: per stratum of `target`, discrete-quantile
    * thresholds (t1 at n/3, t2 at 2n/3, cross-multiplied) over the
    * per-(stratum, score) histogram of `scores` — bounded by score
    * cardinality, never corpus size.
    */
  private def tercileSplit(target: DataFrame, scores: DataFrame,
      strataCol: String): DataFrame = {
    val thr = tercileThresholds(scores, strataCol)
    val buckets = scores.join(broadcast(thr), Seq(strataCol))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("scored_docs"),
        max("t1").as("t1_millibits"), max("t2").as("t2_millibits"),
        sum(when(col("score") <= col("t1"), 1L).otherwise(0L)).as("head_docs"),
        sum(when(col("score") > col("t1") && col("score") <= col("t2"), 1L)
          .otherwise(0L)).as("middle_docs"),
        sum(when(col("score") > col("t2"), 1L).otherwise(0L)).as("tail_docs"))
    target.groupBy(strataCol).agg(count(lit(1)).as("docs"))
      .join(buckets, Seq(strataCol), "left")
      .select(col(strataCol),
        coalesce(col("scored_docs"), lit(0L)).as("scored_docs"),
        (col("docs") - coalesce(col("scored_docs"), lit(0L))).as("unscored_docs"),
        coalesce(col("t1_millibits"), lit(0L)).as("t1_millibits"),
        coalesce(col("t2_millibits"), lit(0L)).as("t2_millibits"),
        coalesce(col("head_docs"), lit(0L)).as("head_docs"),
        coalesce(col("middle_docs"), lit(0L)).as("middle_docs"),
        coalesce(col("tail_docs"), lit(0L)).as("tail_docs"))
      .orderBy(strataCol)
  }

  /** Bloom-prefiltered exact decontamination — the scale tier above the
    * broadcast-exact-set join (q103). When the benchmark n-gram set is too
    * large to broadcast exactly, broadcast a FIXED-SIZE Bloom bitset of it
    * (`mBits` bits regardless of benchmark size), test every corpus gram
    * ROW-LOCALLY against the bits, and run the exact verification join
    * only over the bloom-positive survivors. Bloom filters have no false
    * negatives, so the final verdict is EXACT; the report carries the
    * measured false-positive accounting that prices the prefilter. Per
    * `groupCol`: docs, bloom_pos_docs, contaminated_docs, bloom_fp_docs.
    *
    * The bitset uses k=4 double-hashed probes over the same md5-60-bit
    * gram hash as the rest of the text stack, so a SQL oracle can replay
    * membership bit-for-bit. Building it collects the DISTINCT set bit
    * positions — bounded by `mBits` BY CONSTRUCTION, independent of
    * benchmark size, so the driver step stays constant-size at any scale
    * (the bitset IS the broadcast artifact).
    *
    * 100 TB shape: the corpus side is one explode + row-local bit tests
    * against an 8 KiB literal — no corpus-sized exchange; the only join
    * input on the corpus side is the bloom-POSITIVE gram set (true
    * matches + the fp-rate-sized remainder), which is what reaches the
    * exact-verify exchange. Deliberately NOT broadcasting the exact bench
    * set there — at this tier it no longer fits; survivors shuffle-join
    * it instead.
    */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame,
      gramK: Int = 8, mBits: Int = 1 << 16,
      textCol: String = "text", idCol: String = "doc_id",
      groupCol: String = "source", benchTextCol: String = "text"): DataFrame = {
    val (report, flagged) = bloomDecontaminateLazy(corpus, bench, gramK, mBits,
      textCol, idCol, groupCol, benchTextCol)
    // fill the pin first: the report's per-doc and exact-verify branches
    // would otherwise both compute a not-yet-cached partition
    flagged.count()
    // pin the (tiny, one-row-per-group) report eagerly so the cached
    // flagged blocks can be released before returning — otherwise every
    // call leaks a corpus-sized cache into a long-lived session
    val out = report.localCheckpoint(true)
    flagged.unpersist()
    out
  }

  /** The ACTION for [[bloomDecontaminate]]'s report: the corpus with
    * exact-contaminated documents REMOVED (doc grain — the chunk-grain
    * salvage sibling is q178's shape). Same gram/bloom/verify chain;
    * single-consumer plan, so nothing persists: one shingle pass, the
    * row-local bloom gate, the exact verify over bloom-positive
    * survivors, one id anti-join back onto the corpus — text stays on
    * the base scan side throughout.
    */
  def bloomDecontaminateSurvivors(corpus: DataFrame, bench: DataFrame,
      gramK: Int = 8, mBits: Int = 1 << 16,
      textCol: String = "text", idCol: String = "doc_id",
      benchTextCol: String = "text"): DataFrame = {
    val (benchGrams, flagged) = bloomFlagged(corpus, bench, gramK, mBits,
      textCol, idCol, idCol, benchTextCol)
    val contaminated = flagged.filter(col("bloom_hit"))
      .join(benchGrams, Seq("h"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The shared gram/bloom core: (benchGrams as 60-bit hashes, the
    * corpus gram frame with its row-local `bloom_hit` verdict —
    * UNpersisted; callers that fan out persist it themselves).
    */
  private def bloomFlagged(corpus: DataFrame, bench: DataFrame,
      gramK: Int, mBits: Int, textCol: String, idCol: String,
      groupCol: String, benchTextCol: String): (DataFrame, DataFrame) = {
    require(Integer.bitCount(mBits) == 1 && mBits >= 64,
      s"mBits must be a power of two >= 64, got $mBits")
    val mask = (mBits - 1).toLong
    def hash60(c: Column): Column = graft.text.TextSketch.md5PrefixLong(c, 15)
    // k=4 double-hashed probe positions: h1 + i*h2 mod m, h2 forced odd
    // so the probe stride cycles the full power-of-two table.
    def positions(h: Column): Column = {
      val h1 = h.bitwiseAND(lit(mask))
      val h2 = shiftright(h, 16).bitwiseAND(lit(mask)).bitwiseOR(lit(1L))
      array((0 until 4).map(i => (h1 + lit(i.toLong) * h2).bitwiseAND(lit(mask))): _*)
    }

    // the native one-pass shingle expression, not the arrays_zip/transform
    // HOF chain: at gramK=8 the HOF materializes 8 sliced arrays plus a
    // zipped struct array per document — measured ~3x the shingle cost
    val benchGrams = bench.select(
        explode(graft.text.TextSketch.wordShingles(col(benchTextCol), gramK))
          .as("gram"))
      .select(hash60(col("gram")).as("h")).distinct()

    val posRows = benchGrams.select(explode(positions(col("h"))).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val bits = new Array[Long](mBits / 64)
    posRows.foreach(p => bits(p.toInt >> 6) |= (1L << (p.toInt & 63)))
    val bitsLit = typedLit(bits.toSeq)

    def testBit(pos: Column): Column = {
      val word = element_at(bitsLit, shiftright(pos, 6).cast("int") + 1)
      // functions.shiftright takes only a literal shift count
      ColumnBridge.native(
          e => ShiftRight(e(0), e(1)), word, pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }

    // No distinct: every consumer is duplicate-insensitive (max /
    // semi-join / doc-level distinct), so the extra exchange would buy
    // nothing.
    val grams = corpus.select(
        (Seq(col(idCol)) ++ (if (groupCol == idCol) Nil else Seq(col(groupCol)))
          :+ explode(graft.text.TextSketch.wordShingles(col(textCol), gramK))
            .as("gram")): _*)
      .select((Seq(col(idCol))
        ++ (if (groupCol == idCol) Nil else Seq(col(groupCol)))
        :+ hash60(col("gram")).as("h")): _*)
    val flagged = grams.withColumn("ps", positions(col("h")))
      .withColumn("bloom_hit",
        (1 to 4).map(i => testBit(element_at(col("ps"), i))).reduce(_ && _))
      .drop("ps")
    (benchGrams, flagged)
  }

  /** [[bloomDecontaminate]]'s plan, un-materialized: (report, the
    * persisted flagged frame). For plan-shape inspection — the public
    * entry point checkpoints the report and releases the cache, which
    * collapses its executedPlan to a block scan. Callers own the
    * unpersist. The flagged frame is persisted here because it feeds
    * BOTH the per-doc report and the exact-verify branch — one
    * shingle+hash+probe pass, not one per consumer.
    */
  private[graft] def bloomDecontaminateLazy(corpus: DataFrame, bench: DataFrame,
      gramK: Int = 8, mBits: Int = 1 << 16,
      textCol: String = "text", idCol: String = "doc_id",
      groupCol: String = "source", benchTextCol: String = "text"): (DataFrame, DataFrame) = {
    val (benchGrams, flagged0) = bloomFlagged(corpus, bench, gramK, mBits,
      textCol, idCol, groupCol, benchTextCol)
    val flagged = flagged0.persist()

    val perDoc = flagged.groupBy(idCol, groupCol)
      .agg(max(when(col("bloom_hit"), 1L).otherwise(0L)).as("bpos"))
    val exactHits = flagged.filter(col("bloom_hit"))
      .join(benchGrams, Seq("h"), "left_semi")
      .select(col(idCol)).distinct().withColumn("cont", lit(1L))

    val report = corpus.groupBy(groupCol).agg(count(lit(1)).as("docs"))
      .join(perDoc.join(exactHits, Seq(idCol), "left")
        .groupBy(groupCol)
        .agg(sum("bpos").as("bp"),
          sum(coalesce(col("cont"), lit(0L))).as("cd")),
        Seq(groupCol), "left")
      .select(col(groupCol), col("docs"),
        coalesce(col("bp"), lit(0L)).as("bloom_pos_docs"),
        coalesce(col("cd"), lit(0L)).as("contaminated_docs"),
        (coalesce(col("bp"), lit(0L)) - coalesce(col("cd"), lit(0L)))
          .as("bloom_fp_docs"))
      .orderBy(groupCol)
    (report, flagged)
  }

  /** Duplicated-SPAN extraction (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022 — the approximate,
    * window-hash formulation): every OVERLAPPING `windowTokens`-token
    * window is fingerprinted; a window duplicated anywhere in the corpus
    * marks its tokens, and maximal runs of consecutive duplicated windows
    * are the removable spans. Unlike [[chunkDedupReport]] (non-overlapping
    * chunks, per-doc counts), this localizes WHERE the duplicated text
    * sits and how long it runs. Report per `groupCol`: docs,
    * docs_with_dup_span, max_span_tokens, dup_windows.
    *
    * 100 TB shape: windowing and hashing are row-local in the scan stage;
    * what shuffles is (id, group, h, positions) — never text. Global
    * multiplicity is the two-level aggregate (the q116 discipline: one
    * text scan, hot boilerplate keys split across documents at the
    * map-side combine, the h-keyed semi-join AQE-splittable), and the
    * run/island detection is a per-doc window over only the DUPLICATED
    * window rows.
    */
  def dupSpanReport(docs: DataFrame, windowTokens: Int = 10,
      textCol: String = "text", idCol: String = "doc_id",
      groupCol: String = "source"): DataFrame = {
    // the (id, group, h) grain computes ROW-LOCALLY (native
    // WindowHashGroups — the grouping keys contain the doc id, so the
    // old posexplode → groupBy corpus-window-grain exchange never needed
    // to exist; guide §2.3/§2.4). The window key is the 60-bit md5
    // prefix, not the 32-char hex string (guide §2.3 — narrower shuffle
    // keys; same approximation argument as removeDupSpans). Multiplicity
    // stays the two-level aggregate — see chunkDedupReport: windows
    // cannot split a hot boilerplate key; the doc grain combines
    // map-side and the semi-join is AQE-splittable.
    val perDocWin = docs.select(col(idCol), col(groupCol),
        explode(graft.text.TextSketch.windowHashGroups(
          col(textCol), windowTokens, 1, tail = false)).as("g"))
      .select(col(idCol), col(groupCol), col("g.h").as("h"),
        col("g.iis").as("iis"), col("g.k").as("k"))
    val hTot = perDocWin.groupBy("h").agg(sum("k").as("cnt"))
      .filter(col("cnt") > 1).select("h")
    val dup = perDocWin.join(hTot, Seq("h"), "left_semi")
      .select(col(idCol), col(groupCol), explode(col("iis")).as("i"))
    val wrun = Window.partitionBy(idCol).orderBy("i")
    val runs = dup.withColumn("grp", col("i") - row_number().over(wrun))
      .groupBy(idCol, groupCol, "grp")
      .agg(count(lit(1)).as("len"))
      .withColumn("span", col("len") + (windowTokens - 1))
    val perDoc = runs.groupBy(idCol, groupCol)
      .agg(max("span").as("max_span"), sum("len").as("dupw"))
    docs.groupBy(groupCol).agg(count(lit(1)).as("docs"))
      .join(perDoc.groupBy(groupCol)
        .agg(count(lit(1)).as("dd"), max("max_span").as("ms"),
          sum("dupw").as("dw")),
        Seq(groupCol), "left")
      .select(col(groupCol), col("docs"),
        coalesce(col("dd"), lit(0L)).as("docs_with_dup_span"),
        coalesce(col("ms"), lit(0L)).as("max_span_tokens"),
        coalesce(col("dw"), lit(0L)).as("dup_windows"))
      .orderBy(groupCol)
  }

  /** The ACTION for [[dupSpanReport]]'s findings (the same
    * report-to-action closure as q170→rebuildAndSwap): rewrite each
    * document with its duplicated spans REMOVED — Lee et al.'s actual
    * dedup step, where the report only locates the spans. A token is
    * dropped when ANY corpus-duplicated window covers it (the union of
    * covered ranges IS the span set — no island merging needed at
    * removal grain). Output: one row per doc — (idCol, n_tokens,
    * n_kept, clean_md5, clean_text), with clean_text the kept tokens
    * re-joined in order.
    *
    * 100 TB shape: window hashing is row-local; what shuffles is
    * (id, h, positions) — never text, and multiplicity is the two-level
    * aggregate (hot boilerplate keys split across documents map-side;
    * see [[chunkDedupReport]]). Per-doc dup-window positions come back
    * as ONE bounded array (bounded by the doc's own length, not the
    * corpus), and the rewrite is a row-local HOF filter over the token
    * array — the text column never leaves its scan-side row.
    */
  def removeDupSpans(docs: DataFrame, windowTokens: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // window key = 60-bit md5 prefix, not the 32-char hex string: the
    // (id, h) shuffle carries an 8-byte long per window instead of a
    // 32-char string (guide §2.3 — narrower shuffle keys; the window
    // hash is already the paper's approximation, and 60 bits keeps the
    // collision odds negligible at any corpus the full digest served).
    // The (id, h) grain itself computes ROW-LOCALLY (native
    // WindowHashGroups — the grouping key set contains the doc id, so
    // the old posexplode → groupBy(id, h) corpus-window-grain exchange
    // never needed to exist; guide §2.3/§2.4, the TermPostings case).
    // Multiplicity stays the two-level aggregate (the chunkDedupReport
    // discipline): per-h totals reduce the doc-collapsed frame and the
    // semi-join is AQE-splittable — no unsplittable hot-key window.
    val perDocWin = docs.select(col(idCol),
        explode(graft.text.TextSketch.windowHashGroups(
          col(textCol), windowTokens, 1, tail = false)).as("g"))
      .select(col(idCol), col("g.h").as("h"), col("g.iis").as("iis"),
        col("g.k").as("k"))
    val hTot = perDocWin.groupBy("h").agg(sum("k").as("cnt"))
      .filter(col("cnt") > 1).select("h")
    val dup = perDocWin.join(hTot, Seq("h"), "left_semi")
      .select(col(idCol), explode(col("iis")).as("i"))
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("i"))).as("dupw"))
    val toks = tokens(col(textCol))
    // kept-token rewrite is the native SpanKeepTokens kernel: O(tokens +
    // dup-windows) with no per-token interpreted lambda frame (guide §4 —
    // the old filter/exists HOF chain was O(tokens × dup-windows) on
    // exactly the boilerplate-heavy documents with many dup windows).
    // Same semantics: token p drops iff some i ∈ dupw has
    // i <= p < i + windowTokens; NULL dupw keeps everything.
    docs.join(dup, Seq(idCol), "left")
      .withColumn("toks", toks)
      .withColumn("kept",
        graft.text.TextSketch.spanKeepTokens(col("toks"), col("dupw"),
          1, windowTokens))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("clean_md5"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** Keep-FIRST-copy segment dedup with document reassembly — the other
    * published answer to corpus-level duplication ([[removeDupSpans]]
    * drops every copy, Lee et al.; RefinedWeb/MassiveText-style exact
    * dedup keeps ONE canonical copy so the content itself survives
    * training). Documents are cut into consecutive non-overlapping
    * `segmentTokens`-token segments (trailing partial included — no text
    * is exempt from dedup); for each distinct segment hash the keeper is
    * the corpus-minimal (id, seg) occurrence, every other occurrence is
    * dropped, and each document is rebuilt from its surviving segments
    * in order. Output per doc: (idCol, n_segments, n_kept, clean_md5).
    *
    * 100 TB shape: the [[removeDupSpans]] discipline — segment text is
    * hashed in the scan stage and only (id, seg, h) longs shuffle; the
    * keeper election is a plain groupBy(h) (min of a (id, seg) struct —
    * no window, AQE-splittable), the drop-list comes back per doc as ONE
    * bounded array, and the rebuild is a row-local HOF filter over the
    * doc's own token array. Text never leaves its scan-side row.
    */
  def dedupSegmentsKeepFirst(docs: DataFrame, segmentTokens: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(segmentTokens >= 1, s"segmentTokens must be >= 1: $segmentTokens")
    val segN = segmentTokens
    val toks = tokens(col(textCol))
    // segment i = tokens [i*segN, (i+1)*segN), 0-based, trailing partial
    // included (tail = true). Hashing is native and row-local
    // (WindowHashGroups — no interpreted transform/slice/array_join
    // chain, no materialized segment-string array; guide §4); the 60-bit
    // segment key (see removeDupSpans) is the group h — clean_md5 below
    // stays the full digest, it is part of the declared output
    val segs = docs
      .select(col(idCol),
        explode(graft.text.TextSketch.windowHashGroups(
          col(textCol), segN, segN, tail = true)).as("g"))
      .select(col(idCol), col("g.h").as("h"),
        explode(col("g.iis")).as("seg"))
    val keepers = segs.groupBy("h")
      .agg(min(struct(col(idCol), col("seg"))).as("kp"))
    val drops = segs.join(keepers, Seq("h"))
      .filter(!(struct(col(idCol), col("seg")) === col("kp")))
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("seg"))).as("dropw"))
    docs.join(drops, Seq(idCol), "left")
      .withColumn("toks", toks)
      .withColumn("nseg", ceil(size(col("toks")).cast("double") / segN).cast("long"))
      // native SpanKeepTokens at segment grain (stride = width = segN):
      // token p drops iff its segment index is in dropw — see
      // removeDupSpans for the O(tokens × drops) HOF chain this replaces
      .withColumn("keptToks",
        graft.text.TextSketch.spanKeepTokens(col("toks"), col("dropw"),
          segN, segN))
      .select(col(idCol),
        col("nseg").as("n_segments"),
        (col("nseg") - coalesce(size(col("dropw")).cast("long"), lit(0L)))
          .as("n_kept"),
        md5(array_join(col("keptToks"), " ")).as("clean_md5"))
  }

  /** Materialize the interleaved training order (q142's layout) the way a
    * 100-TB run must: no global row_number window (whose single ordered
    * partition serializes the corpus through one task), but
    * `repartitionByRange` on the interleave key (rk, source) + an
    * in-partition sort, written as part files whose key ranges do not
    * overlap — reading the files in name order IS the global order. This
    * is the scale path q142's registry query stands in for; the spec
    * proves file-order concatenation reproduces the window-built order
    * row for row.
    *
    * The interleave key is (rank-within-source by content-addressed md5,
    * then source): round-robin across sources while they last, each
    * source's internal order itself a reproducible shuffle. The rank is
    * the distributed [[rankByStratum]] (the per-source row_number window
    * this function's doc rails against would itself be one task per
    * source). Range boundaries come from Spark's sampled RangePartitioner
    * — boundary PLACEMENT may vary with sampling, the total order never
    * does.
    */
  def writeTrainingOrder(docs: DataFrame, path: String, numFiles: Int = 8,
      idCol: String = "doc_id", sourceCol: String = "source"): Unit = {
    rankByStratum(docs.select(col(idCol), col(sourceCol)), sourceCol, idCol)
      .repartitionByRange(numFiles, col("rk"), col(sourceCol))
      .sortWithinPartitions("rk", sourceCol)
      .write.mode("overwrite").parquet(path)
  }

  /** q142's verdict report computed FROM a [[writeTrainingOrder]] layout
    * with NO global window anywhere: restore the tiled discipline
    * (`repartitionByRange` on the interleave key + in-partition sort, so
    * partition p holds a contiguous slice of the global order), run-length
    * encode each partition in ONE streaming pass (an iterator, not a
    * buffered list — runs stream out as rows stream in), then stitch runs
    * that span partition boundaries through a collected boundary table of
    * one row per partition. Driver state is O(partitions); run rows stay
    * distributed (at 100 TB, runs ≈ docs while all sources are live).
    * Output: per source — runs, docs, first_pos (1-based global), max_run
    * — byte-identical to the window-built report (oracle-shared with the
    * retired row_number shorthand).
    */
  def trainingOrderReport(spark: org.apache.spark.sql.SparkSession,
      path: String, numFiles: Int = 8,
      sourceCol: String = "source"): DataFrame = {
    import spark.implicits._
    val tiled = spark.read.parquet(path)
      .repartitionByRange(numFiles, col("rk"), col(sourceCol))
      .sortWithinPartitions("rk", sourceCol)
      .select(col(sourceCol).cast("string").as[String])
    // one row per partition-local run: (pid, run, src, len, local_start)
    val runs = tiled.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      if (!it.hasNext) Iterator.empty
      else new Iterator[(Int, Long, String, Long, Long)] {
        private var nextStart = 0L
        private var runIdx = -1L
        private var lookahead = it.next()
        private var exhausted = false
        def hasNext: Boolean = !exhausted
        def next(): (Int, Long, String, Long, Long) = {
          val src = lookahead
          val start = nextStart
          var len = 1L
          var continued = false
          while (it.hasNext && !continued) {
            val s = it.next()
            if (s == src) len += 1 else { lookahead = s; continued = true }
          }
          if (!continued) exhausted = true
          nextStart = start + len
          runIdx += 1
          (pid, runIdx, src, len, start)
        }
      }
    }.toDF("pid", "run", "src", "len", "local_start")
      // runs feed two consumers (boundary table + final grouping); cache
      // the narrow frame so the corpus is run-length encoded exactly once
      .persist()
    // boundary table: ≤ 1 row per partition, collected to the driver
    val parts = runs.groupBy("pid").agg(
        sum("len").as("rows"), max("run").as("last_run"),
        min_by(col("src"), col("run")).as("first_src"),
        max_by(col("src"), col("run")).as("last_src"))
      .orderBy("pid")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    // pid -> global position offset (prefix sums of partition row counts)
    var acc = 0L
    val offsets = parts.map { case (pid, rows, _, _, _) =>
      val o = acc; acc += rows; (pid, o)
    }.toSeq
    // chain boundary-spanning runs: a partition's FIRST run merges into
    // the previous chain when sources match; single-run partitions chain
    // through. remap holds (pid, run) -> chain-head key for merged heads.
    val remap = scala.collection.mutable.ArrayBuffer[(Int, Long, Int, Long)]()
    var headPid = -1; var headRun = -1L; var headSrc: String = null
    parts.foreach { case (pid, _, lastRun, firstSrc, lastSrc) =>
      if (headSrc != null && headSrc == firstSrc) {
        remap += ((pid, 0L, headPid, headRun))
        if (lastRun != 0L) { headPid = pid; headRun = lastRun; headSrc = lastSrc }
        // single-run partition: chain head (and source) carry forward
      } else {
        headPid = pid; headRun = lastRun; headSrc = lastSrc
      }
    }
    val offDf = broadcast(offsets.toDF("pid", "off"))
    val remapDf = broadcast(remap.toSeq.toDF("pid", "run", "gpid", "grun"))
    // release the cache eagerly (async): the boundary collect above has
    // already run off it, and the returned rollup either reads blocks
    // still resident or recomputes the partition-local RLE — Spark
    // falls back to recompute for evicted cached blocks by design. The
    // alternative (holding the cache for the caller) leaks one pinned
    // frame per report invocation for the life of the session.
    runs.unpersist(blocking = false)
    runs.join(offDf, Seq("pid"))
      .join(remapDf, Seq("pid", "run"), "left")
      .select(
        coalesce(col("gpid"), col("pid")).as("gp"),
        coalesce(col("grun"), col("run")).as("gr"),
        col("src"), col("len"), (col("off") + col("local_start") + 1L).as("gpos"))
      .groupBy("gp", "gr")
      .agg(max("src").as("source"), // identical across a merged chain
        sum("len").as("run_len"), min("gpos").as("run_pos"))
      .groupBy("source")
      .agg(count(lit(1)).as("runs"),
        sum(col("run_len")).as("docs"),
        min(col("run_pos")).as("first_pos"),
        max(col("run_len")).as("max_run"))
      .orderBy("source")
  }

  /** Materialize [[packSegments]]'s dataloader index as the on-disk
    * training-corpus layout: segment rows written under
    * `path/segments/<stratum>=.../`, range-partitioned and sorted by
    * (seq, seg_start) inside each stratum (the [[writeTrainingOrder]]
    * discipline — reading a stratum's files in name order streams its
    * sequences in order, no global sort anywhere), plus a
    * `path/_manifest` parquet (stratum, sequences, segments, tokens)
    * written AFTER the data through the crash-safe staged swap — so a
    * loader that sees a manifest is guaranteed complete data under it,
    * and sizes its epochs from ~one row per stratum.
    */
  def writePackedCorpus(docs: DataFrame, path: String, seqTokens: Int = 512,
      numFiles: Int = 8, strataCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    // pinned: the segment frame feeds BOTH the layout write and the
    // manifest aggregate — un-materialized, the whole tokenize + cumsum
    // chain (including its pass-1 stats job) ran once per consumer
    // (guide §5: reused AND expensive; the rows are narrow longs)
    val segs = packSequences(docs, seqTokens, strataCol, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      segs
        .repartitionByRange(numFiles, col(strataCol), col("seq"))
        .sortWithinPartitions(strataCol, "seq", "seg_start")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(strataCol).parquet(s"$path/segments")
      val manifest = segs.groupBy(strataCol).agg(
        countDistinct("seq").as("sequences"),
        count(lit(1)).as("segments"),
        sum("seg_len").as("tokens"))
      graft.io.Writers.overwrite(manifest, s"$path/_manifest")
    } finally { segs.unpersist(); () }
  }

  /** The LOADER side of [[writePackedCorpus]]: read the packed layout
    * back as the dataloader's segment stream, manifest-gated. The
    * manifest is read FIRST and must exist — it is written through the
    * crash-safe staged swap strictly after the data, so its presence
    * guarantees complete segment files under it; a missing manifest
    * means an unfinished (or crashed) write and the loader must not
    * serve a partial corpus. Totals are re-counted from the data and
    * verified against the manifest row for row (a mismatch is corruption
    * or concurrent mutation — fail loudly, never train on it).
    * Returns (manifest, segments): the ~one-row-per-stratum sizing frame
    * and the segment stream, which reads in training order per stratum
    * when consumed file-by-file (the range-partitioned, sorted layout
    * the writer produced — no shuffle needed to restore order).
    *
    * `epoch` is the multi-epoch reshuffle, WITHOUT rewriting a byte:
    * every epoch's segment stream carries an `epoch_ord` string column —
    * the per-stratum consumption order at SEQUENCE (shard) grain, with
    * segments inside a sequence staying in `seg_start` order. Epoch 0 is
    * the written order (`epoch_ord` = zero-padded `seq`, so ordering by
    * it IS the on-disk file order); epoch n >= 1 re-ranks sequences by
    * md5(n ":" stratum ":" seq) — the content-addressed discipline, so
    * the permutation is a pure function of (epoch, identity): every
    * engine, run, retry and cluster size deals the same deal, epochs
    * decorrelate from each other and from the written order, and nothing
    * is sampled or seeded from session state. The order is a COLUMN, not
    * a physical sort: the plan stays scan-shaped (spec-asserted
    * sort-free), and a dataloader consumes (stratum, epoch_ord, seq,
    *  seg_start) — per-partition ordered reads, never a global sort; ties
    * are impossible at the md5 level in practice and broken by `seq`
    * either way.
    */
  def readPackedCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String, epoch: Int = 0): (DataFrame, DataFrame) = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    val manifestPath = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(manifestPath),
      s"no manifest at $path — the packed write did not complete; refusing " +
        "to serve a possibly-partial corpus")
    val manifest = spark.read.parquet(s"$path/_manifest")
    val strataCol = manifest.columns.head
    // the stratum comes back as a PARTITION column, whose type is
    // re-INFERRED from directory names — numeric-looking language codes
    // would read back int and make the verification join below report
    // spurious mismatches (or silently cast); a NULL stratum round-trips
    // as the hive default-partition directory name. Recover the
    // manifest's authoritative type: string first (inference-proof), map
    // the hive sentinel back to NULL, then cast to the written dtype.
    val strataType = manifest.schema.head.dataType
    val segs = spark.read.parquet(s"$path/segments")
      .withColumn(strataCol,
        when(col(strataCol).cast("string") === "__HIVE_DEFAULT_PARTITION__",
          lit(null)).otherwise(col(strataCol).cast("string"))
          .cast(strataType))
    val recounted = segs.groupBy(strataCol).agg(
      countDistinct("seq").as("sequences"),
      count(lit(1)).as("segments"),
      sum("seg_len").as("tokens"))
    // join NULL-SAFELY on the stratum: a null stratum is legitimate (it
    // round-trips through the hive default-partition sentinel above), and
    // an equi-join would never match its recount row against its manifest
    // row — rejecting a complete, verified corpus
    val r = recounted.toDF(s"r_$strataCol", "r_sequences", "r_segments",
      "r_tokens")
    val mismatches = manifest
      .join(r, col(strataCol) <=> col(s"r_$strataCol"), "full_outer")
      .filter(!(col("sequences") <=> col("r_sequences")) ||
        !(col("segments") <=> col("r_segments")) ||
        !(col("tokens") <=> col("r_tokens")))
      .collect()
    require(mismatches.isEmpty,
      s"manifest/data mismatch at $path: ${mismatches.mkString("; ")}")
    val ordered = segs.withColumn("epoch_ord",
      if (epoch == 0) format_string("%019d", col("seq"))
      else md5(concat_ws(":", lit(epoch), col(strataCol), col("seq"))))
    (manifest, ordered)
  }

  /** Right-to-be-forgotten propagation into the PACKED corpus — the
    * training-data sibling of [[graft.ml.AnnIndex.forget]]: a deleted
    * user's documents must leave the corpus a dataloader actually
    * streams, not just the source table. Rewrites ONLY the stratum
    * partitions that contain forgotten ids (each re-range-partitioned
    * and re-sorted by (seq, seg_start), preserving the file-order-is-
    * training-order layout, swapped through a dot-prefixed staging/
    * backup rename-rename), then recounts and rewrites the manifest
    * through [[graft.io.Writers.overwrite]]'s staged swap STRICTLY after
    * the data — so the manifest-gate invariant holds throughout: a
    * reader mid-forget (or after a crash) fails the verification loudly
    * rather than serving rows the manifest no longer vouches for.
    * Re-running forget heals: stranded backups are restored first and
    * the manifest recount is idempotent. Sequences that lose a segment
    * keep their other segments (the loader tolerates short sequences —
    * the alternative, re-packing, would rewrite the whole corpus for
    * one deletion). Returns the number of segment rows removed.
    *
    * 100 TB shape: the per-stratum loop is bounded by the stratum count
    * (the partition layout's own grain); each rewrite reads and writes
    * one stratum's narrow (seq, id, seg_start, seg_len) rows; the id
    * frame stays distributed in the anti-join.
    */
  /** Decode one layer of URI %XX percent-encoding (UTF-8). NOT
    * URLDecoder.decode: that is form decoding, which maps '+' to a space —
    * wrong for a path component where '+' is literal. Malformed escapes
    * pass through untouched (a raw dir name that merely contains '%' was
    * Hive-escaped on write, so a well-formed input never has a bare '%').
    */
  private def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        out.write(Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16))
        i += 3
      } else {
        val bs = String.valueOf(c).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write(bs, 0, bs.length)
        i += 1
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  def forgetFromPackedCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String = "doc_id"): Long = {
    import org.apache.hadoop.fs.Path
    val manifestPath = new Path(s"$path/_manifest")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(manifestPath),
      s"no manifest at $path — refusing to forget from an unfinished corpus")
    val manifest = spark.read.parquet(s"$path/_manifest")
    val strataCol = manifest.columns.head
    val strataType = manifest.schema.head.dataType
    val segRoot = new Path(s"$path/segments")
    val stgRoot = new Path(segRoot, ".forget_staging")
    val bakRoot = new Path(segRoot, ".forget_bak")
    // heal a crashed forget: a stratum stranded under backup (live
    // missing) is restored whole; leftover staging is discarded
    graft.io.Swap.restoreAll(fs, bakRoot, segRoot)
    if (fs.exists(stgRoot)) fs.delete(stgRoot, true)
    val idFrame = ids.select(col(idCol)).distinct()
    // ONE global pass finds the hit strata AND their removed-row counts
    // (guide §1.2/§5 — the per-stratum isEmpty probe, before-count, and
    // staged read-back count were 3 sequential driver-blocking jobs PER
    // stratum; a billion-stratum corpus pays them serially). Keyed by the
    // PHYSICAL directory name via input_file_name — exact, with no
    // partition-value unescaping round-trip; the semi-join keeps the id
    // frame distributed. The collected map is one small row per HIT
    // stratum (bounded by the strata the deletion actually touches).
    // input_file_name() returns the URI-ENCODED path (Spark >= 3.4), while
    // FileStatus.getName below is the raw directory name — a stratum value
    // containing a space, '%', or any non-ASCII char would never match and
    // be SILENTLY skipped (undeleted rows in an RTBF path). Decode one
    // layer of %XX percent-encoding driver-side ('+' stays literal — URI
    // path encoding, unlike URLDecoder's form encoding, never means space
    // by '+'); the map is one small row per hit stratum.
    val hitCounts = spark.read.parquet(segRoot.toString)
      .withColumn("_dir",
        regexp_extract(input_file_name(), "/segments/([^/]+)/[^/]*$", 1))
      .join(idFrame, Seq(idCol), "left_semi")
      .groupBy("_dir").agg(count(lit(1)).as("n"))
      .collect().map(r => percentDecode(r.getString(0)) -> r.getLong(1)).toMap
    // NOTE on the dropped staged read-back count: the old loop re-counted
    // each staged directory before swapping it in as an independent sanity
    // check. The semi-join count above is exact under anti-join semantics
    // (removed = rows whose id is in the deletion set, which is precisely
    // what the rewrite drops), and PackedForgetSpec pins the returned
    // count, the post-forget corpus content, the crash/heal contract and
    // the escaped-strata path end-to-end — the read-back would re-add one
    // driver-blocking job per stratum to re-derive a number the oracle'd
    // tests already pin.
    // rewrite the hit strata CONCURRENTLY: each stratum's anti-join
    // write + Swap.promote touches only its own directory, so the
    // jobs are independent — submitting them from parallel driver
    // threads lets the scheduler overlap them instead of paying one
    // driver-blocking round trip per stratum (guide §1.2; the crash
    // contract is unchanged — a failure mid-fleet leaves the same state
    // a failure mid-loop did, and re-running heals via the backup dirs).
    // On a failed stratum the pool drains before the failure propagates,
    // so a caller that catches and re-runs forget never races its heal
    // pass against still-live rewrites
    val hitDirs = fs.listStatus(segRoot)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .filter(st => hitCounts.contains(st.getPath.getName))
      .toSeq
    if (hitDirs.nonEmpty) fs.mkdirs(bakRoot)
    val removed = graft.io.Parallel.map(hitDirs) { st =>
      val name = st.getPath.getName
      val nFiles = math.max(1, fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")))
      val kept = spark.read.parquet(st.getPath.toString)
        .join(idFrame, Seq(idCol), "left_anti")
        .repartitionByRange(nFiles, col("seq"))
        .sortWithinPartitions("seq", "seg_start")
      val stg = new Path(stgRoot, name)
      kept.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(stg.toString)
      graft.io.Swap.promote(fs, stg, st.getPath, new Path(bakRoot, name))
      hitCounts(name)
    }.sum
    fs.delete(stgRoot, true)
    if (fs.exists(bakRoot) && fs.listStatus(bakRoot).isEmpty)
      fs.delete(bakRoot, true)
    // manifest refresh — the readPackedCorpus type-recovery discipline,
    // written strictly AFTER every data swap completed
    val post = spark.read.parquet(s"$path/segments")
      .withColumn(strataCol,
        when(col(strataCol).cast("string") === "__HIVE_DEFAULT_PARTITION__",
          lit(null)).otherwise(col(strataCol).cast("string"))
          .cast(strataType))
    graft.io.Writers.overwrite(
      post.groupBy(strataCol).agg(
        countDistinct("seq").as("sequences"),
        count(lit(1)).as("segments"),
        sum("seg_len").as("tokens")),
      s"$path/_manifest")
    removed
  }

  /** Exact-dedup for a DOCUMENT STREAM: normalize-fingerprint each doc
    * row-local (md5 of lowercased whitespace-collapsed text) and keep the
    * first arrival per fingerprint. Under Structured Streaming the state
    * store holds one fingerprint per doc bounded by the `watermark` on
    * `tsCol` (late duplicates beyond it age out — the same bounded-state
    * discipline as [[graft.streaming.EventStreams.dedupById]]); the same
    * plan runs identically in batch, where the watermark is a no-op. This
    * is the continuous-ingest counterpart of the batch ledger
    * (incremental dedup q122) for the exact-duplicate layer.
    */
  def fingerprintDedupStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ingest_ts", watermark: String = "10 minutes"): DataFrame = {
    val fp = docs.withColumn("fp",
      graft.text.TextFunctions.fingerprint(col(textCol)))
    // dropDuplicatesWithinWatermark, not dropDuplicates: plain streaming
    // dropDuplicates only evicts state when the event-time column is part
    // of the dedup subset, so keying on `fp` alone would grow state
    // unboundedly despite the watermark (same rule as dedupById)
    if (fp.isStreaming)
      fp.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  // ---- MinHash signature store -------------------------------------------

  /** LSH geometry shared by the signature store and the registry's
    * near-dup queries: 16 hashes in 4 bands of 4 rows, with 60-bit
    * golden-ratio xor-mix seeds (the k-from-1 construction).
    */
  val MinHashNumHashes = 16
  val MinHashBandRows = 4
  def minhashSeeds: Seq[Long] =
    (0 until MinHashNumHashes).map(i => (i.toLong * 0x9E3779B97F4A7CL) & ((1L << 60) - 1))

  /** Per-doc MinHash signatures — (doc_id, sig ARRAY<BIGINT>[16]) — the
    * rows a signature store persists. Row-local in the scan stage (native
    * [[graft.text.MinHashSig]]); docs too short to shingle are omitted
    * (they can never near-dup by signature).
    */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleWidth: Int = 3): DataFrame = {
    docs
      .filter(size(split(trim(col(textCol)), "\\s+")) >= shingleWidth)
      .select(col(idCol).as("doc_id"),
        graft.text.TextSketch.minhashSig(col(textCol), shingleWidth, minhashSeeds).as("sig"))
  }

  /** Persist the signature store at INGEST (crash-safe replace). This is
    * the operational design q122's scale note promises: once signatures
    * are stored, checking an arriving batch costs O(batch + matching
    * bands) and the history corpus contributes only (doc_id, sig) rows —
    * its text is NEVER read again.
    */
  def writeSignatureStore(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleWidth: Int = 3): Unit =
    graft.io.Writers.overwrite(minhashSignatures(docs, idCol, textCol, shingleWidth), path)

  /** Persist the signature store PRE-BANDED and BUCKETED by `band_key`
    * (managed table via [[graft.io.Writers.writeBucketed]]): each stored
    * doc becomes its 4 (doc_id, sig, band_key) band rows, hash-bucketed on
    * the join key. This is the 100-TB ingest shape: a per-batch
    * [[incrementalNearDup]] then co-locates on the bucketed scan's own
    * partitioning — the batch side (small) shuffles to the bucket count,
    * the store side (the 100-TB-scale one) is read in place with NO
    * exchange (plan-asserted in CurationSpec). The path-based
    * [[writeSignatureStore]] remains for stores too small to care.
    */
  def writeBandedSignatureStore(docs: DataFrame, table: String,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      shingleWidth: Int = 3): Unit =
    graft.io.Writers.writeBucketed(
      bandRows(minhashSignatures(docs, idCol, textCol, shingleWidth)),
      table, Seq("band_key"), buckets)

  /** LSH band rows over a signature frame: (doc_id, sig, band_key). The
    * band INDEX explodes below the key projection and keys build above the
    * Generate barrier (the CollapseProject hazard documented on q35).
    */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(MinHashNumHashes / MinHashBandRows - 1))).as("band"))
      .select(col("doc_id"), col("sig"), concat_ws("|",
        col("band").cast("string") +:
          (0 until MinHashBandRows).map(i =>
            element_at(col("sig"), col("band") * MinHashBandRows + lit(i + 1))): _*)
        .as("band_key"))

  /** Signature-estimate Jaccard: fraction of matching minhash components.
    * The store-backed verdict metric — with signatures for both sides,
    * near-dup needs no text re-join at all (expectation of the estimator
    * IS the Jaccard similarity; at 16 components the estimate is coarse
    * but the LSH banding already gated candidates at ~the same scale).
    */
  private def sigJaccardEst(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / MinHashNumHashes

  /** Incremental near-dup of an arriving batch against a signature store.
    * Two-phase policy (q122): a batch doc is `dropped_vs_history` when its
    * signature-estimate Jaccard to ANY stored signature reaches
    * `estThreshold`; else `dropped_in_batch` against an earlier-id batch
    * doc; else `accepted`. Docs too short to sign are accepted.
    *
    * Scale shape: batch signatures compute row-local from text; the store
    * side reads (doc_id, sig) columns only; both exchanges carry
    * (band_key, doc_id, sig[16]) — no document text anywhere after the
    * batch's own scan stage.
    *
    * @param store the signature store frame (schema of
    *   [[minhashSignatures]]) — e.g. `spark.read.parquet(storePath)`
    * @return one row per batch doc: (idCol, verdict)
    */
  def incrementalNearDup(batch: DataFrame, store: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleWidth: Int = 3, estThreshold: Double = 0.5): DataFrame = {
    val batchBands = bandRows(minhashSignatures(batch, idCol, textCol, shingleWidth))
    // a store that already carries band_key rows (the bucketed layout of
    // writeBandedSignatureStore) is used AS-IS — its bucketing then feeds
    // the join with no store-side exchange; a plain (doc_id, sig) store
    // is banded here (and pays a store-side shuffle, acceptable small)
    val storeBands =
      if (store.columns.contains("band_key"))
        store.select(col("doc_id"), col("sig"), col("band_key"))
      else bandRows(store.select(col("doc_id"), col("sig")))

    verdictsFromBands(batch.select(col(idCol)), batchBands, storeBands,
      idCol, estThreshold)
  }

  /** The policy core of [[incrementalNearDup]], over already-banded
    * frames — shared by the batch entry point and the streaming ingest
    * loop (which computes batch bands once and reuses them for the store
    * append).
    */
  private def verdictsFromBands(batchIds: DataFrame, batchBands: DataFrame,
      storeBands: DataFrame, idCol: String, estThreshold: Double): DataFrame = {
    // Partner EXISTENCE, not pair enumeration: each arm is a LEFT SEMI
    // join with the (band_key equality + signature-similarity) predicate
    // in the join condition, evaluated per candidate only until the FIRST
    // hit — duplicate matching bands and duplicate partners neither
    // re-run the estimate nor multiply output, retiring the old
    // estimate-every-band-then-distinct() shape (the discipline the
    // visual path's VisualDedup.verdicts established). What remains per
    // matched doc is collapsing its own ≤bands semi-join survivors: a
    // single-column aggregate bounded by the batch's band rows,
    // independent of store size. The store side still joins on its
    // bucketed band_key, so the zero-store-exchange plan survives
    // (spec-asserted in CurationQueriesSpec).
    val a = batchBands.select(col("band_key").as("a_band_key"),
      col("doc_id").as("doc"), col("sig").as("sig_a"))
    val vsHist = a.join(
        storeBands.select(col("band_key").as("b_band_key"), col("sig").as("sig_b")),
        col("a_band_key") === col("b_band_key") &&
          sigJaccardEst(col("sig_a"), col("sig_b")) >= estThreshold, "left_semi")
      .groupBy(col("doc")).agg(max(lit(1L)).as("vs_hist"))
    val vsBatch = a.join(
        batchBands.select(col("band_key").as("b_band_key"),
          col("doc_id").as("partner"), col("sig").as("sig_b")),
        col("a_band_key") === col("b_band_key") && col("partner") < col("doc") &&
          sigJaccardEst(col("sig_a"), col("sig_b")) >= estThreshold, "left_semi")
      .groupBy(col("doc")).agg(max(lit(1L)).as("vs_batch"))

    graft.ops.StoreBackedIngest.labels(batchIds, idCol, vsHist, vsBatch)
  }

  /** Store-backed STREAMING near-dup ingest: the operational join of
    * [[fingerprintDedupStream]]'s continuous shape and
    * [[incrementalNearDup]]'s O(batch) check against the signature store.
    * Each micro-batch computes its band rows ONCE (row-local), verdicts
    * them against the band_key-bucketed store and earlier-id batch docs
    * ([[verdictsFromBands]], the q122 policy), and appends only accepted
    * docs' band rows (4 narrow rows each). The loop — crash recovery,
    * retry-safe id exclusions, pinned verdicts, threshold compaction —
    * is [[graft.ops.StoreBackedIngest.stream]].
    */
  def nearDupIngestStream(docs: DataFrame, storeTable: String,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      shingleWidth: Int = 3, estThreshold: Double = 0.5,
      checkpoint: Option[String] = None, compactFileThreshold: Int = 0)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.ops.StoreBackedIngest.stream(docs, storeTable, "doc_id", "band_key",
      buckets, checkpoint, compactFileThreshold)(
      batch => bandRows(minhashSignatures(batch, idCol, textCol, shingleWidth)),
      (batch, bands, storeBands) => verdictsFromBands(batch.select(col(idCol)),
        bands, storeBands, idCol, estThreshold),
      sink)

  /** SemDeDup ledger: embeddings are assigned to coarse-quantizer cells
    * (row-local argmax over the broadcast `codebook`), and inside each
    * cell every vector whose cosine to ANY lower-id member exceeds
    * `threshold` is dropped (the official batch formulation). Output per
    * cell: n_vectors, dropped, kept. The quadratic pair search is
    * confined to cells; size the codebook so cells stay bounded
    * (SemDeDup's published setting is ~100k clusters at web scale).
    */
  def semDeDupLedger(embeddings: DataFrame,
      codebook: Seq[(Long, Seq[Double], Double)], threshold: Double = 0.999,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = embeddings
      .select(col(idCol), col(vecCol),
        graft.ml.VecOps.norm(col(vecCol)).as("v_nrm"))
      .withColumn("cell",
        graft.ml.VecOps.argmaxCell(col(vecCol), col("v_nrm"), codebook))
    val a = assigned.select(col(idCol).as("a_id"),
      col(vecCol).as("a_emb"), col("v_nrm").as("a_nrm"), col("cell"))
    val b = assigned.select(col(idCol).as("b_id"),
      col(vecCol).as("b_emb"), col("v_nrm").as("b_nrm"),
      col("cell").as("b_cell"))
    val dropped = a.join(b,
        col("cell") === col("b_cell") && col("a_id") > col("b_id"))
      .filter(graft.ml.VecOps.dot(col("a_emb"), col("b_emb")) /
        (col("a_nrm") * col("b_nrm")) >= threshold)
      .select(col("a_id").as(idCol)).distinct()
    assigned.join(dropped.withColumn("is_drop", lit(1L)), Seq(idCol), "left")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        sum(coalesce(col("is_drop"), lit(0L))).as("dropped"))
      .withColumn("kept", col("n_vectors") - col("dropped"))
      .orderBy("cell")
  }
}
