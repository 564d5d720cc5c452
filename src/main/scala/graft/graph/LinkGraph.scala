package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.Widths.pinPartitioned

/** Link-graph quality signals for a document corpus — the CommonCrawl
  * discipline: a page's in-link structure is a quality prior (PageRank /
  * harmonic-centrality weighting) and its incoming anchor text is a
  * free labeled-data source. Re-expressed Spark-first:
  *
  *   - [[pagerank]] is a bounded number of join+aggregate rounds over an
  *     edge frame that is partitioned ONCE and reused — per iteration the
  *     only shuffle is the in-sum aggregate on `dst` (the rank frame is
  *     two long columns, the narrowest possible exchange). No driver
  *     state, no collect: at 100 TB the edge frame is the big thing and
  *     it never moves after the first hash partitioning.
  *   - All PageRank arithmetic is INTEGER (scaled longs with floor
  *     division), so results are bit-identical regardless of partitioning,
  *     accumulation order, or engine — which is what makes the operator
  *     oracle-checkable exactly, and makes repeated runs at different
  *     parallelism byte-stable (a reproducibility property float PageRank
  *     cannot give).
  *
  * Semantics (documented, both engines implement the same):
  * rank_0(v) = scale;
  * rank_{t+1}(v) = (scale*15) div 100
  *               + (85 * Σ_{u→v} (rank_t(u) div outdeg(u))) div 100.
  * Dangling nodes (no out-edges) leak their mass — the classic "no
  * redistribution" variant; adequate for a RELATIVE quality weight and
  * keeps every iteration one aggregate. Multi-edges count multiply, as
  * repeated links do in anchor-weighted ranking.
  */
object LinkGraph {

  /** Run `f` with the session's shuffle width derived from the loop's
    * actual data size instead of the global default. The iterative
    * operators' per-round shuffles are node/edge-grain frames of two
    * longs — KB-scale at any realistic per-job graph slice — and at the
    * session default every round pays `spark.sql.shuffle.partitions`
    * task launches of nearly-empty work (guide §2.2: many tiny blocks;
    * measured: the graph rows ran FASTER at 8 cores than 32 because 32
    * bought only scheduling overhead). Width = one partition per ~64k
    * edge rows (≈1 MB of (long, long) pairs), CAPPED at the session
    * setting — a cluster-scale edge frame keeps the configured width, so
    * this is data-adaptive, not a local-mode constant. Integer-exact
    * arithmetic makes the result partitioning-invariant by construction.
    */
  private def withAdaptiveShuffleWidth[T](df: DataFrame, loopRows: Long)(
      f: => T): T = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val cur = conf.get(key)
    val n = math.max(1L, math.min(cur.toLong, loopRows / 65536L + 1L))
    if (n >= cur.toLong) f
    else {
      conf.set(key, n.toString)
      try f finally conf.set(key, cur)
    }
  }

  /** Integer-exact PageRank over `edges` (columns `src`, `dst`: long).
    * Returns (node_id, pr) for every node that appears as a src or dst.
    *
    * @param iters bounded iteration count (3-10 typical for a quality
    *              prior; convergence is not the goal, separation is)
    * @param scale fixed-point scale of the initial rank (e.g. 1e6)
    */
  def pagerank(edges: DataFrame, iters: Int, scale: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(scale >= 100L, s"scale too small for 15/100 damping: $scale")
    // pin the raw edge frame FIRST (the hits/labelPropagation shape): the
    // node union and the degree join below consume it four times, and the
    // caller's edge derivation is often the expensive part (q264 parses
    // HTML per edge row; guide §5 — the pinned rows are two longs)
    val ed = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materializes the pin (the caller's edge derivation runs HERE, once)
    // and feeds the loop's data-adaptive shuffle width
    val nEdges = ed.count()
    withAdaptiveShuffleWidth(ed, nEdges) {
      // both pins are hash-partitioned on the loop's join keys, so each
      // round shuffles only its node-grain contributions
      val nodes = pinPartitioned(ed.select(col("src").as("node_id"))
        .union(ed.select(col("dst").as("node_id")))
        .distinct(), "node_id")
      // outdeg rides WITH the edge rows so each iteration's contribution
      // pass is scan+join only — degree is paid once, not per round.
      val e = pinPartitioned(
        ed.join(ed.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"), "src")
      val base = scale * 15L / 100L
      var ranks = nodes.withColumn("pr", lit(scale))
      for (i <- 1 to iters) {
        val contrib = e.join(ranks, e("src") === ranks("node_id"))
          .select(col("dst"), expr("pr div outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("in_sum"))
        ranks = nodes.join(contrib, nodes("node_id") === contrib("dst"), "left")
          .select(nodes("node_id"),
            (lit(base) + expr("(85 * coalesce(in_sum, 0L)) div 100")).as("pr"))
        // bound lineage growth: each round's rank frame is tiny (two longs
        // per node) — materialize it locally so round k+1's plan does not
        // replay rounds 1..k.
        if (i < iters) ranks = ranks.localCheckpoint(eager = true)
      }
      detach(ranks, e, nodes, ed)
    }
  }

  /** Integer-exact HITS (Kleinberg 1999): mutually-recursive hub and
    * authority scores over the same edge frame as [[pagerank]].
    *
    * Recurrence per round (both engines implement it verbatim):
    *   auth(v) = Σ_{u→v} hub(u),  rescaled to max |auth| = `scale`
    *   hub(u)  = Σ_{u→v} auth(v), rescaled to max |hub|  = `scale`
    * with rescale(x) = floordiv(scale·x, max(1, max|x|)) — floor division
    * keeps every value integral, so results are bit-stable across
    * partitionings. Nodes with no in-links (resp. out-links) hold score 0
    * after the first round.
    *
    * Scale: per round exactly TWO narrow aggregates (sum of longs keyed by
    * dst, then by src) over the once-partitioned edge frame; the score
    * frame is two long columns. The rescale max is a scalar aggregate —
    * collected, it is ONE long (not a data-sized pull).
    */
  def hits(edges: DataFrame, iters: Int, scale: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(scale >= 2L, s"scale too small: $scale")
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count() // materialize the pin + adaptive-width input
    withAdaptiveShuffleWidth(e, nEdges) {
      // partitioned on the rescale joins' key; the edges are joined on
      // src and dst in turn, so no one partitioning of theirs serves both
      val nodes = pinPartitioned(e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id")))
        .distinct(), "node_id")
      var hub = nodes.withColumn("h", lit(scale))
      var auth = nodes.withColumn("a", lit(0L))
      for (_ <- 1 to iters) {
        // checkpoint the SUM frame, not the rescaled result: rescaled()
        // consumes sums twice (the scalar max collect + the densifying
        // join), and un-materialized that recomputed the whole edge⋈score
        // aggregate once per consumer every round (guide §1.2 — don't
        // compute things twice; the sums frame is node-grain, two longs).
        // The rescaled frames stay lazy: one cheap join over checkpointed
        // sums, so lineage is still bounded per round.
        val aSums = e.join(hub, e("src") === hub("node_id"))
          .groupBy("dst").agg(sum("h").as("a_raw"))
          .localCheckpoint(eager = true)
        auth = rescaled(nodes, aSums, "dst", "a_raw", "a", scale)
        val hSums = e.join(auth, e("dst") === auth("node_id"))
          .groupBy("src").agg(sum("a").as("h_raw"))
          .localCheckpoint(eager = true)
        hub = rescaled(nodes, hSums, "src", "h_raw", "h", scale)
      }
      detach(
        nodes.join(hub, "node_id").join(auth, "node_id")
          .select(col("node_id"), col("h").as("hub"), col("a").as("auth")),
        e, nodes)
    }
  }

  /** floordiv(scale·x, max(1, max|x|)) over a sparse sum frame, densified
    * to every node (missing = 0). All values non-negative here, so `div`
    * (truncating) IS floor.
    */
  private def rescaled(nodes: DataFrame, sums: DataFrame, keyCol: String,
      rawCol: String, outCol: String, scale: Long): DataFrame = {
    val m = sums.agg(greatest(max(abs(col(rawCol))), lit(1L)))
      .collect()(0).getLong(0)
    nodes.join(sums, nodes("node_id") === sums(keyCol), "left")
      .select(nodes("node_id"),
        expr(s"($scale * coalesce($rawCol, 0L)) div $m").as(outCol))
  }

  /** PERSONALIZED PageRank: teleport mass flows only to a trusted seed
    * set — the WebText/GPT-2 quality discipline ("score pages by how
    * reachable they are from links the curators trust") made integer-
    * exact. Same recurrence as [[pagerank]] except the additive base
    * lands ONLY on seeds:
    *
    *   rank_0(v)    = scale if v ∈ seeds else 0
    *   rank_{t+1}(v)= [v ∈ seeds]·(scale·15) div 100
    *                + (85 · Σ_{u→v} rank_t(u) div outdeg(u)) div 100
    *
    * Non-seed nodes unreachable from the seed set hold rank 0 — exactly
    * the "spam mass" reading: rank IS trusted reachability. Same
    * per-round data movement as [[pagerank]] (one narrow aggregate; the
    * seed frame joins broadcast).
    */
  def pagerankPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(scale >= 100L, s"scale too small for 15/100 damping: $scale")
    // pin the raw edge frame first — see [[pagerank]]
    val ed = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = ed.count() // materialize the pin + adaptive-width input
    withAdaptiveShuffleWidth(ed, nEdges) {
      val nodes = ed.select(col("src").as("node_id"))
        .union(ed.select(col("dst").as("node_id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // partitioned on the loop's join keys — see [[pagerank]]
      val e = pinPartitioned(
        ed.join(ed.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"), "src")
      // distinct: a duplicated seed row would duplicate every rank row and
      // double that node's out-contribution each round.
      val seeded = pinPartitioned(nodes.join(
        broadcast(seeds.select(col("node_id")).distinct()
          .withColumn("_is_seed", lit(1L))),
        Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col("_is_seed"), lit(0L)).as("s")), "node_id")
      val base = scale * 15L / 100L
      var ranks = seeded.select(col("node_id"), (col("s") * scale).as("pr"))
      for (i <- 1 to iters) {
        val contrib = e.join(ranks, e("src") === ranks("node_id"))
          .select(col("dst"), expr("pr div outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("in_sum"))
        ranks = seeded.join(contrib, seeded("node_id") === contrib("dst"), "left")
          .select(seeded("node_id"),
            (col("s") * base + expr("(85 * coalesce(in_sum, 0L)) div 100"))
              .as("pr"))
        if (i < iters) ranks = ranks.localCheckpoint(eager = true)
      }
      detach(ranks, e, nodes, seeded, ed)
    }
  }

  /** Materialize `result` (narrow frames only — node ids plus a score or
    * label) and release the per-call persisted inputs: without this every
    * operator invocation — including via the SQL TVFs — would leak cached
    * RDDs for the session lifetime.
    */
  private def detach(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    cached.foreach(_.unpersist())
    out
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002, the
    * hard-label variant): a sparse seed set (e.g. hand-audited quality or
    * domain labels) spreads through the link structure — per round, an
    * unlabeled node adopts the MODE of its labeled in-neighbors; seeds
    * are clamped. Deterministic by construction: the mode breaks count
    * ties toward the LARGEST label string (max over (count, label)
    * structs — the engines' shared ORDER BY cnt DESC, label DESC), so
    * rounds are bit-stable and oracle-checkable with no randomness.
    *
    * Scale: per round one vote aggregate keyed by (dst, label) over the
    * once-partitioned edge frame and one mode aggregate keyed by dst —
    * both narrow (long + short string); the label frame is
    * per-round localCheckpoint'ed to cut lineage. No driver state.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count() // materialize the pin + adaptive-width input
    withAdaptiveShuffleWidth(e, nEdges) {
      val nodes = e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id")))
        .distinct()
      // deterministic seed dedup: conflicting labels for one node resolve
      // to the max label (any duplicate row would otherwise duplicate the
      // node through every round and double its votes).
      // partitioned on the per-round label and mode joins' key
      val seeded = pinPartitioned(nodes.join(
        seeds.groupBy("node_id").agg(max(col("label")).as("seed_label")),
        Seq("node_id"), "left"), "node_id")
      seeded.count() // fill the pin before each round's joins read it at once
      var labels = seeded.select(col("node_id"), col("seed_label").as("label"))
      for (i <- 1 to iters) {
        val votes = e
          .join(labels.filter(col("label").isNotNull),
            e("src") === labels("node_id"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        val mode = votes.groupBy("dst")
          .agg(max(struct(col("cnt"), col("label"))).as("m"))
          .select(col("dst"), col("m.label").as("new_label"))
        labels = seeded
          .join(labels.select(col("node_id"), col("label").as("prev")), "node_id")
          .join(mode, seeded("node_id") === mode("dst"), "left")
          .select(seeded("node_id"),
            coalesce(col("seed_label"), col("new_label"), col("prev"))
              .as("label"))
        if (i < iters) labels = labels.localCheckpoint(eager = true)
      }
      detach(labels.filter(col("label").isNotNull), e, seeded)
    }
  }

  /** Incoming anchor-text aggregation: for each link target, the in-link
    * count and the `cap` lexicographically-smallest DISTINCT anchors.
    *
    * `edges` must carry (src, dst, anchor). The anchor set is built with
    * `collect_set` — a hash-set aggregate with map-side partial merge, so
    * a hub target's anchors accumulate across partitions without a
    * single-task window; memory per group is bounded by DISTINCT anchors,
    * and the deterministic cap (`slice(sort_array(...))`) means downstream
    * consumers see a fixed-size column regardless of hub degree.
    */
  def anchorsByTarget(edges: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive: $cap")
    // ONE aggregate computes both outputs — a separate count + join would
    // scan and shuffle the (unpersisted) edge derivation twice.
    edges.groupBy(col("dst"))
      .agg(count(lit(1)).as("n_inlinks"),
        array_join(
          slice(sort_array(collect_set(col("anchor"))), 1, cap), "|")
          .as("anchors"))
      .select(col("dst").as("doc_id"), col("n_inlinks"), col("anchors"))
  }
}
