package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The perceptual-fingerprint column algebra shared by the batch visual
  * near-dup query (q140) and the store-backed streaming ingest loop
  * ([[Multimodal.visualNearDupIngestStream]]) — one definition, so the
  * stream's verdicts can never drift from the oracle-checked batch
  * semantics.
  *
  * Geometry: a g×g panel of integer milli-luma box sums per image
  * ([[ImageIoCodec.boxSums]]; box k along a dim spans
  * [ceil(k·dim/g), ceil((k+1)·dim/g))). From the box MEANS a
  * 2·g·(g-1)-bit difference hash (horizontal + vertical adjacent-pair
  * comparisons via integer cross-multiplication — exact, and invariant
  * under uniform brightness shifts), split LSH-style into bands for
  * blocking; candidate pairs verify every box mean within 1 luma level.
  */
object VisualDedup {

  /** Default grid (4×4 → 24-bit dHash → 4 six-bit bands). */
  val Grid = 4
  val Bands = 4
  val BandBits = 6

  /** Box k's lower pixel bound along `dim`: ceil(k·dim/g). */
  def bnd(dim: Column, k: Int, g: Int = Grid): Column =
    floor((lit(k) * dim + lit(g - 1)) / lit(g)).cast("long")

  /** Pixel count of box (l, k) for a w×h image. */
  def npix(wc: Column, hc: Column, l: Int, k: Int, g: Int = Grid): Column =
    (bnd(wc, k + 1, g) - bnd(wc, k, g)) * (bnd(hc, l + 1, g) - bnd(hc, l, g))

  /** Box sum (l, k) from a `<pfx>box_sums` column. */
  def bs(pfx: String, l: Int, k: Int, g: Int = Grid): Column =
    element_at(col(pfx + "box_sums"), l * g + k + 1)

  /** The 2·g·(g-1)-bit perceptual dHash over `<pfx>{width,height,box_sums}`:
    * bits 0..g(g-1)-1 horizontal (mean(l,k) > mean(l,k+1)), the rest
    * vertical — mean comparisons as integer cross-multiplication.
    */
  def dhash(pfx: String = "", g: Int = Grid): Column = {
    // 2·g·(g-1) must fit one long: g = 6 uses bits 0-59; at g ≥ 7 the
    // 1L << bit shifts would wrap mod 64 and distinct comparisons would
    // collide through the `+` reduction — fail loudly instead
    require(g >= 2 && g <= 6, s"dhash grid must be in [2, 6], got $g")
    val w = col(pfx + "width"); val h = col(pfx + "height")
    val hBits = for { l <- 0 until g; k <- 0 until g - 1 } yield
      when(bs(pfx, l, k, g) * npix(w, h, l, k + 1, g)
          > bs(pfx, l, k + 1, g) * npix(w, h, l, k, g),
        lit(1L << (l * (g - 1) + k))).otherwise(lit(0L))
    val vBits = for { l <- 0 until g - 1; k <- 0 until g } yield
      when(bs(pfx, l, k, g) * npix(w, h, l + 1, k, g)
          > bs(pfx, l + 1, k, g) * npix(w, h, l, k, g),
        lit(1L << (g * (g - 1) + l * g + k))).otherwise(lit(0L))
    (hBits ++ vBits).reduce(_ + _)
  }

  /** Band count for a g×g grid: the 2·g·(g-1) dHash bits split into
    * ceil'd [[BandBits]]-wide slices (g=4 → 24 bits → 4 bands; the last
    * band of a non-multiple width just carries fewer live bits).
    */
  def bandsFor(g: Int): Int = (2 * g * (g - 1) + BandBits - 1) / BandBits

  /** Explode a framed feature row into its LSH band rows, adding
    * `band_idx` and `band_val` ([[BandBits]]-wide slices of `dhash`).
    * The band count derives from the GRID so candidate generation always
    * covers every hash bit — a hardcoded 4-band split silently ignored
    * most bits for g ≥ 6 and emitted constant-zero bands for g < 4.
    */
  def explodeBands(df: DataFrame, g: Int = Grid): DataFrame =
    df.withColumn("band_idx", explode(sequence(lit(0), lit(bandsFor(g) - 1))))
      .withColumn("band_val", expr(s"shiftright(dhash, band_idx * $BandBits) & ${(1 << BandBits) - 1}"))

  /** One blocking key string per band row — (dims, band) in a single
    * column so a signature STORE can bucket on it (the text-store
    * discipline of Curation.writeBandedSignatureStore).
    */
  def bandKey(pfx: String = ""): Column =
    concat_ws("|", col(pfx + "width"), col(pfx + "height"),
      col(pfx + "band_idx"), col(pfx + "band_val"))

  /** Box-0 mean-luma bucket: `bs(0,0) div (1000 · npix(0,0))`,
    * integer-exact (box sums are non-negative, so SQL `div` is floor).
    * For any pair passing [[verify]] on equal dims (which the blocking
    * key guarantees), `|bs_a − bs_b| <= 1000·npix` on box 0, so the two
    * buckets differ by AT MOST 1 — an exact NECESSARY condition for the
    * 16-box verify that can ride the equi-join key (guide §3.2: prune
    * candidates before the expensive join work). Join one side's bucket
    * against the other side's `bucket + {−1, 0, +1}` probes
    * ([[probeBuckets]]); exactly one probe value can equal the partner's
    * bucket, so the 3× explode can never duplicate a pair. This exists
    * because LSH banding alone degenerates on brightness-gradient
    * corpora (every dHash comparison bit identical), collapsing all
    * same-dims assets into one block; the luma level re-spreads them.
    */
  def lumaBucket(pfx: String, g: Int = Grid): Column =
    expr(s"element_at(${pfx}box_sums, 1) div (1000 * " +
      s"((${pfx}width + ${g - 1}) div $g) * ((${pfx}height + ${g - 1}) div $g))")

  /** The ±1 probe values of [[lumaBucket]] for the exploding join side. */
  def probeBuckets(pfx: String, g: Int = Grid): Column = {
    val b = lumaBucket(pfx, g)
    array(b - 1L, b, b + 1L)
  }

  /** Candidate-pair verify: every box mean within 1 luma level, as
    * integer sum differences against 1000·boxPixels. Reads
    * `<pfxA>box_sums`, `<pfxB>box_sums` and `<pfxA>{width,height}` (the
    * blocking key guarantees equal dims).
    */
  def verify(pfxA: String, pfxB: String, g: Int = Grid): Column =
    (for { l <- 0 until g; k <- 0 until g } yield
      abs(bs(pfxA, l, k, g) - bs(pfxB, l, k, g)) <=
        lit(1000L) * npix(col(pfxA + "width"), col(pfxA + "height"), l, k, g))
      .reduce(_ && _)

  /** Per-asset ingest verdicts — the batch half of the store-backed
    * streaming loop ([[Multimodal.visualNearDupIngestStream]]), factored
    * out so the stream and the oracle-checked batch replay (q156) share
    * ONE definition. `bands` are the batch's band rows, `storeBands` the
    * accepted-history store's (same schema, `asset_id`/`band_key`/
    * `width`/`height`/`box_sums` at minimum); `batchIds` one row per
    * batch asset. Returns (asset_id, verdict) with the stream's priority:
    * `dropped_vs_history` > `dropped_in_batch` (earlier-id partner) >
    * `accepted`.
    *
    * The verdict needs partner EXISTENCE, not pair enumeration, so each
    * arm is a LEFT SEMI join: the (band_key equality + g²-box verify)
    * condition is evaluated per candidate only until the FIRST hit, so
    * duplicate partners and duplicate matching bands neither multiply
    * output nor re-run the verify — strictly stronger than the q140
    * first-match-band discipline (which q140 still needs, because it must
    * EMIT each verified pair once), and it retires the old
    * verify-every-band-then-`distinct()` shape entirely. What remains per
    * matched asset is collapsing its own ≤band-count semi-join survivors:
    * a single-column aggregate over a frame bounded by the batch's band
    * rows, independent of store size. Store-side scale shape is
    * unchanged: the equi-key is `band_key`, so a band_key-bucketed store
    * joins with zero store-side exchange.
    */
  def verdicts(batchIds: DataFrame, bands: DataFrame, storeBands: DataFrame,
      g: Int = Grid, aggWidth: Option[Int] = None): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
    // the semi-join survivors are (id, key) rows — orders of magnitude
    // narrower than the scan stages — so the per-arm collapse aggregate
    // takes an explicit id-keyed exchange sized by `aggWidth` (guide
    // §2.2; callers derive it from their pinned band-row count via
    // [[graft.util.Widths.adaptive]], capped at the session width) and
    // the aggregate itself then needs no planner-inserted exchange.
    def repartId(df: DataFrame) =
      aggWidth.map(w => df.repartition(w, col("a_asset_id")))
        .getOrElse(df.repartition(col("a_asset_id")))
    // box-0 luma bucket in the equi-key (guide §3.2): an exact necessary
    // condition for the verify, so blocks that LSH banding leaves
    // degenerate (brightness-gradient corpora hash every band equal) are
    // re-spread by luma level before any verify evaluates. The BATCH side
    // carries the 3 probe values; the store side stays un-exploded and
    // its band_key bucketing still satisfies the join's distribution
    // (join keys ⊇ bucket key), so the store joins with zero exchange.
    val a = side(bands, "a_")
      .withColumn("a_bq_probe", explode(probeBuckets("a_", g)))
    def partner(df: DataFrame) =
      side(df, "b_").withColumn("b_bq", lumaBucket("b_", g))
    val vsHist = repartId(a.join(partner(storeBands),
        col("a_band_key") === col("b_band_key") &&
          col("a_bq_probe") === col("b_bq") && verify("a_", "b_", g), "left_semi"))
      .groupBy(col("a_asset_id").as("asset_id"))
      .agg(max(lit(1L)).as("vs_hist"))
    val vsBatch = repartId(a.join(partner(bands),
        col("a_band_key") === col("b_band_key") &&
          col("a_bq_probe") === col("b_bq") &&
          col("b_asset_id") < col("a_asset_id") && verify("a_", "b_", g), "left_semi"))
      .groupBy(col("a_asset_id").as("asset_id"))
      .agg(max(lit(1L)).as("vs_batch"))
    graft.ops.StoreBackedIngest.labels(batchIds, "asset_id", vsHist, vsBatch)
  }
}
