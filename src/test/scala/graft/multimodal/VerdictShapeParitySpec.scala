package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Parity pins for the r18 verdict-shape rework: the pair/id-grain
  * aggregates now share ONE explicit pair-keyed exchange (instead of two
  * planner-inserted ones), the exchange width is caller-supplied
  * (data-adaptive), and the batch-bounded matched-id sets broadcast into
  * the final verdict joins. None of that may move a single verdict —
  * pinned here against the exact pre-rework shape, at several widths.
  */
class VerdictShapeParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val g = 4

  /** The pre-rework videoClipVerdicts, verbatim (two planner-shuffled
    * distinct+groupBy ladders per arm, sort-merge final joins).
    */
  private def referenceVideoVerdicts(batchIds: DataFrame, frames: DataFrame,
      storeFrames: DataFrame, stride: Int = 2): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
    val a = side(frames, "a_")
      .withColumn("a_bq_probe", explode(VisualDedup.probeBuckets("a_", g)))
    def matchedIds(b: DataFrame, restrict: Column): DataFrame =
      a.join(side(b, "b_").withColumn("b_bq", VisualDedup.lumaBucket("b_", g)),
          col("a_band_key") === col("b_band_key") &&
            col("a_bq_probe") === col("b_bq") && restrict &&
            VisualDedup.verify("a_", "b_", g))
        .select(col("a_asset_id"), col("b_asset_id"), col("a_frame_idx"),
          col("a_n_frames")).distinct()
        .groupBy(col("a_asset_id"), col("b_asset_id"), col("a_n_frames"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") === expr(s"(a_n_frames + ${stride - 1}) div $stride"))
        .select(col("a_asset_id").as("asset_id")).distinct()
    val vsHist = matchedIds(storeFrames, lit(true)).withColumn("vs_hist", lit(1L))
    val vsBatch = matchedIds(frames, col("b_asset_id") < col("a_asset_id"))
      .withColumn("vs_batch", lit(1L))
    batchIds
      .join(vsHist, Seq("asset_id"), "left_outer")
      .join(vsBatch, Seq("asset_id"), "left_outer")
      .select(col("asset_id"),
        when(col("vs_hist") === 1L, "dropped_vs_history")
          .when(col("vs_batch") === 1L, "dropped_in_batch")
          .otherwise("accepted").as("verdict"))
  }

  private def videoFixture() = {
    val banded = VisualDedup.explodeBands(
        Multimodal.videoFrameFeatures(
          Multimodal.videoAssetsWithNearDups(spark, dir), grid = g, stride = 2)
          .toDF().withColumn("dhash", VisualDedup.dhash("", g)), g)
      .withColumn("band_key", Multimodal.videoBandKey(""))
      .select("asset_id", "frame_idx", "n_frames", "band_key",
        "width", "height", "box_sums")
    val b1 = banded.filter(col("asset_id") % 2 === 0)
    val b2 = banded.filter(col("asset_id") % 2 === 1)
    val ids2 = banded.select("asset_id").distinct().filter(col("asset_id") % 2 === 1)
    (b1, b2, ids2)
  }

  test("videoClipVerdicts: reworked shape matches the pre-rework shape at every width") {
    val (b1, b2, ids2) = videoFixture()
    // non-empty store side so PropagateEmptyRelation can't fold the arm
    val expected = referenceVideoVerdicts(ids2, b2, b1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(expected.nonEmpty)
    assert(expected.valuesIterator.exists(_ != "accepted"),
      "fixture must exercise at least one dropped verdict")
    for (w <- Seq(None, Some(1), Some(3))) {
      val got = Multimodal.videoClipVerdicts(ids2, b2, b1, g, 2, w).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got === expected, s"verdict drift at aggWidth=$w")
    }
  }

  test("videoClipVerdicts: one exchange feeds the pair dedup + count ladder") {
    val (b1, b2, ids2) = videoFixture()
    val plan = planText(Multimodal.videoClipVerdicts(ids2, b2, b1, g, 2, Some(2))
      .queryExecution.executedPlan)
    // the pair-grain distinct and the matched-frame count share the
    // explicit pair-keyed exchange: no planner-inserted exchange may
    // re-cluster on the (pair, frame) distinct keys
    val ensureOnFrame = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("a_frame_idx") &&
        l.contains("ENSURE_REQUIREMENTS"))
    assert(!ensureOnFrame,
      "pair dedup must reuse the explicit pair-keyed exchange, not re-shuffle by (pair, frame)")
    // and the batch-bounded matched-id sets broadcast into the verdict joins
    assert(plan.contains("BroadcastHashJoin"), "final verdict joins must broadcast")
  }

  test("VisualDedup.verdicts: width does not move a verdict") {
    val feats = Multimodal.decodeThumbWithMd5(
        Multimodal.imageAssetsWithNearDups(spark, dir), grid = g).toDF()
      .select(col("asset_id"), col("width"), col("height"), col("box_sums"))
    val banded = VisualDedup.explodeBands(
        feats.withColumn("dhash", VisualDedup.dhash("", g)), g)
      .withColumn("band_key", VisualDedup.bandKey(""))
      .select("asset_id", "band_key", "width", "height", "box_sums")
    val ids2 = feats.select(col("asset_id")).filter(col("asset_id") % 2 === 1)
    val b1 = banded.filter(col("asset_id") % 2 === 0)
    val b2 = banded.filter(col("asset_id") % 2 === 1)
    val ref = VisualDedup.verdicts(ids2, b2, b1, g, None).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(ref.valuesIterator.exists(_ != "accepted"))
    for (w <- Seq(Some(1), Some(3))) {
      val got = VisualDedup.verdicts(ids2, b2, b1, g, w).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got === ref, s"verdict drift at aggWidth=$w")
    }
  }
}
