package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

class MultimodalSpec extends SparkSpec {

  test("assets derive deterministically and decode in partition batches") {
    val assets = assetsFromDocuments(spark, "/root/testdata/sf0.001")
    val features = decode(assets).collect()
    assert(features.length == 500)
    // formats cycle by id
    val byFormat = features.groupBy(_.format).view.mapValues(_.length).toMap
    assert(byFormat.keySet == Set("opaque", "bin", "raw"))
    // stub decode is deterministic and in-range
    val f = features.find(_.asset_id == 0).get
    assert(f.channels == 4 || f.channels == 3)
    assert(f.width >= 64 && f.width < 576)
    assert(f.height >= 64 && f.height < 576)
    assert(f.mean_luma >= 0.0 && f.mean_luma <= 1.0)
    val again = decode(assetsFromDocuments(spark, "/root/testdata/sf0.001"))
      .collect().find(_.asset_id == 0).get
    assert(again == f)
  }

  test("bmp assets decode for REAL: parsed features match synthesis closed forms") {
    val feats = decodeBmp(bmpAssetsFromDocuments(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(feats.length == 500)
    feats.foreach { f =>
      val id = f.asset_id
      val w = (8 + id % 16).toInt
      val h = (8 + (id * 3) % 16).toInt
      val r = (id % 200).toInt
      val g = ((id * 7) % 256).toInt
      val b = ((id * 13) % 256).toInt
      val n = w.toLong * h
      assert(f.width == w && f.height == h && f.channels == 3)
      assert(f.byte_len == BmpCodec.fileSize(w, h))
      val sumR = n * r + h.toLong * (w * (w - 1)) / 2 + w.toLong * (h * (h - 1)) / 2
      assert(f.luma_sum == 299 * sumR + n * (587L * g + 114L * b), s"luma sum, id=$id")
      assert(f.top_left_luma == 299L * r + 587L * g + 114L * b, s"top-left, id=$id")
      assert(f.bottom_right_luma == 299L * (r + w - 1 + h - 1) + 587L * g + 114L * b,
        s"bottom-right, id=$id")
    }
  }

  test("wav assets decode for REAL: parsed stats match the synthesis ramp") {
    val feats = decodeWav(wavAssetsFromDocuments(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(feats.length == 500)
    feats.foreach { f =>
      val id = f.asset_id
      val n = (500 + id % 500).toInt
      val a0 = (id % 100).toInt - 50
      assert(f.channels == 1 && f.sample_rate == 16000 && f.bits == 16)
      assert(f.n_frames == n && f.byte_len == WavCodec.fileSize(n))
      assert(f.amp_sum == n.toLong * a0 + n.toLong * (n - 1) / 2, s"amp sum, id=$id")
      assert(f.amp_sq_sum == n.toLong * a0 * a0 + 2L * a0 * (n.toLong * (n - 1) / 2) +
        (n - 1).toLong * n * (2 * n - 1) / 6, s"energy, id=$id")
      assert(f.min_amp == a0 && f.max_amp == a0 + n - 1)
    }
  }

  test("binary payload round-trips through the typed Dataset") {
    import spark.implicits._
    val a = Seq(Asset(1L, "opaque", Array[Byte](1, 2, 3))).toDS()
    val d = decode(a).head()
    assert(d.byte_len == 3)
    assert(d.channels == 4)
  }

  test("png/gif assets decode for REAL: imageio round-trip matches closed forms") {
    val feats = decodeImage(imageAssetsFromDocuments(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(feats.length == 500)
    assert(feats.map(_.format).toSet == Set("png", "gif"))
    feats.foreach { f =>
      val id = f.asset_id
      val w = (8 + (id * 5) % 16).toInt
      val h = (8 + (id * 7) % 16).toInt
      val r = (id % 200).toInt
      val g = ((id * 11) % 256).toInt
      val b = ((id * 17) % 256).toInt
      val n = w.toLong * h
      assert(f.format == (if (id % 2 == 0) "png" else "gif"))
      assert(f.width == w && f.height == h && f.channels == 3)
      val sumR = n * r + h.toLong * (w * (w - 1)) / 2 + w.toLong * (h * (h - 1)) / 2
      assert(f.luma_sum == 299 * sumR + n * (587L * g + 114L * b), s"luma sum, id=$id")
      assert(f.top_left_luma == 299L * r + 587L * g + 114L * b, s"top-left, id=$id")
      assert(f.bottom_right_luma == 299L * (r + w - 1 + h - 1) + 587L * g + 114L * b,
        s"bottom-right, id=$id")
    }
  }

  test("jpeg decode is real and lossy-banded; undecodable real formats fail loudly") {
    import spark.implicits._
    val feats = decodeImage(jpegAssetsFromDocuments(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(feats.length == 500)
    feats.foreach { f =>
      val id = f.asset_id
      val w = (8 + (id * 5) % 16).toInt
      val h = (8 + (id * 7) % 16).toInt
      val r = (id % 200).toInt
      val g = ((id * 11) % 256).toInt
      val b = ((id * 17) % 256).toInt
      assert(f.width == w && f.height == h && f.channels == 3)
      val expMean = 299.0 * (r + (w - 1) / 2.0 + (h - 1) / 2.0) + 587.0 * g + 114.0 * b
      assert(math.abs(f.luma_sum.toDouble / (w.toLong * h) - expMean) <= 1500.0,
        s"mean luma band, id=$id")
      assert(math.abs(f.top_left_luma - (299L * r + 587L * g + 114L * b)) <= 3000L,
        s"top-left band, id=$id")
    }
    // garbage labeled as a real-codec format must not silently pseudo-decode
    val garbage = Seq(Asset(1L, "png", Array[Byte](1, 2, 3))).toDS()
    val e = intercept[org.apache.spark.SparkException](decode(garbage).collect())
    assert(e.getMessage.contains("undecodable") ||
      Option(e.getCause).exists(_.getMessage.contains("undecodable")))
  }

  test("thumbnail box-pooling splits odd dims at ceil(n/2), row-major") {
    // 3x2 image, one distinct gray per pixel: luma(x, y) = (299+587+114)*v
    // where v = 10*(y*3 + x). Split: columns {0,1 | 2}, rows {0 | 1}.
    val png = ImageIoCodec.encode(3, 2, "png") { (x, y) =>
      val v = 10 * (y * 3 + x); (v << 16) | (v << 8) | v
    }
    val (w, h, sums) = ImageIoCodec.boxSums(png, 2)
    assert(w == 3 && h == 2)
    val u = 299L + 587L + 114L // 1000: one gray level in milli-luma
    assert(sums.toSeq == Seq(
      u * (0 + 10), u * 20, // row 0: boxes {v=0,10 | v=20}
      u * (30 + 40), u * 50)) // row 1: boxes {v=30,40 | v=50}
  }

  // 4-frame clips, stride 2 -> frames 0 and 2 sampled. `bright` shifts
  // every frame's red by one level (byte-different, perceptually near);
  // `lastFrameOff` perturbs ONLY frame 2's green — one drifted SAMPLED
  // frame must kill the clip match (the conjunction rule)
  private def clip(base: Long, bright: Int, lastFrameOff: Int): Array[Byte] = {
    val (w, h) = (12, 10)
    val frames = (0 until 4).map { f =>
      val r = ((base * 3 + 13 * f) % 180).toInt + bright
      val g = (((base * 11 + 7 * f) % 200).toInt +
        (if (f == 2) lastFrameOff else 0)) % 256
      val b = ((base * 17 + 5 * f) % 256).toInt
      AviCodec.encodeDibFrame(w, h)((x, y) => ((r + x + y) << 16) | (g << 8) | b)
    }
    AviCodec.encode(w, h, frames)
  }

  // gradient renders via the same recipe as the q140 fixture: (base)
  // parameterizes dims + colors; bright=1 shifts red one level (a
  // byte-DIFFERENT payload with the same visual structure)
  private def render(base: Long, bright: Int): Array[Byte] = {
    val w = (8 + (base * 5) % 16).toInt
    val h = (8 + (base * 7) % 16).toInt
    val r = (base % 199).toInt + bright
    val g = ((base * 11) % 256).toInt
    val b = ((base * 17) % 256).toInt
    ImageIoCodec.encode(w, h, "png")((x, y) => ((r + x + y) << 16) | (g << 8) | b)
  }

  /** Runs a modality's ingest loop over 4 batches twice — its store
    * auto-compacting past 4 files, and a no-compaction control — and
    * checks both give the same verdicts and the same store content,
    * with compaction keeping the file count below the control's. Batch 1
    * is (101, fresh(1)) and (201, copied); each batch b > 1 carries a
    * new asset 100 + b and a byte copy of asset 201.
    */
  private def assertCompactionMatchesControl(name: String, format: String,
      fresh: Int => Array[Byte], copied: Array[Byte])(
      ingest: (DataFrame, String, Int) => (DataFrame => Unit) => StreamingQuery)
      : Unit = {
    import spark.implicits._
    import graft.io.Compact
    val buckets = 4
    val table = freshTable(s"${name}_compact_test")
    val ctlTable = freshTable(s"${name}_compact_ctl")
    val srcDir = java.nio.file.Files.createTempDirectory(name).toString + "/src"
    def batch(b: Int) = Seq(
      (100L + b, format, fresh(b)),
      (200L + b, format, copied)).toDF("asset_id", "format", "payload")
    // the parquet streaming source requires the dir to exist at start
    batch(1).coalesce(1).write.parquet(srcDir)
    val schema = batch(1).schema
    val verdicts = scala.collection.mutable.Map[Long, String]()
    val ctlVerdicts = scala.collection.mutable.Map[Long, String]()
    val q = ingest(spark.readStream.schema(schema).parquet(srcDir), table, buckets) {
      v => verdicts ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    val ctl = ingest(spark.readStream.schema(schema).parquet(srcDir), ctlTable, 0) {
      v => ctlVerdicts ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      for (b <- 1 to 4) {
        if (b > 1) batch(b).coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
        ctl.processAllAvailable()
      }
      assert(verdicts.toMap === ctlVerdicts.toMap)
      assert(verdicts.toMap === Map(101L -> "accepted", 201L -> "accepted") ++
        (2 to 4).flatMap(b =>
          Seq(100L + b -> "accepted", 200L + b -> "dropped_vs_history")))
      def rows(t: String) = spark.table(t).orderBy("asset_id", "band_key")
        .collect().map(_.toString).toSeq
      assert(rows(table) === rows(ctlTable))
      val compacted = Compact.dataFileCount(spark, Compact.tableLocation(spark, table))
      val unbounded = Compact.dataFileCount(spark, Compact.tableLocation(spark, ctlTable))
      assert(compacted < unbounded,
        s"auto-compaction left $compacted files, the control $unbounded")
    } finally { q.stop(); ctl.stop() }
  }

  test("streaming VIDEO near-dup ingest: clip verdicts, frame conjunction") {
    import spark.implicits._
    import java.nio.file.Files
    val table = freshTable("video_store_stream_test")
    val srcDir = Files.createTempDirectory("video_stream").toString + "/src"
    val verdictLog = scala.collection.mutable.Map[Long, String]()
    val b1 = Seq(
      (1L, "avi", clip(5, 0, 0)),
      (2L, "avi", clip(9, 0, 0))).toDF("asset_id", "format", "payload")
    b1.coalesce(1).write.parquet(srcDir)
    val q = Multimodal.videoNearDupIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => verdictLog ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q.processAllAvailable()
      assert(verdictLog.toMap === Map(1L -> "accepted", 2L -> "accepted"))
      // batch 2: 10 = clip 1 one red level brighter in EVERY frame (near
      // dup -> history drop); 11 = clip 2 byte-exact (history drop);
      // 12 = clip 1 with frame 2's green shifted 50 levels — one sampled
      // frame disagrees, so the clip must be ACCEPTED despite frame 0
      // matching; 13 duplicates 12 inside the batch
      Seq(
        (10L, "avi", clip(5, 1, 0)),
        (11L, "avi", clip(9, 0, 0)),
        (12L, "avi", clip(5, 0, 50)),
        (13L, "avi", clip(5, 0, 50))).toDF("asset_id", "format", "payload")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(verdictLog.toMap === Map(
        1L -> "accepted", 2L -> "accepted",
        10L -> "dropped_vs_history",
        11L -> "dropped_vs_history",
        12L -> "accepted",
        13L -> "dropped_in_batch"))
      assert(spark.table(table).select("asset_id").distinct().collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
    } finally q.stop()

    // replay: a restart WITHOUT a checkpoint reprocesses every source file
    // as ONE batch against the populated store — no stored clip may
    // self-match as dropped_vs_history, and nothing re-appends
    val storeCount = spark.table(table).count()
    val replayLog = scala.collection.mutable.Map[Long, String]()
    val q2 = Multimodal.videoNearDupIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => replayLog ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q2.processAllAvailable()
      assert(replayLog.toMap === Map(
        1L -> "accepted", 2L -> "accepted",
        10L -> "dropped_in_batch", // partner is clip 1, now in the SAME batch
        11L -> "dropped_in_batch", // partner is clip 2, same batch
        12L -> "accepted",
        13L -> "dropped_in_batch"))
      assert(spark.table(table).count() === storeCount) // no double-append
    } finally q2.stop()
  }

  test("streaming VIDEO ingest auto-compaction: verdicts and store match the control") {
    assertCompactionMatchesControl("video_store", "avi",
      b => clip(20L + 7 * b, 0, 0), clip(5, 0, 0)) {
      (src, t, threshold) => Multimodal.videoNearDupIngestStream(src, t,
        buckets = 4, compactFileThreshold = threshold)
    }
  }

  test("streaming visual near-dup ingest: verdicts vs store, store grows per batch") {
    import spark.implicits._
    import java.nio.file.Files
    val table = freshTable("visual_store_stream_test")
    val srcDir = Files.createTempDirectory("visual_stream").toString + "/src"
    val b1 = Seq(
      (1L, "png", render(1, 0)),
      (2L, "png", render(2, 0))).toDF("asset_id", "format", "payload")
    b1.coalesce(1).write.parquet(srcDir)

    val verdictLog = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = Multimodal.visualNearDupIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => verdictLog ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q.processAllAvailable()
      assert(verdictLog.toMap === Map(1L -> "accepted", 2L -> "accepted"))
      assert(spark.table(table).count() === 8L) // 2 assets x 4 band rows

      // batch 2: 10 re-renders asset 1 one red level brighter (perceptual
      // near-dup, invisible to md5); 11 is asset 2's exact bytes; 12 is
      // new; 13 duplicates 12 inside the batch
      Seq(
        (10L, "png", render(1, 1)),
        (11L, "png", render(2, 0)),
        (12L, "png", render(7, 0)),
        (13L, "png", render(7, 0))).toDF("asset_id", "format", "payload")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(verdictLog.toMap === Map(
        1L -> "accepted", 2L -> "accepted",
        10L -> "dropped_vs_history", // brightness-shift-invariant bands + verify
        11L -> "dropped_vs_history", // byte-identical
        12L -> "accepted",
        13L -> "dropped_in_batch"))
      assert(spark.table(table).count() === 12L) // 1, 2, 12 stored
      assert(spark.table(table).select("asset_id").distinct().collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
    } finally q.stop()

    // replay: a restart WITHOUT a checkpoint reprocesses every source file
    // as ONE batch against the populated store — no stored asset may
    // self-match as dropped_vs_history, and nothing re-appends
    val replayLog = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q2 = Multimodal.visualNearDupIngestStream(
      spark.readStream.schema(b1.schema).parquet(srcDir), table, buckets = 4) {
      v => replayLog ++= v.collect().map(r => r.getLong(0) -> r.getString(1))
    }
    try {
      q2.processAllAvailable()
      assert(replayLog.toMap === Map(
        1L -> "accepted", 2L -> "accepted",
        10L -> "dropped_in_batch", // partner is asset 1, now in the SAME batch
        11L -> "dropped_in_batch", // partner is asset 2, same batch
        12L -> "accepted",
        13L -> "dropped_in_batch"))
      assert(spark.table(table).count() === 12L) // no duplicate band rows
    } finally q2.stop()
  }

  test("streaming visual ingest auto-compaction: verdicts and store match the control") {
    // distinct bases give distinct dims, so no fresh asset collides
    assertCompactionMatchesControl("visual_store", "png",
      b => render(10L + b, 0), render(3, 0)) {
      (src, t, threshold) => Multimodal.visualNearDupIngestStream(src, t,
        buckets = 4, compactFileThreshold = threshold)
    }
  }

  test("verdict algebra plan: LEFT SEMI existence joins, no inner pair join") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val feats = decodeThumbWithMd5(imageAssetsWithNearDups(spark, dir), 4).toDF()
      .select(col("asset_id"), col("width"), col("height"), col("box_sums"))
    val banded = VisualDedup.explodeBands(
        feats.withColumn("dhash", VisualDedup.dhash("", 4)), 4)
      .withColumn("band_key", VisualDedup.bandKey(""))
      .select("asset_id", "band_key", "width", "height", "box_sums")
    // non-empty store side (the even assets) — an EMPTY store would let
    // PropagateEmptyRelation fold the history arm out of the plan
    val v = VisualDedup.verdicts(
      feats.filter(col("asset_id") % 2 === 1).select("asset_id"),
      banded.filter(col("asset_id") % 2 === 1),
      banded.filter(col("asset_id") % 2 === 0), 4)
    val joins = v.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }
    // both dedup arms are LEFT SEMI (the verify predicate lives IN the
    // join condition and is evaluated per candidate only until the first
    // hit); no inner pair join exists, so there is nothing to distinct —
    // the old verify-every-band-then-distinct shape is structurally gone
    assert(joins.count(_ == org.apache.spark.sql.catalyst.plans.LeftSemi) == 2,
      s"expected 2 left-semi arms, got: $joins")
    assert(!joins.contains(org.apache.spark.sql.catalyst.plans.Inner),
      "the verdict path must not materialize inner pair rows")
  }

  test("two-batch streaming ingest reproduces the q156 batch replay verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val dir = "/root/testdata/sf0.001"
    val table = freshTable("visual_store_q156_test")
    val srcDir = Files.createTempDirectory("visual_q156_stream").toString + "/src"
    val corpus = imageAssetsWithNearDups(spark, dir).toDF()
    corpus.filter(col("asset_id") % 2 === 0)
      .coalesce(1).write.parquet(srcDir)
    val phases = scala.collection.mutable.ArrayBuffer[Map[Long, String]]()
    val q = Multimodal.visualNearDupIngestStream(
      spark.readStream.schema(corpus.schema).parquet(srcDir), table, buckets = 4) {
      v => phases += v.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    try {
      q.processAllAvailable()
      corpus.filter(col("asset_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(phases.size == 2)
      // the oracle-checked batch replay runs the SAME corpus split: its
      // phase-1/phase-2 verdicts must match the live loop's batches 1/2
      val expected = graft.SparkEntry
        .queries("q156_visual_ingest_verdicts")(spark, dir)
        .collect()
        .groupBy(_.getLong(1)) // phase
        .map { case (p, rows) =>
          p -> rows.map(r => r.getLong(0) -> r.getString(2)).toMap
        }
      assert(phases(0) == expected(1L), "batch-1 verdicts must equal phase 1")
      assert(phases(1) == expected(2L), "batch-2 verdicts must equal phase 2")
    } finally q.stop()
  }
}
