package graft.queries

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import Qx.t

/** Multimodal plumbing under the correctness gate. Three decode tiers,
  * each with its own oracle strategy: STUB formats (q44) use deterministic
  * arithmetic over (byte_len, first byte, last byte) so the pipeline shape
  * has an exact DuckDB mirror; REAL lossless decodes (q126 BMP, q128 WAV,
  * q130 PNG/GIF) synthesize payloads from closed-form parameters so the
  * oracle predicts every decoded feature without parsing a byte; REAL
  * lossy decode (q131 JPEG) hash-matches what survives the round-trip
  * exactly (dims, channels) and tolerance-bands the pixel statistics.
  */
object MultimodalQueries {

  val all: Seq[Q] = Seq(

    Q("q44_multimodal_decode",
      (s, dir) => {
        val features = Multimodal.decode(Multimodal.assetsFromDocuments(s, dir))
        features.groupBy("format")
          .agg(count(lit(1)).as("assets"),
            sum(col("byte_len")).as("total_bytes"),
            sum(col("width")).as("sum_width"),
            sum(col("height")).as("sum_height"),
            sum(round(col("mean_luma") * 255).cast("long")).as("sum_luma_num"))
          .orderBy("format")
      },
      Some("""
        WITH assets AS (
          SELECT doc_id AS asset_id,
            CASE doc_id % 3 WHEN 0 THEN 'opaque' WHEN 1 THEN 'bin' ELSE 'raw' END AS format,
            strlen(text) AS byte_len,
            ord(substr(text, 1, 1)) AS first_b,
            ord(substr(text, -1, 1)) AS last_b
          FROM documents),
        features AS (
          SELECT asset_id, format, byte_len,
            64 + byte_len % 512 AS width,
            64 + (byte_len * 7 + first_b) % 512 AS height,
            (first_b + last_b + byte_len % 256) % 256 AS luma_num
          FROM assets)
        SELECT format, COUNT(*) AS assets,
          CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
          CAST(SUM(width) AS BIGINT) AS sum_width,
          CAST(SUM(height) AS BIGINT) AS sum_height,
          CAST(SUM(luma_num) AS BIGINT) AS sum_luma_num
        FROM features GROUP BY 1 ORDER BY 1""")),

    // ---- REAL decode: synthesized 24-bit BMPs through an actual binary
    // parser. The oracle never parses BMP — it predicts every feature in
    // closed form from the synthesis parameters (gradient sums, header+
    // padding arithmetic), so a decoder bug in stride, orientation, or BGR
    // order breaks the hash. top_left/bottom_right pin row orientation
    // (a sum alone is permutation-invariant and would miss a flip).
    Q("q126_bmp_decode",
      (s, dir) => {
        val feats = Multimodal.decodeBmp(Multimodal.bmpAssetsFromDocuments(s, dir))
        feats.select(
          col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("byte_len").cast("long").as("byte_len"),
          col("luma_sum"), col("top_left_luma"), col("bottom_right_luma"))
          .orderBy("asset_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
            8 + doc_id % 16 AS w,
            8 + (doc_id * 3) % 16 AS h,
            doc_id % 200 AS r,
            (doc_id * 7) % 256 AS g,
            (doc_id * 13) % 256 AS b
          FROM documents)
        SELECT doc_id AS asset_id,
          CAST(w AS BIGINT) AS width,
          CAST(h AS BIGINT) AS height,
          CAST(3 AS BIGINT) AS channels,
          CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS byte_len,
          CAST(299 * (w * h * r + h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2))
               + w * h * (587 * g + 114 * b) AS BIGINT) AS luma_sum,
          CAST(299 * r + 587 * g + 114 * b AS BIGINT) AS top_left_luma,
          CAST(299 * (r + w - 1 + h - 1) + 587 * g + 114 * b AS BIGINT) AS bottom_right_luma
        FROM p ORDER BY 1""")),

    // ---- REAL audio decode: synthesized 16-bit PCM WAVs through an actual
    // RIFF chunk-stream walk. Like q126, the oracle predicts every feature
    // in closed form from the synthesis ramp (n*a0 + triangular/square-
    // pyramidal sums) — wrong sample signedness, stride, or chunk
    // handling breaks the hash.
    Q("q128_wav_decode",
      (s, dir) => {
        val feats = Multimodal.decodeWav(Multimodal.wavAssetsFromDocuments(s, dir))
        feats.select(
          col("asset_id"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("bits").cast("long").as("bits"),
          col("n_frames"),
          col("byte_len").cast("long").as("byte_len"),
          col("amp_sum"), col("amp_sq_sum"),
          col("min_amp").cast("long").as("min_amp"),
          col("max_amp").cast("long").as("max_amp"))
          .orderBy("asset_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
            500 + doc_id % 500 AS n,
            doc_id % 100 - 50 AS a
          FROM documents)
        SELECT doc_id AS asset_id,
          CAST(1 AS BIGINT) AS channels,
          CAST(16000 AS BIGINT) AS sample_rate,
          CAST(16 AS BIGINT) AS bits,
          CAST(n AS BIGINT) AS n_frames,
          CAST(44 + 2 * n AS BIGINT) AS byte_len,
          CAST(n * a + (n * (n - 1)) // 2 AS BIGINT) AS amp_sum,
          CAST(n * a * a + 2 * a * ((n * (n - 1)) // 2)
               + ((n - 1) * n * (2 * n - 1)) // 6 AS BIGINT) AS amp_sq_sum,
          CAST(a AS BIGINT) AS min_amp,
          CAST(a + n - 1 AS BIGINT) AS max_amp
        FROM p ORDER BY 1""")),

    // ---- frame sampling: explode -> stride-sample -> per-frame digests ----
    // The video-pipeline shape: per-asset frame explosion stays row-local,
    // sampled frames reduce to narrow (idx, length, digest) features, and
    // payloads never shuffle. Output: per-asset sampled-frame counts plus
    // a digest-of-digests (order-pinned md5 roll-up).
    Q("q101_frame_sample",
      (s, dir) => {
        val frames = Multimodal.sampleFrameFeatures(
          t(s, dir, "documents"), frameChars = 256, stride = 4)
        frames.groupBy("asset_id")
          .agg(count(lit(1)).as("sampled_frames"),
            sum(col("frame_chars").cast("long")).as("sampled_chars"),
            md5(concat_ws("|",
              sort_array(collect_list(struct(col("frame_idx"), col("frame_md5"))))
                .getField("frame_md5"))).as("frames_digest"))
          .orderBy("asset_id")
      },
      Some("""
        WITH assets AS (
          SELECT doc_id AS asset_id, text,
            CAST(ceil(length(text) / 256.0) AS INTEGER) AS n_frames
          FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        frames AS (
          SELECT asset_id,
            unnest(range(0, n_frames)) AS frame_idx, text
          FROM assets),
        sampled AS (
          SELECT asset_id, frame_idx,
            length(substr(text, frame_idx * 256 + 1, 256)) AS frame_chars,
            md5(substr(text, frame_idx * 256 + 1, 256)) AS frame_md5
          FROM frames WHERE frame_idx % 4 = 0)
        SELECT asset_id, COUNT(*) AS sampled_frames,
          CAST(SUM(frame_chars) AS BIGINT) AS sampled_chars,
          md5(string_agg(frame_md5, '|' ORDER BY frame_idx)) AS frames_digest
        FROM sampled GROUP BY 1 ORDER BY 1""")),

    // ---- REAL compressed-image decode: synthesized PNG (deflate) and GIF
    // (LZW + palette) payloads through the JDK's own javax.imageio codec
    // plugins. Like q126, the oracle predicts every feature in closed form
    // from the synthesis parameters — but here the decoder undoes actual
    // entropy coding, not just header arithmetic. Both formats round-trip
    // losslessly (the gradient stays within GIF's 256-color palette), so
    // the compare is hash-exact. byte_len is deliberately absent: the
    // compressed size is an encoder artifact with no closed form.
    Q("q130_image_decode",
      (s, dir) => {
        val feats = Multimodal.decodeImage(Multimodal.imageAssetsFromDocuments(s, dir))
        feats.select(
          col("asset_id"),
          col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("luma_sum"), col("top_left_luma"), col("bottom_right_luma"))
          .orderBy("asset_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
            CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS format,
            8 + (doc_id * 5) % 16 AS w,
            8 + (doc_id * 7) % 16 AS h,
            doc_id % 200 AS r,
            (doc_id * 11) % 256 AS g,
            (doc_id * 17) % 256 AS b
          FROM documents)
        SELECT doc_id AS asset_id, format,
          CAST(w AS BIGINT) AS width,
          CAST(h AS BIGINT) AS height,
          CAST(3 AS BIGINT) AS channels,
          CAST(299 * (w * h * r + h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2))
               + w * h * (587 * g + 114 * b) AS BIGINT) AS luma_sum,
          CAST(299 * r + 587 * g + 114 * b AS BIGINT) AS top_left_luma,
          CAST(299 * (r + w - 1 + h - 1) + 587 * g + 114 * b AS BIGINT) AS bottom_right_luma
        FROM p ORDER BY 1""")),

    // ---- REAL lossy decode: JPEG through javax.imageio. Dims and channel
    // count survive the lossy round-trip exactly (hash-matched); the pixel
    // statistics are tolerance-banded booleans — measured worst-case error
    // over this recipe is 576 milli-luma (mean) / 1299 (corners), banded
    // at 1500/3000, while a decoder bug (flip, stride, BGR swap) is off by
    // tens of thousands. The oracle expects every band check TRUE.
    Q("q131_jpeg_decode",
      (s, dir) => {
        val feats = Multimodal.decodeImage(Multimodal.jpegAssetsFromDocuments(s, dir))
        val w = col("width").cast("long")
        val h = col("height").cast("long")
        val r = col("asset_id") % 200
        val g = (col("asset_id") * 11) % 256
        val b = (col("asset_id") * 17) % 256
        val expTl = lit(299) * r + lit(587) * g + lit(114) * b
        val expBr = lit(299) * (r + w - 1 + h - 1) + lit(587) * g + lit(114) * b
        val expMean = (lit(299.0) * (r + (w - 1) / lit(2.0) + (h - 1) / lit(2.0))
          + lit(587) * g + lit(114) * b)
        feats.select(
          col("asset_id"), w.as("width"), h.as("height"),
          col("channels").cast("long").as("channels"),
          (abs(col("luma_sum") / (w * h) - expMean) <= 1500.0).as("mean_luma_ok"),
          (abs(col("top_left_luma") - expTl) <= 3000L &&
            abs(col("bottom_right_luma") - expBr) <= 3000L).as("corners_ok"))
          .orderBy("asset_id")
      },
      Some("""
        SELECT doc_id AS asset_id,
          CAST(8 + (doc_id * 5) % 16 AS BIGINT) AS width,
          CAST(8 + (doc_id * 7) % 16 AS BIGINT) AS height,
          CAST(3 AS BIGINT) AS channels,
          TRUE AS mean_luma_ok,
          TRUE AS corners_ok
        FROM documents ORDER BY 1""")),

    // ---- REAL resize / feature-extract: box-pooled thumbnail + dHash ------
    // The downsample stage of a visual-dedup pipeline: each PNG/GIF
    // payload is REALLY decoded (javax.imageio) and pooled into a 2x2
    // panel of integer milli-luma box sums, from which a 4-bit
    // difference hash is computed (left-vs-right per row, top-vs-bottom
    // per column — the dHash recipe at toy grid size). Box partitioning
    // is integer arithmetic (pixel x lands in box x*2/w), so the oracle
    // predicts every box sum in closed form from the gradient synthesis:
    // a pooling bug (box boundary off by one, row-major mixup) breaks the
    // hash-exact compare. Only 4 longs per image leave the decoder.
    Q("q135_thumbnail_dhash",
      (s, dir) => {
        val feats = Multimodal.decodeThumb(
          Multimodal.imageAssetsFromDocuments(s, dir), grid = 2)
        val b = (0 until 4).map(i => element_at(col("box_sums"), i + 1))
        feats.select(
          col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          b(0).as("b00"), b(1).as("b01"), b(2).as("b10"), b(3).as("b11"),
          (when(b(0) > b(1), 1L).otherwise(0L)
            + when(b(2) > b(3), 2L).otherwise(0L)
            + when(b(0) > b(2), 4L).otherwise(0L)
            + when(b(1) > b(3), 8L).otherwise(0L)).as("dhash"))
          .orderBy("asset_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
            8 + (doc_id * 5) % 16 AS w,
            8 + (doc_id * 7) % 16 AS h,
            doc_id % 200 AS r,
            (doc_id * 11) % 256 AS g,
            (doc_id * 17) % 256 AS b
          FROM documents),
        -- pixel x is in box 0 iff x*2/w < 1, so the split is ceil(w/2)
        bounds AS (
          SELECT doc_id, w, h, r, g, b,
            (w + 1) // 2 AS xs, (h + 1) // 2 AS ys
          FROM p),
        boxes AS (
          SELECT doc_id, w, h, r, g, b, gx, gy,
            CASE gx WHEN 0 THEN 0 ELSE xs END AS x0,
            CASE gx WHEN 0 THEN xs ELSE w END AS x1,
            CASE gy WHEN 0 THEN 0 ELSE ys END AS y0,
            CASE gy WHEN 0 THEN ys ELSE h END AS y1
          FROM bounds, (SELECT unnest([0, 1]) AS gx), (SELECT unnest([0, 1]) AS gy)),
        sums AS (
          SELECT doc_id, gx, gy,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        wide AS (
          SELECT doc_id,
            MAX(CASE WHEN gy = 0 AND gx = 0 THEN s END) AS b00,
            MAX(CASE WHEN gy = 0 AND gx = 1 THEN s END) AS b01,
            MAX(CASE WHEN gy = 1 AND gx = 0 THEN s END) AS b10,
            MAX(CASE WHEN gy = 1 AND gx = 1 THEN s END) AS b11
          FROM sums GROUP BY 1)
        SELECT w.doc_id AS asset_id,
          CAST(p.w AS BIGINT) AS width, CAST(p.h AS BIGINT) AS height,
          CAST(b00 AS BIGINT) AS b00, CAST(b01 AS BIGINT) AS b01,
          CAST(b10 AS BIGINT) AS b10, CAST(b11 AS BIGINT) AS b11,
          CAST((CASE WHEN b00 > b01 THEN 1 ELSE 0 END)
            + (CASE WHEN b10 > b11 THEN 2 ELSE 0 END)
            + (CASE WHEN b00 > b10 THEN 4 ELSE 0 END)
            + (CASE WHEN b01 > b11 THEN 8 ELSE 0 END) AS BIGINT) AS dhash
        FROM wide w JOIN p ON p.doc_id = w.doc_id ORDER BY 1""")),

    // ---- REAL webp decode: literal-profile VP8L through the pure-JVM
    // WebpCodec. Closes the last stub format tier: the payload is a fully
    // legal lossless-WebP bitstream (RIFF walk, prefix-code loading with
    // the code-length code and its repeat opcodes, canonical LSB-first
    // bit decode), and like q126/q130 the oracle predicts every feature
    // in closed form from the gradient synthesis — any bit-order,
    // canonical-construction, or channel-order bug breaks the hash.
    Q("q151_webp_decode",
      (s, dir) => {
        val feats = Multimodal.decodeWebp(Multimodal.webpAssetsFromDocuments(s, dir))
        feats.select(
          col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("luma_sum"), col("top_left_luma"), col("bottom_right_luma"))
          .orderBy("asset_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
            8 + (doc_id * 3) % 16 AS w,
            8 + (doc_id * 5) % 16 AS h,
            doc_id % 200 AS r,
            (doc_id * 13) % 256 AS g,
            (doc_id * 19) % 256 AS b
          FROM documents)
        SELECT doc_id AS asset_id,
          CAST(w AS BIGINT) AS width,
          CAST(h AS BIGINT) AS height,
          CAST(3 AS BIGINT) AS channels,
          CAST(299 * (w * h * r + h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2))
               + w * h * (587 * g + 114 * b) AS BIGINT) AS luma_sum,
          CAST(299 * r + 587 * g + 114 * b AS BIGINT) AS top_left_luma,
          CAST(299 * (r + w - 1 + h - 1) + 587 * g + 114 * b AS BIGINT) AS bottom_right_luma
        FROM p ORDER BY 1""")),

    // ---- visual near-dup: dHash LSH bands + per-box verify ----------------
    // Image dedup over a corpus with PLANTED visual duplicates: every
    // 40th image is an exact re-render of image 0 (byte-identical — the
    // PNG encoder is deterministic) and every 25th re-renders its
    // neighbor one red level brighter (byte-DIFFERENT payload, same
    // visual structure — exactly what byte-level dedup can't see).
    //
    // Blocking key: NOT the image dims (a production corpus standardizes
    // thumbnails to one size, which would collapse every image into a
    // single block and make the verify join all-pairs O(n²)) — instead a
    // 24-bit perceptual dHash over the 4x4 thumbnail's box MEANS
    // (left-vs-right per adjacent column pair, top-vs-bottom per adjacent
    // row pair), split LSH-style into 4 bands of 6 bits: a candidate pair
    // must agree on (dims, band_idx, band_val) for at least one band —
    // the exact band-then-verify shape of q35's MinHash LSH. Mean (not
    // sum) comparisons via integer cross-multiplication keep the hash
    // EXACT and invariant under uniform brightness shifts (a shift moves
    // every box mean by the same amount, so no comparison can flip even
    // when adjacent boxes hold unequal pixel counts) — which is precisely
    // why the planted one-level-brighter near-dups land in ALL the same
    // bands as their originals. Verify: every 4x4 box mean within 1 luma
    // level, as integer sum differences against 1000·boxPixels, exact in
    // both engines. 'exact' pairs are the ones byte-md5 equality also
    // catches; 'near' pairs are invisible to md5 and THE reason
    // perceptual features exist. Payloads never join — only
    // (dims, 16 sums, dhash, md5) rows do.
    Q("q140_visual_neardup",
      (s, dir) => {
        val g = 4
        // byte md5 + box sums in ONE synthesis/decode pass per image —
        // persisted because BOTH join sides read it and the a_/b_ renames
        // defeat exchange reuse (q35's discipline): without the persist the
        // PNG encode+decode pass runs twice. 5000 narrow rows; the registry
        // runners clearCache() between queries.
        val feats = Multimodal.decodeThumbWithMd5(
            Multimodal.imageAssetsWithNearDups(s, dir), grid = g).toDF()
          .select(col("asset_id"), col("width"), col("height"),
            col("payload_md5").as("pm"), col("box_sums"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // 24-bit dHash (bits 0-11 horizontal, 12-23 vertical; box means
        // compared exactly as sum_a * np_b > sum_b * np_a), band explode,
        // and the 16-box verify all come from the shared VisualDedup
        // algebra — the streaming ingest loop uses the SAME definitions,
        // so its verdicts cannot drift from this oracle-checked query
        import graft.multimodal.VisualDedup
        val banded = VisualDedup.explodeBands(
          feats.withColumn("dhash", VisualDedup.dhash("", g)))
        def side(p: String) =
          banded.columns.foldLeft(banded)((d, c) => d.withColumnRenamed(c, p + c))
        // box-0 luma bucket rides the equi-key (guide §3.2, exact
        // necessary condition — VisualDedup.lumaBucket): the gradient
        // corpus makes every dHash bit equal, so banding alone collapses
        // all same-dims images into one block; the luma level re-spreads
        // them before any 16-box verify evaluates. One side carries the
        // ±1 probes (exactly one can match, so no duplicate pairs).
        val a = side("a_")
          .withColumn("a_bq_probe", explode(VisualDedup.probeBuckets("a_", g)))
        val b = side("b_").withColumn("b_bq", VisualDedup.lumaBucket("b_", g))
        val verify = VisualDedup.verify("a_", "b_", g)
        // LSH first-match-band discipline: a pair agreeing on several bands
        // must report ONCE, so it is emitted only from its LOWEST matching
        // band — for every band j below the joined one, the two dhashes
        // (both sides already carry the full 24 bits) must DISAGREE. This
        // is a pure integer filter evaluated inside the join, before the
        // 16-box verify; the alternative (post-verify distinct()) ran the
        // verify on every duplicate band match and then paid a shuffle to
        // dedup — measured 4x the candidate rows on a hash-clustered
        // corpus, the r7 bench regression.
        val firstMatch = (0 until 3).map(j =>
          col("a_band_idx") <= lit(j) ||
            expr(s"shiftright(a_dhash, ${j * 6}) & 63")
              =!= expr(s"shiftright(b_dhash, ${j * 6}) & 63"))
          .reduce(_ && _)
        a.join(b, col("a_width") === col("b_width") &&
            col("a_height") === col("b_height") &&
            col("a_band_idx") === col("b_band_idx") &&
            col("a_band_val") === col("b_band_val") &&
            col("a_bq_probe") === col("b_bq") &&
            col("a_asset_id") < col("b_asset_id") &&
            firstMatch)
          .filter(verify)
          .select(col("a_asset_id").as("id_a"), col("b_asset_id").as("id_b"),
            col("a_width").cast("long").as("w"), col("a_height").cast("long").as("h"),
            when(col("a_pm") === col("b_pm"), "exact").otherwise("near").as("kind"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH p0 AS (
          SELECT doc_id,
            CASE WHEN doc_id > 0 AND doc_id % 40 = 0 THEN 0
                 WHEN doc_id > 0 AND doc_id % 25 = 0 THEN doc_id - 1
                 ELSE doc_id END AS base,
            CASE WHEN doc_id > 0 AND doc_id % 25 = 0 AND doc_id % 40 <> 0
                 THEN 1 ELSE 0 END AS bright
          FROM documents),
        p AS (
          SELECT doc_id,
            8 + (base * 5) % 16 AS w, 8 + (base * 7) % 16 AS h,
            base % 199 + bright AS r, (base * 11) % 256 AS g, (base * 17) % 256 AS b
          FROM p0),
        boxes AS (
          SELECT doc_id, w, h, r, g, b, gx, gy,
            (gx * w + 3) // 4 AS x0, ((gx + 1) * w + 3) // 4 AS x1,
            (gy * h + 3) // 4 AS y0, ((gy + 1) * h + 3) // 4 AS y1
          FROM p, (SELECT unnest([0, 1, 2, 3]) AS gx),
               (SELECT unnest([0, 1, 2, 3]) AS gy)),
        sums AS (
          SELECT doc_id, gx, gy, (x1 - x0) * (y1 - y0) AS np,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        hb AS (
          SELECT a.doc_id,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
          GROUP BY 1),
        vb AS (
          SELECT a.doc_id,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (12 + a.gy * 4 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.gx = a.gx AND b.gy = a.gy + 1
          GROUP BY 1),
        dh AS (SELECT hb.doc_id, hb.v + vb.v AS dhash FROM hb JOIN vb USING (doc_id)),
        bands AS (
          SELECT doc_id, i, (dhash >> (6 * i)) & 63 AS band_val
          FROM dh, (SELECT unnest([0, 1, 2, 3]) AS i)),
        cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x
          JOIN bands y ON y.i = x.i AND y.band_val = x.band_val
            AND x.doc_id < y.doc_id
          JOIN p pa ON pa.doc_id = x.doc_id
          JOIN p pb ON pb.doc_id = y.doc_id AND pa.w = pb.w AND pa.h = pb.h),
        verified AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sums sa ON sa.doc_id = c.id_a
          JOIN sums sb ON sb.doc_id = c.id_b AND sb.gx = sa.gx AND sb.gy = sa.gy
          GROUP BY 1, 2
          HAVING MAX(CASE WHEN abs(sa.s - sb.s) <= 1000 * sa.np
                     THEN 0 ELSE 1 END) = 0)
        SELECT v.id_a, v.id_b,
          CAST(pa.w AS BIGINT) AS w, CAST(pa.h AS BIGINT) AS h,
          CASE WHEN pa.r = pb.r AND pa.g = pb.g AND pa.b = pb.b
               THEN 'exact' ELSE 'near' END AS kind
        FROM verified v
        JOIN p pa ON pa.doc_id = v.id_a
        JOIN p pb ON pb.doc_id = v.id_b
        ORDER BY 1, 2""")),

    // ---- the streaming visual ingest's VERDICT algebra, oracle-checked ----
    // q140 oracles the pair set; the store-backed streaming loop
    // (Multimodal.visualNearDupIngestStream) additionally decides a
    // per-asset VERDICT against an accepted-history store — previously
    // spec-only. This is the batch replay of a two-batch ingest over the
    // same planted corpus, running the EXACT function the stream runs
    // ([[graft.multimodal.VisualDedup.verdicts]] — left-semi existence
    // joins, verdict priority dropped_vs_history > dropped_in_batch >
    // accepted): phase 1 ingests the even asset ids against an empty
    // store (in-batch dedup only), the store becomes phase 1's ACCEPTED
    // bands (exactly what the stream appends), phase 2 ingests the odd
    // ids against that store. One row per asset: (asset_id, phase,
    // verdict). The live-stream spec drives the same corpus through the
    // real foreachBatch loop in two batches and asserts verdict equality
    // with this query — closing the q96-style batch/stream symmetry for
    // the visual path.
    Q("q156_visual_ingest_verdicts",
      (s, dir) => {
        val g = 4
        import graft.multimodal.VisualDedup
        val feats = Multimodal.decodeThumbWithMd5(
            Multimodal.imageAssetsWithNearDups(s, dir), grid = g).toDF()
          .select(col("asset_id"), col("width"), col("height"), col("box_sums"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // materializes the pin (synthesis+decode run here, once) and sizes
        // the verdict arms' id-grain exchanges to the band-row count
        // (guide §2.2 — the session default pays full-width task launches
        // on KB-scale frames; capped at the session width, so this stays
        // data-adaptive at cluster scale)
        val w = Some(graft.util.Widths.adaptive(
          s, feats.count() * VisualDedup.bandsFor(g)))
        val banded = VisualDedup.explodeBands(
            feats.withColumn("dhash", VisualDedup.dhash("", g)), g)
          .withColumn("band_key", VisualDedup.bandKey(""))
          .select("asset_id", "band_key", "width", "height", "box_sums")
        val b1 = banded.filter(col("asset_id") % 2 === 0)
        val b2 = banded.filter(col("asset_id") % 2 === 1)
        val ids1 = feats.select(col("asset_id")).filter(col("asset_id") % 2 === 0)
        val ids2 = feats.select(col("asset_id")).filter(col("asset_id") % 2 === 1)
        // phase-1 verdicts feed BOTH the output and the store definition —
        // persist so the semi-join pass runs once, not once per consumer
        val v1 = VisualDedup.verdicts(ids1, b1, b1.limit(0), g, w)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val store = b1.join(
          v1.filter(col("verdict") === "accepted").select("asset_id"),
          Seq("asset_id"))
        val v2 = VisualDedup.verdicts(ids2, b2, store, g, w)
        v1.withColumn("phase", lit(1L))
          .unionByName(v2.withColumn("phase", lit(2L)))
          .select("asset_id", "phase", "verdict")
          .orderBy("asset_id")
      },
      Some("""
        WITH p0 AS (
          SELECT doc_id,
            CASE WHEN doc_id > 0 AND doc_id % 40 = 0 THEN 0
                 WHEN doc_id > 0 AND doc_id % 25 = 0 THEN doc_id - 1
                 ELSE doc_id END AS base,
            CASE WHEN doc_id > 0 AND doc_id % 25 = 0 AND doc_id % 40 <> 0
                 THEN 1 ELSE 0 END AS bright
          FROM documents),
        p AS (
          SELECT doc_id,
            8 + (base * 5) % 16 AS w, 8 + (base * 7) % 16 AS h,
            base % 199 + bright AS r, (base * 11) % 256 AS g, (base * 17) % 256 AS b
          FROM p0),
        boxes AS (
          SELECT doc_id, w, h, r, g, b, gx, gy,
            (gx * w + 3) // 4 AS x0, ((gx + 1) * w + 3) // 4 AS x1,
            (gy * h + 3) // 4 AS y0, ((gy + 1) * h + 3) // 4 AS y1
          FROM p, (SELECT unnest([0, 1, 2, 3]) AS gx),
               (SELECT unnest([0, 1, 2, 3]) AS gy)),
        sums AS (
          SELECT doc_id, gx, gy, (x1 - x0) * (y1 - y0) AS np,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        hb AS (
          SELECT a.doc_id,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
          GROUP BY 1),
        vb AS (
          SELECT a.doc_id,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (12 + a.gy * 4 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.gx = a.gx AND b.gy = a.gy + 1
          GROUP BY 1),
        dh AS (SELECT hb.doc_id, hb.v + vb.v AS dhash FROM hb JOIN vb USING (doc_id)),
        bands AS (
          SELECT doc_id, i, (dhash >> (6 * i)) & 63 AS band_val
          FROM dh, (SELECT unnest([0, 1, 2, 3]) AS i)),
        cand1 AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON y.i = x.i AND y.band_val = x.band_val
          JOIN p pa ON pa.doc_id = x.doc_id
          JOIN p pb ON pb.doc_id = y.doc_id AND pa.w = pb.w AND pa.h = pb.h
          WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 0 AND y.doc_id < x.doc_id),
        ver1 AS (
          SELECT c.a FROM cand1 c
          JOIN sums sa ON sa.doc_id = c.a
          JOIN sums sb ON sb.doc_id = c.b AND sb.gx = sa.gx AND sb.gy = sa.gy
          GROUP BY c.a, c.b
          HAVING MAX(CASE WHEN abs(sa.s - sb.s) <= 1000 * sa.np
                     THEN 0 ELSE 1 END) = 0),
        drop1 AS (SELECT DISTINCT a AS doc_id FROM ver1),
        v1 AS (
          SELECT doc_id, CASE WHEN doc_id IN (SELECT doc_id FROM drop1)
            THEN 'dropped_in_batch' ELSE 'accepted' END AS verdict
          FROM p WHERE doc_id % 2 = 0),
        acc1 AS (SELECT doc_id FROM v1 WHERE verdict = 'accepted'),
        candh AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON y.i = x.i AND y.band_val = x.band_val
          JOIN acc1 ON acc1.doc_id = y.doc_id
          JOIN p pa ON pa.doc_id = x.doc_id
          JOIN p pb ON pb.doc_id = y.doc_id AND pa.w = pb.w AND pa.h = pb.h
          WHERE x.doc_id % 2 = 1),
        verh AS (
          SELECT c.a FROM candh c
          JOIN sums sa ON sa.doc_id = c.a
          JOIN sums sb ON sb.doc_id = c.b AND sb.gx = sa.gx AND sb.gy = sa.gy
          GROUP BY c.a, c.b
          HAVING MAX(CASE WHEN abs(sa.s - sb.s) <= 1000 * sa.np
                     THEN 0 ELSE 1 END) = 0),
        droph AS (SELECT DISTINCT a AS doc_id FROM verh),
        candb AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON y.i = x.i AND y.band_val = x.band_val
          JOIN p pa ON pa.doc_id = x.doc_id
          JOIN p pb ON pb.doc_id = y.doc_id AND pa.w = pb.w AND pa.h = pb.h
          WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 1 AND y.doc_id < x.doc_id),
        verb AS (
          SELECT c.a FROM candb c
          JOIN sums sa ON sa.doc_id = c.a
          JOIN sums sb ON sb.doc_id = c.b AND sb.gx = sa.gx AND sb.gy = sa.gy
          GROUP BY c.a, c.b
          HAVING MAX(CASE WHEN abs(sa.s - sb.s) <= 1000 * sa.np
                     THEN 0 ELSE 1 END) = 0),
        dropb AS (SELECT DISTINCT a AS doc_id FROM verb)
        SELECT doc_id AS asset_id, CAST(1 AS BIGINT) AS phase, verdict FROM v1
        UNION ALL
        SELECT doc_id AS asset_id, CAST(2 AS BIGINT) AS phase,
          CASE WHEN doc_id IN (SELECT doc_id FROM droph) THEN 'dropped_vs_history'
               WHEN doc_id IN (SELECT doc_id FROM dropb) THEN 'dropped_in_batch'
               ELSE 'accepted' END AS verdict
        FROM p WHERE doc_id % 2 = 1
        ORDER BY asset_id""")),

    // ---- cross-format visual dedup: the multimodal stack end to end -------
    // The codecs decode to the same integer milli-luma box sums for the
    // same pixels REGARDLESS of container, so a perceptual pipeline built
    // on them is container-blind by construction — this query PROVES it:
    // every 30th doc's image exists twice, once as PNG and once as
    // byte-different BMP ([[Multimodal.crossFormatAssets]]), and the
    // dHash band join + box verify catches exactly those pairs while
    // payload md5 (compared honestly from the real payload bytes on the
    // Spark side) matches none of them. Same q140 plan discipline:
    // one persisted decode pass, first-match-band emit, verify once per
    // pair, payloads never join.
    Q("q157_cross_format_dedup",
      (s, dir) => {
        val g = 4
        import graft.multimodal.VisualDedup
        val feats = Multimodal.decodeThumbWithMd5(
            Multimodal.crossFormatAssets(s, dir), grid = g).toDF()
          .select(col("asset_id"), col("format"), col("width"), col("height"),
            col("payload_md5").as("pm"), col("box_sums"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val banded = VisualDedup.explodeBands(
          feats.withColumn("dhash", VisualDedup.dhash("", g)), g)
        def side(p: String) =
          banded.columns.foldLeft(banded)((d, c) => d.withColumnRenamed(c, p + c))
        // box-0 luma bucket in the equi-key — see q140 (guide §3.2)
        val a = side("a_")
          .withColumn("a_bq_probe", explode(VisualDedup.probeBuckets("a_", g)))
        val b = side("b_").withColumn("b_bq", VisualDedup.lumaBucket("b_", g))
        val firstMatch = (0 until 3).map(j =>
          col("a_band_idx") <= lit(j) ||
            expr(s"shiftright(a_dhash, ${j * 6}) & 63")
              =!= expr(s"shiftright(b_dhash, ${j * 6}) & 63"))
          .reduce(_ && _)
        a.join(b, col("a_width") === col("b_width") &&
            col("a_height") === col("b_height") &&
            col("a_band_idx") === col("b_band_idx") &&
            col("a_band_val") === col("b_band_val") &&
            col("a_bq_probe") === col("b_bq") &&
            col("a_asset_id") < col("b_asset_id") &&
            firstMatch)
          .filter(VisualDedup.verify("a_", "b_", g))
          .select(col("a_asset_id").as("id_a"), col("b_asset_id").as("id_b"),
            col("a_format").as("fmt_a"), col("b_format").as("fmt_b"),
            when(col("a_pm") === col("b_pm"), 1L).otherwise(0L).as("md5_equal"),
            when(col("a_format") =!= col("b_format"), "cross_format")
              .when(col("a_pm") === col("b_pm"), "exact")
              .otherwise("near").as("kind"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH a0 AS (
          SELECT doc_id, doc_id AS aid, 'png' AS fmt FROM documents
          UNION ALL
          SELECT doc_id, doc_id + 1000000 AS aid, 'bmp' AS fmt
          FROM documents WHERE doc_id % 30 = 0),
        p AS (
          SELECT aid, fmt, doc_id,
            8 + (doc_id * 5) % 16 AS w, 8 + (doc_id * 7) % 16 AS h,
            doc_id % 199 AS r, (doc_id * 11) % 256 AS g, (doc_id * 17) % 256 AS b
          FROM a0),
        boxes AS (
          SELECT aid, w, h, r, g, b, gx, gy,
            (gx * w + 3) // 4 AS x0, ((gx + 1) * w + 3) // 4 AS x1,
            (gy * h + 3) // 4 AS y0, ((gy + 1) * h + 3) // 4 AS y1
          FROM p, (SELECT unnest([0, 1, 2, 3]) AS gx),
               (SELECT unnest([0, 1, 2, 3]) AS gy)),
        sums AS (
          SELECT aid, gx, gy, (x1 - x0) * (y1 - y0) AS np,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        hb AS (
          SELECT a.aid,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.aid = a.aid AND b.gy = a.gy AND b.gx = a.gx + 1
          GROUP BY 1),
        vb AS (
          SELECT a.aid,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (12 + a.gy * 4 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.aid = a.aid AND b.gx = a.gx AND b.gy = a.gy + 1
          GROUP BY 1),
        dh AS (SELECT hb.aid, hb.v + vb.v AS dhash FROM hb JOIN vb USING (aid)),
        bands AS (
          SELECT aid, i, (dhash >> (6 * i)) & 63 AS band_val
          FROM dh, (SELECT unnest([0, 1, 2, 3]) AS i)),
        cand AS (
          SELECT DISTINCT x.aid AS id_a, y.aid AS id_b
          FROM bands x
          JOIN bands y ON y.i = x.i AND y.band_val = x.band_val
            AND x.aid < y.aid
          JOIN p pa ON pa.aid = x.aid
          JOIN p pb ON pb.aid = y.aid AND pa.w = pb.w AND pa.h = pb.h),
        verified AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sums sa ON sa.aid = c.id_a
          JOIN sums sb ON sb.aid = c.id_b AND sb.gx = sa.gx AND sb.gy = sa.gy
          GROUP BY 1, 2
          HAVING MAX(CASE WHEN abs(sa.s - sb.s) <= 1000 * sa.np
                     THEN 0 ELSE 1 END) = 0)
        SELECT v.id_a, v.id_b, pa.fmt AS fmt_a, pb.fmt AS fmt_b,
          CAST(CASE WHEN pa.fmt = pb.fmt AND pa.w = pb.w AND pa.h = pb.h
                    AND pa.r = pb.r AND pa.g = pb.g AND pa.b = pb.b
               THEN 1 ELSE 0 END AS BIGINT) AS md5_equal,
          CASE WHEN pa.fmt <> pb.fmt THEN 'cross_format'
               WHEN pa.w = pb.w AND pa.h = pb.h AND pa.r = pb.r
                    AND pa.g = pb.g AND pa.b = pb.b THEN 'exact'
               ELSE 'near' END AS kind
        FROM verified v
        JOIN p pa ON pa.aid = v.id_a
        JOIN p pb ON pb.aid = v.id_b
        ORDER BY 1, 2"""))
    ,

    // ---- AUDIO near-dup: shift-invariant fingerprint + band LSH -----------
    // The audio sibling of q140/q157: every doc becomes a real PCM clip
    // and every 25th doc a DC-SHIFTED twin (+30 on every sample —
    // byte-different, md5-different, same waveform shape). The
    // fingerprint is WavCodec.segmentTv: per-16th-of-the-clip total
    // variation, where a DC offset cancels in every |x_i - x_{i-1}| —
    // exactly how dHash's gradient comparisons null out brightness.
    // Blocking: 4 bands of 4 segment sums joined on (n_frames, band_idx,
    // band_val) with q140's first-match-band discipline; verify = full
    // 16-segment equality; kind from payload md5 (exact = byte-identical
    // clip, near = re-leveled copy). One row-local decode pass; payloads
    // never shuffle — only (id, md5, n, 16 longs) do. The oracle
    // recomputes every fingerprint per sample from the closed-form
    // synthesis parameters without parsing a byte.
    Q("q167_audio_neardup",
      (s, dir) => {
        val fps = Multimodal.audioFingerprints(
            Multimodal.audioAssetsWithTwins(s, dir)).toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // fill the pin before the self-join's two sides read it at once
        fps.count()
        def bandCol(j: Int) = concat_ws(",",
          (0 until 4).map(i => element_at(col("tv"), j * 4 + i + 1)): _*)
        val banded = fps
          .select(Seq(col("asset_id"), col("payload_md5"), col("n_frames"),
            col("tv")) ++ (0 until 4).map(j => bandCol(j).as(s"b$j")): _*)
          .select(col("*"), posexplode(array((0 until 4).map(j => col(s"b$j")): _*))
            .as(Seq("band_idx", "band_val")))
        def side(p: String) =
          banded.columns.foldLeft(banded)((d, c) => d.withColumnRenamed(c, p + c))
        val a = side("a_"); val b = side("b_")
        val firstMatch = (0 until 3).map(j =>
          col("a_band_idx") <= lit(j) || col(s"a_b$j") =!= col(s"b_b$j"))
          .reduce(_ && _)
        a.join(b, col("a_n_frames") === col("b_n_frames") &&
            col("a_band_idx") === col("b_band_idx") &&
            col("a_band_val") === col("b_band_val") &&
            col("a_asset_id") < col("b_asset_id") && firstMatch)
          .filter(col("a_tv") === col("b_tv"))
          .select(col("a_asset_id").as("id_a"), col("b_asset_id").as("id_b"),
            when(col("a_payload_md5") === col("b_payload_md5"), "exact")
              .otherwise("near").as("kind"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH p AS (
          SELECT doc_id AS aid, 200 + doc_id % 100 AS n, 1 + doc_id % 7 AS k,
            doc_id % 100 - 50 AS base
          FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS aid, 200 + doc_id % 100 AS n,
            1 + doc_id % 7 AS k, doc_id % 100 - 50 + 30 AS base
          FROM documents WHERE doc_id % 25 = 0),
        d AS (
          SELECT aid, n, k, base, (i * 16) // n AS seg,
            abs((i * k) % 97 - ((i - 1) * k) % 97) AS dv
          FROM p, UNNEST(generate_series(1, n - 1)) AS t(i)),
        tv AS (
          SELECT aid, n, k, base, seg, CAST(SUM(dv) AS BIGINT) AS s
          FROM d GROUP BY 1, 2, 3, 4, 5),
        v AS (
          SELECT aid, n, k, base, list(s ORDER BY seg) AS tvv
          FROM tv GROUP BY 1, 2, 3, 4)
        SELECT a.aid AS id_a, b.aid AS id_b,
          CASE WHEN a.k = b.k AND a.base = b.base THEN 'exact'
               ELSE 'near' END AS kind
        FROM v a JOIN v b
          ON a.n = b.n AND a.tvv = b.tvv AND a.aid < b.aid
        ORDER BY 1, 2"""))
    ,

    // ---- VIDEO near-dup over real AVI containers --------------------------
    // The video tier of the q140/q167 family: per-doc single-stream
    // DIB-flavor AVIs (AviCodec — a real RIFF chunk walk: LIST nesting,
    // even-byte padding, JUNK tolerance), frames stride-2 sampled (the
    // q101 discipline on an actual container), each sampled frame
    // reduced to the q140 box panel + dHash bands ROW-LOCALLY — payloads
    // never shuffle; only (ids, dims, 16 sums, md5) rows do. A clip PAIR
    // is a near-dup when EVERY sampled frame pair band-matches and
    // passes the 16-box verify (conjunction over frames — one drifted
    // frame kills the pair), under (dims, frame count) blocking. Planted
    // plants: every 40th clip re-renders clip 0 byte-exactly; every 25th
    // re-renders its neighbor +1 red level in all frames (md5-invisible,
    // band-invariant — the brightness-shift proof from q140 applies per
    // frame). The oracle predicts every frame's panel in closed form
    // from the synthesis parameters without parsing a byte.
    Q("q194_video_neardup",
      (s, dir) => {
        import graft.multimodal.VisualDedup
        val g = 4
        val feats = Multimodal.videoFrameFeatures(
            Multimodal.videoAssetsWithNearDups(s, dir), grid = g, stride = 2)
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val banded = VisualDedup.explodeBands(
          feats.withColumn("dhash", VisualDedup.dhash("", g)), g)
        def side(p: String) =
          banded.columns.foldLeft(banded)((d, c) => d.withColumnRenamed(c, p + c))
        // box-0 luma bucket in the equi-key — see q140 (guide §3.2)
        val a = side("a_")
          .withColumn("a_bq_probe", explode(VisualDedup.probeBuckets("a_", g)))
        val b = side("b_").withColumn("b_bq", VisualDedup.lumaBucket("b_", g))
        val firstMatch = (0 until 3).map(j =>
          col("a_band_idx") <= lit(j) ||
            expr(s"shiftright(a_dhash, ${j * 6}) & 63")
              =!= expr(s"shiftright(b_dhash, ${j * 6}) & 63"))
          .reduce(_ && _)
        val framePairs = a.join(b,
            col("a_width") === col("b_width") &&
              col("a_height") === col("b_height") &&
              col("a_n_frames") === col("b_n_frames") &&
              col("a_frame_idx") === col("b_frame_idx") &&
              col("a_band_idx") === col("b_band_idx") &&
              col("a_band_val") === col("b_band_val") &&
              col("a_bq_probe") === col("b_bq") &&
              col("a_asset_id") < col("b_asset_id") && firstMatch)
          .filter(VisualDedup.verify("a_", "b_", g))
          .select(col("a_asset_id").as("id_a"), col("b_asset_id").as("id_b"),
            col("a_width").cast("long").as("w"),
            col("a_height").cast("long").as("h"),
            col("a_n_frames").cast("long").as("n_frames"),
            col("a_frame_idx").as("fidx"),
            (col("a_frame_md5") === col("b_frame_md5")).as("fr_exact"))
        framePairs.groupBy("id_a", "id_b", "w", "h", "n_frames")
          .agg(countDistinct("fidx").as("matched_frames"),
            min(when(col("fr_exact"), 1L).otherwise(0L)).as("ae"))
          .filter(col("matched_frames") === expr("(n_frames + 1) div 2"))
          .select(col("id_a"), col("id_b"), col("w"), col("h"),
            col("n_frames"), col("matched_frames").as("sampled_frames"),
            when(col("ae") === 1L, "exact").otherwise("near").as("kind"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH p0 AS (
          SELECT doc_id,
            CASE WHEN doc_id > 0 AND doc_id % 40 = 0 THEN 0
                 WHEN doc_id > 0 AND doc_id % 25 = 0 THEN doc_id - 1
                 ELSE doc_id END AS base,
            CASE WHEN doc_id > 0 AND doc_id % 25 = 0 AND doc_id % 40 <> 0
                 THEN 1 ELSE 0 END AS bright
          FROM documents),
        p AS (
          SELECT doc_id, base, bright,
            8 + (base * 5) % 16 AS w, 8 + (base * 7) % 16 AS h,
            3 + base % 4 AS nf
          FROM p0),
        fr AS (
          SELECT doc_id, w, h, nf, f,
            (base * 3 + 13 * f) % 199 + bright AS r,
            (base * 11 + 7 * f) % 256 AS g,
            (base * 17 + 5 * f) % 256 AS b
          FROM p, UNNEST(generate_series(0, nf - 1)) AS t(f)
          WHERE f % 2 = 0),
        boxes AS (
          SELECT doc_id, f, w, h, r, g, b, gx, gy,
            (gx * w + 3) // 4 AS x0, ((gx + 1) * w + 3) // 4 AS x1,
            (gy * h + 3) // 4 AS y0, ((gy + 1) * h + 3) // 4 AS y1
          FROM fr, (SELECT unnest([0, 1, 2, 3]) AS gx),
               (SELECT unnest([0, 1, 2, 3]) AS gy)),
        sums AS MATERIALIZED (
          SELECT doc_id, f, gx, gy, (x1 - x0) * (y1 - y0) AS np,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        hb AS (
          SELECT a.doc_id, a.f,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.gy = a.gy AND b.gx = a.gx + 1
          GROUP BY 1, 2),
        vb AS (
          SELECT a.doc_id, a.f,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (12 + a.gy * 4 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.gx = a.gx AND b.gy = a.gy + 1
          GROUP BY 1, 2),
        dh AS (
          SELECT hb.doc_id, hb.f, hb.v + vb.v AS dhash
          FROM hb JOIN vb ON vb.doc_id = hb.doc_id AND vb.f = hb.f),
        bands AS (
          SELECT doc_id, f, i, (dhash >> (6 * i)) & 63 AS band_val
          FROM dh, (SELECT unnest([0, 1, 2, 3]) AS i)),
        candf AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.f
          FROM bands x
            JOIN bands y ON y.f = x.f AND y.i = x.i
              AND y.band_val = x.band_val AND x.doc_id < y.doc_id
            JOIN p pa ON pa.doc_id = x.doc_id
            JOIN p pb ON pb.doc_id = y.doc_id
          WHERE pa.w = pb.w AND pa.h = pb.h AND pa.nf = pb.nf),
        vf AS (
          SELECT c.id_a, c.id_b, c.f FROM candf c
          WHERE NOT EXISTS (
            SELECT 1 FROM sums sa
              JOIN sums sb ON sb.doc_id = c.id_b AND sb.f = sa.f
                AND sb.gx = sa.gx AND sb.gy = sa.gy
            WHERE sa.doc_id = c.id_a AND sa.f = c.f
              AND abs(sa.s - sb.s) > 1000 * sa.np)),
        mt AS (
          SELECT id_a, id_b, COUNT(DISTINCT f) AS matched
          FROM vf GROUP BY 1, 2)
        SELECT m.id_a, m.id_b,
          CAST(pa.w AS BIGINT) AS w, CAST(pa.h AS BIGINT) AS h,
          CAST(pa.nf AS BIGINT) AS n_frames,
          CAST(m.matched AS BIGINT) AS sampled_frames,
          CASE WHEN pa.base = pb.base AND pa.bright = pb.bright
               THEN 'exact' ELSE 'near' END AS kind
        FROM mt m
          JOIN p pa ON pa.doc_id = m.id_a
          JOIN p pb ON pb.doc_id = m.id_b
        WHERE m.matched = (pa.nf + 1) // 2
        ORDER BY 1, 2"""))
    ,

    // ---- video ingest verdicts: the q156/q179 replay, clip grain ----------
    // The fourth modality of the store-backed ingest family: the stream
    // (Multimodal.videoNearDupIngestStream) and this batch replay share
    // ONE verdict function (videoClipVerdicts), so the oracle checks the
    // stream's actual decision logic. Two arrival phases (even clips
    // first against an empty store, odd clips against the phase-1
    // accepted history); a clip drops only when EVERY sampled frame of
    // some partner matches band + 16-box verify — the conjunction forces
    // pair-grain counting, which is why the video verdict is not the
    // visual family's semi-join (documented on videoClipVerdicts). The
    // oracle replays both phases from the closed-form frame panels.
    Q("q196_video_ingest_verdicts",
      (s, dir) => {
        import graft.multimodal.VisualDedup
        val g = 4
        val banded = VisualDedup.explodeBands(
            Multimodal.videoFrameFeatures(
              Multimodal.videoAssetsWithNearDups(s, dir), grid = g, stride = 2)
              .toDF()
              .withColumn("dhash", VisualDedup.dhash("", g)), g)
          .withColumn("band_key", Multimodal.videoBandKey(""))
          .select("asset_id", "frame_idx", "n_frames", "band_key",
            "width", "height", "box_sums")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // materializes the pin (synthesis+decode run here, once) and sizes
        // the verdict arms' pair/id-grain exchanges to the band-row count
        // (guide §2.2; capped at the session width — data-adaptive)
        val w = Some(graft.util.Widths.adaptive(s, banded.count()))
        val b1 = banded.filter(col("asset_id") % 2 === 0)
        val b2 = banded.filter(col("asset_id") % 2 === 1)
        val ids1 = banded.select("asset_id").distinct().filter(col("asset_id") % 2 === 0)
        val ids2 = banded.select("asset_id").distinct().filter(col("asset_id") % 2 === 1)
        val v1 = Multimodal.videoClipVerdicts(ids1, b1, b1.limit(0), g, 2, w)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val store = b1.join(
          v1.filter(col("verdict") === "accepted").select("asset_id"),
          Seq("asset_id"))
        val v2 = Multimodal.videoClipVerdicts(ids2, b2, store, g, 2, w)
        v1.withColumn("phase", lit(1L))
          .unionByName(v2.withColumn("phase", lit(2L)))
          .select("asset_id", "phase", "verdict")
          .orderBy("asset_id")
      },
      Some("""
        WITH p0 AS (
          SELECT doc_id,
            CASE WHEN doc_id > 0 AND doc_id % 40 = 0 THEN 0
                 WHEN doc_id > 0 AND doc_id % 25 = 0 THEN doc_id - 1
                 ELSE doc_id END AS base,
            CASE WHEN doc_id > 0 AND doc_id % 25 = 0 AND doc_id % 40 <> 0
                 THEN 1 ELSE 0 END AS bright
          FROM documents),
        p AS (
          SELECT doc_id, base, bright,
            8 + (base * 5) % 16 AS w, 8 + (base * 7) % 16 AS h,
            3 + base % 4 AS nf
          FROM p0),
        fr AS (
          SELECT doc_id, w, h, nf, f,
            (base * 3 + 13 * f) % 199 + bright AS r,
            (base * 11 + 7 * f) % 256 AS g,
            (base * 17 + 5 * f) % 256 AS b
          FROM p, UNNEST(generate_series(0, nf - 1)) AS t(f)
          WHERE f % 2 = 0),
        boxes AS (
          SELECT doc_id, f, w, h, r, g, b, gx, gy,
            (gx * w + 3) // 4 AS x0, ((gx + 1) * w + 3) // 4 AS x1,
            (gy * h + 3) // 4 AS y0, ((gy + 1) * h + 3) // 4 AS y1
          FROM fr, (SELECT unnest([0, 1, 2, 3]) AS gx),
               (SELECT unnest([0, 1, 2, 3]) AS gy)),
        sums AS MATERIALIZED (
          SELECT doc_id, f, gx, gy, (x1 - x0) * (y1 - y0) AS np,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        hb AS (
          SELECT a.doc_id, a.f,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.gy = a.gy AND b.gx = a.gx + 1
          GROUP BY 1, 2),
        vb AS (
          SELECT a.doc_id, a.f,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (12 + a.gy * 4 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.gx = a.gx AND b.gy = a.gy + 1
          GROUP BY 1, 2),
        dh AS (
          SELECT hb.doc_id, hb.f, hb.v + vb.v AS dhash
          FROM hb JOIN vb ON vb.doc_id = hb.doc_id AND vb.f = hb.f),
        bands AS (
          SELECT doc_id, f, i, (dhash >> (6 * i)) & 63 AS band_val
          FROM dh, (SELECT unnest([0, 1, 2, 3]) AS i)),
        candf AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.f
          FROM bands x
            JOIN bands y ON y.f = x.f AND y.i = x.i
              AND y.band_val = x.band_val AND x.doc_id < y.doc_id
            JOIN p pa ON pa.doc_id = x.doc_id
            JOIN p pb ON pb.doc_id = y.doc_id
          WHERE pa.w = pb.w AND pa.h = pb.h AND pa.nf = pb.nf),
        vf AS (
          SELECT c.id_a, c.id_b, c.f FROM candf c
          WHERE NOT EXISTS (
            SELECT 1 FROM sums sa
              JOIN sums sb ON sb.doc_id = c.id_b AND sb.f = sa.f
                AND sb.gx = sa.gx AND sb.gy = sa.gy
            WHERE sa.doc_id = c.id_a AND sa.f = c.f
              AND abs(sa.s - sb.s) > 1000 * sa.np)),
        pairs AS MATERIALIZED (
          SELECT m.id_a, m.id_b
          FROM (SELECT id_a, id_b, COUNT(DISTINCT f) AS matched
                FROM vf GROUP BY 1, 2) m
            JOIN p pa ON pa.doc_id = m.id_a
          WHERE m.matched = (pa.nf + 1) // 2),
        ph1d AS (SELECT DISTINCT id_b AS doc_id FROM pairs
                 WHERE id_a % 2 = 0 AND id_b % 2 = 0),
        ph1a AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0
                 AND doc_id NOT IN (SELECT doc_id FROM ph1d)),
        ph2h AS (
          SELECT DISTINCT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id
          FROM pairs
          WHERE (id_a % 2 = 1 AND id_b % 2 = 0
                   AND id_b IN (SELECT doc_id FROM ph1a))
             OR (id_b % 2 = 1 AND id_a % 2 = 0
                   AND id_a IN (SELECT doc_id FROM ph1a))),
        ph2b AS (SELECT DISTINCT id_b AS doc_id FROM pairs
                 WHERE id_a % 2 = 1 AND id_b % 2 = 1)
        SELECT doc_id AS asset_id,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS phase,
          CASE WHEN doc_id % 2 = 0 THEN
                 CASE WHEN doc_id IN (SELECT doc_id FROM ph1d)
                      THEN 'dropped_in_batch' ELSE 'accepted' END
               ELSE
                 CASE WHEN doc_id IN (SELECT doc_id FROM ph2h)
                        THEN 'dropped_vs_history'
                      WHEN doc_id IN (SELECT doc_id FROM ph2b)
                        THEN 'dropped_in_batch'
                      ELSE 'accepted' END
          END AS verdict
        FROM documents ORDER BY 1"""))
    ,

    // ---- VIDEO near-dup over real MP4 (ISO-BMFF) containers ----------------
    // q194's frame algebra on the container production corpora actually
    // ship: per-doc single-track 'raw '-flavor MP4s (Mp4Codec — a real
    // box walk: big-endian sizes, largesize/size-0 forms, and sample
    // extraction as the stsz x stsc x stco TABLE JOIN, not a linear
    // scan). Same row-local decode -> box panel -> dHash band -> frame
    // conjunction pipeline; payloads never shuffle. Plants use DISTINCT
    // periods (32/21) and dimension algebra from the AVI row so neither
    // can mask a regression in the other. The oracle predicts every
    // frame's panel in closed form from the synthesis parameters
    // without parsing a byte.
    Q("q249_mp4_neardup",
      (s, dir) => {
        import graft.multimodal.VisualDedup
        val g = 4
        val feats = Multimodal.videoFrameFeatures(
            Multimodal.mp4AssetsWithNearDups(s, dir), grid = g, stride = 2)
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val banded = VisualDedup.explodeBands(
          feats.withColumn("dhash", VisualDedup.dhash("", g)), g)
        def side(p: String) =
          banded.columns.foldLeft(banded)((d, c) => d.withColumnRenamed(c, p + c))
        // box-0 luma bucket in the equi-key — see q140 (guide §3.2)
        val a = side("a_")
          .withColumn("a_bq_probe", explode(VisualDedup.probeBuckets("a_", g)))
        val b = side("b_").withColumn("b_bq", VisualDedup.lumaBucket("b_", g))
        val firstMatch = (0 until 3).map(j =>
          col("a_band_idx") <= lit(j) ||
            expr(s"shiftright(a_dhash, ${j * 6}) & 63")
              =!= expr(s"shiftright(b_dhash, ${j * 6}) & 63"))
          .reduce(_ && _)
        val framePairs = a.join(b,
            col("a_width") === col("b_width") &&
              col("a_height") === col("b_height") &&
              col("a_n_frames") === col("b_n_frames") &&
              col("a_frame_idx") === col("b_frame_idx") &&
              col("a_band_idx") === col("b_band_idx") &&
              col("a_band_val") === col("b_band_val") &&
              col("a_bq_probe") === col("b_bq") &&
              col("a_asset_id") < col("b_asset_id") && firstMatch)
          .filter(VisualDedup.verify("a_", "b_", g))
          .select(col("a_asset_id").as("id_a"), col("b_asset_id").as("id_b"),
            col("a_width").cast("long").as("w"),
            col("a_height").cast("long").as("h"),
            col("a_n_frames").cast("long").as("n_frames"),
            col("a_frame_idx").as("fidx"),
            (col("a_frame_md5") === col("b_frame_md5")).as("fr_exact"))
        framePairs.groupBy("id_a", "id_b", "w", "h", "n_frames")
          .agg(countDistinct("fidx").as("matched_frames"),
            min(when(col("fr_exact"), 1L).otherwise(0L)).as("ae"))
          .filter(col("matched_frames") === expr("(n_frames + 1) div 2"))
          .select(col("id_a"), col("id_b"), col("w"), col("h"),
            col("n_frames"), col("matched_frames").as("sampled_frames"),
            when(col("ae") === 1L, "exact").otherwise("near").as("kind"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH p0 AS (
          SELECT doc_id,
            CASE WHEN doc_id > 0 AND doc_id % 32 = 0 THEN 0
                 WHEN doc_id > 0 AND doc_id % 21 = 0 THEN doc_id - 1
                 ELSE doc_id END AS base,
            CASE WHEN doc_id > 0 AND doc_id % 21 = 0 AND doc_id % 32 <> 0
                 THEN 1 ELSE 0 END AS bright
          FROM documents),
        p AS (
          SELECT doc_id, base, bright,
            8 + (base * 3) % 16 AS w, 8 + (base * 5) % 16 AS h,
            3 + base % 5 AS nf
          FROM p0),
        fr AS (
          SELECT doc_id, w, h, nf, f,
            (base * 7 + 11 * f) % 199 + bright AS r,
            (base * 13 + 3 * f) % 256 AS g,
            (base * 19 + 9 * f) % 256 AS b
          FROM p, UNNEST(generate_series(0, nf - 1)) AS t(f)
          WHERE f % 2 = 0),
        boxes AS (
          SELECT doc_id, f, w, h, r, g, b, gx, gy,
            (gx * w + 3) // 4 AS x0, ((gx + 1) * w + 3) // 4 AS x1,
            (gy * h + 3) // 4 AS y0, ((gy + 1) * h + 3) // 4 AS y1
          FROM fr, (SELECT unnest([0, 1, 2, 3]) AS gx),
               (SELECT unnest([0, 1, 2, 3]) AS gy)),
        sums AS MATERIALIZED (
          SELECT doc_id, f, gx, gy, (x1 - x0) * (y1 - y0) AS np,
            (x1 - x0) * (y1 - y0) * (299 * r + 587 * g + 114 * b)
              + 299 * ((y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
                       + (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2)) AS s
          FROM boxes),
        hb AS (
          SELECT a.doc_id, a.f,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.gy = a.gy AND b.gx = a.gx + 1
          GROUP BY 1, 2),
        vb AS (
          SELECT a.doc_id, a.f,
            SUM(CASE WHEN a.s * b.np > b.s * a.np
                THEN 1 << (12 + a.gy * 4 + a.gx) ELSE 0 END) AS v
          FROM sums a JOIN sums b
            ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.gx = a.gx AND b.gy = a.gy + 1
          GROUP BY 1, 2),
        dh AS (
          SELECT hb.doc_id, hb.f, hb.v + vb.v AS dhash
          FROM hb JOIN vb ON vb.doc_id = hb.doc_id AND vb.f = hb.f),
        bands AS (
          SELECT doc_id, f, i, (dhash >> (6 * i)) & 63 AS band_val
          FROM dh, (SELECT unnest([0, 1, 2, 3]) AS i)),
        candf AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.f
          FROM bands x
            JOIN bands y ON y.f = x.f AND y.i = x.i
              AND y.band_val = x.band_val AND x.doc_id < y.doc_id
            JOIN p pa ON pa.doc_id = x.doc_id
            JOIN p pb ON pb.doc_id = y.doc_id
          WHERE pa.w = pb.w AND pa.h = pb.h AND pa.nf = pb.nf),
        vf AS (
          SELECT c.id_a, c.id_b, c.f FROM candf c
          WHERE NOT EXISTS (
            SELECT 1 FROM sums sa
              JOIN sums sb ON sb.doc_id = c.id_b AND sb.f = sa.f
                AND sb.gx = sa.gx AND sb.gy = sa.gy
            WHERE sa.doc_id = c.id_a AND sa.f = c.f
              AND abs(sa.s - sb.s) > 1000 * sa.np)),
        mt AS (
          SELECT id_a, id_b, COUNT(DISTINCT f) AS matched
          FROM vf GROUP BY 1, 2)
        SELECT m.id_a, m.id_b,
          CAST(pa.w AS BIGINT) AS w, CAST(pa.h AS BIGINT) AS h,
          CAST(pa.nf AS BIGINT) AS n_frames,
          CAST(m.matched AS BIGINT) AS sampled_frames,
          CASE WHEN pa.base = pb.base AND pa.bright = pb.bright
               THEN 'exact' ELSE 'near' END AS kind
        FROM mt m
          JOIN p pa ON pa.doc_id = m.id_a
          JOIN p pb ON pb.doc_id = m.id_b
        WHERE m.matched = (pa.nf + 1) // 2
        ORDER BY 1, 2"""))
    ,

    // ---- CROSS-CONTAINER video agreement: AVI and MP4 of the same clip -----
    // The q157 cross-format proof at video grain: every doc renders the
    // SAME frame algebra as an AVI/DIB clip (id) and an MP4/'raw ' clip
    // (id + 2e6) — zero shared bytes (bottom-up padded BGR vs top-down
    // unpadded RGB, RIFF vs ISO-BMFF), but image-orientation box panels
    // identical by construction. The band + 16-box frame conjunction is
    // evaluated on each TWIN pair (open dedup across the corpus is
    // q194/q249's job — the tolerance verify legitimately pairs
    // close-parameter docs too; here the join pins the twin so the row
    // is a pure walker-agreement certificate): frame md5s differ, the
    // byte arm is blind across containers, only the perceptual arm can
    // connect them. One drifted walker — an orientation flip, a stride
    // bug, a sample-table misread — kills every pair; the closed-form
    // oracle expects every doc.
    Q("q268_cross_container_video",
      (s, dir) => {
        import graft.multimodal.VisualDedup
        val g = 4
        val feats = Multimodal.videoFrameFeatures(
            Multimodal.crossContainerVideoAssets(s, dir), grid = g, stride = 2)
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val banded = VisualDedup.explodeBands(
          feats.withColumn("dhash", VisualDedup.dhash("", g)), g)
        def side(p: String) =
          banded.columns.foldLeft(banded)((d, c) => d.withColumnRenamed(c, p + c))
        val a = side("a_"); val b = side("b_")
        val firstMatch = (0 until 3).map(j =>
          col("a_band_idx") <= lit(j) ||
            expr(s"shiftright(a_dhash, ${j * 6}) & 63")
              =!= expr(s"shiftright(b_dhash, ${j * 6}) & 63"))
          .reduce(_ && _)
        val framePairs = a.join(b,
            col("b_asset_id") === col("a_asset_id") + 2000000L &&
              col("a_width") === col("b_width") &&
              col("a_height") === col("b_height") &&
              col("a_n_frames") === col("b_n_frames") &&
              col("a_frame_idx") === col("b_frame_idx") &&
              col("a_band_idx") === col("b_band_idx") &&
              col("a_band_val") === col("b_band_val") && firstMatch)
          .filter(VisualDedup.verify("a_", "b_", g))
          .select(col("a_asset_id").as("id_a"), col("b_asset_id").as("id_b"),
            col("a_n_frames").cast("long").as("n_frames"),
            col("a_frame_idx").as("fidx"),
            (col("a_frame_md5") === col("b_frame_md5")).as("fr_exact"))
        framePairs.groupBy("id_a", "id_b", "n_frames")
          .agg(countDistinct("fidx").as("matched_frames"),
            max(when(col("fr_exact"), 1L).otherwise(0L)).as("any_byte_equal"))
          .filter(col("matched_frames") === expr("(n_frames + 1) div 2"))
          .select(col("id_a"), col("id_b"),
            col("matched_frames").as("sampled_frames"),
            col("any_byte_equal"), lit("cross_container").as("kind"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        SELECT doc_id AS id_a, doc_id + 2000000 AS id_b,
          CAST((3 + doc_id % 4 + 1) // 2 AS BIGINT) AS sampled_frames,
          CAST(0 AS BIGINT) AS any_byte_equal,
          'cross_container' AS kind
        FROM documents ORDER BY 1, 2"""))
  )
}
