package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * processed in partition-sized batches.
  *
  * Two decode tiers: the common image/audio formats get a REAL decode —
  * `bmp` via the pure-JVM [[BmpCodec]] (headers + padding + bottom-up
  * rows), `wav` via [[WavCodec]] (RIFF chunk walk), and png/jpg/gif/tiff
  * via the JDK's built-in `javax.imageio` plugins ([[ImageIoCodec]], no
  * native deps), and `webp` via the pure-JVM [[WebpCodec]] (VP8L
  * literal profile). Only genuinely opaque blobs keep the clearly-marked
  * deterministic STUB.
  * Everything around both tiers — the schema contract, the binary column
  * handling, the typed `mapPartitions` batch shape, and the partitioning
  * story — is identical and tested; swapping [[decodeStub]] for a JNI
  * call is the only production change for the remaining stub formats.
  *
  * Scale notes: payloads stay in executor space end-to-end (no collect);
  * decode is a narrow per-partition pass, so throughput scales with input
  * splits; metadata-only queries never touch the bytes thanks to parquet
  * column pruning.
  */
object Multimodal {

  /** One media asset: opaque bytes + typed metadata. */
  final case class Asset(asset_id: Long, format: String, payload: Array[Byte])

  /** Decoded features — what a real image decode would yield. */
  final case class AssetFeatures(
      asset_id: Long,
      format: String,
      byte_len: Int,
      width: Int,
      height: Int,
      channels: Int,
      mean_luma: Double)

  /** STUB decode for genuinely opaque blobs: deterministic
    * pseudo-features derived from the payload alone (length + first/last
    * byte), standing in for a codec call. Replace the body with the real
    * decoder to productionize. png/jpg/gif/tiff/bmp do NOT go through
    * here ([[ImageIoCodec]]), and neither does webp ([[WebpCodec]],
    * q151) — every named format now has a real decode tier.
    */
  def decodeStub(a: Asset): AssetFeatures = {
    val len = a.payload.length
    val first = if (len > 0) a.payload(0) & 0xff else 0
    val last = if (len > 0) a.payload(len - 1) & 0xff else 0
    AssetFeatures(
      asset_id = a.asset_id,
      format = a.format,
      byte_len = len,
      width = 64 + (len % 512),
      height = 64 + ((len * 7 + first) % 512),
      channels = if (a.format == "opaque") 4 else 3,
      mean_luma = ((first + last + len % 256) % 256) / 255.0)
  }

  /** Formats [[decode]] routes to a REAL decoder ([[ImageIoCodec]] — the
    * JDK's plugins cover bmp too, so the generic path never pseudo-decodes
    * a format the typed [[decodeBmp]] parses for real).
    */
  private val imageIoFormats =
    Set("png", "jpg", "jpeg", "gif", "tiff", "tif", "bmp")

  /** Batch decode: a typed per-partition pass (the Scala analogue of a
    * pandas-UDF `mapInPandas` stage) — each partition's assets stream
    * through the decoder without materializing the whole partition.
    * Dispatch: png/jpg/gif/tiff/bmp payloads are REALLY decoded via
    * `javax.imageio`; `wav` is rejected loudly (audio features don't fit
    * this image schema — use [[decodeWav]]); genuinely opaque blobs
    * take the stub (webp has its own typed tier, [[decodeWebp]]).
    */
  def decode(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      require(a.format != "wav", "wav assets carry audio features — use decodeWav")
      if (imageIoFormats(a.format)) {
        val d = ImageIoCodec.decode(a.payload)
        AssetFeatures(a.asset_id, a.format, a.payload.length, d.width,
          d.height, d.channels,
          d.lumaSumMilli.toDouble / (255000.0 * d.width * d.height))
      } else decodeStub(a)
    })
  }

  /** Frame sampling: explode each asset into fixed-size frames, keep every
    * `stride`-th, emit per-frame features (length + content digest). The
    * frame extraction itself is the honest stand-in (character chunks of
    * the payload text — a real video sampler seeks keyframes instead), but
    * the PLUMBING is the production shape: per-row frame explosion is
    * row-local inside the scan stage, sampled frames carry only narrow
    * features forward, and full payloads never shuffle.
    */
  def sampleFrameFeatures(docs: DataFrame, frameChars: Int = 256,
      stride: Int = 4): DataFrame =
    docs.select(col("doc_id").as("asset_id"), col("text"))
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("n_frames",
        ceil(length(col("text")).cast("double") / frameChars).cast("int"))
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1)))
      .filter(col("frame_idx") % stride === 0)
      .select(col("asset_id"), col("frame_idx"),
        expr(s"substring(text, frame_idx * $frameChars + 1, $frameChars)").as("frame"))
      .select(col("asset_id"), col("frame_idx"),
        length(col("frame")).as("frame_chars"),
        md5(col("frame")).as("frame_md5"))

  /** Decoded BMP features. All-integer milli-luma (299R+587G+114B per
    * pixel) instead of a float mean: exact in any summation order, so the
    * oracle compare is equality, not tolerance.
    */
  final case class BmpFeatures(
      asset_id: Long,
      width: Int,
      height: Int,
      channels: Int,
      byte_len: Int,
      luma_sum: Long,
      top_left_luma: Long,
      bottom_right_luma: Long)

  /** REAL decode for `bmp` assets via [[BmpCodec]] — no stub: the payload
    * bytes are parsed (headers, bottom-up rows, BGR order, row padding)
    * and every pixel is summed. Same typed per-partition batch shape as
    * [[decode]]; fails loudly on non-BMP input.
    */
  def decodeBmp(assets: Dataset[Asset]): Dataset[BmpFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      require(a.format == "bmp", s"decodeBmp got format '${a.format}'")
      val d = BmpCodec.decode(a.payload)
      BmpFeatures(a.asset_id, d.width, d.height, d.channels, a.payload.length,
        d.lumaSumMilli, d.topLeftLumaMilli, d.bottomRightLumaMilli)
    })
  }

  /** Deterministic REAL-BMP asset table: each document becomes a w×h
    * 24-bit BMP whose red channel carries an (x+y) gradient and whose
    * green/blue are doc-derived constants. Parameters are arithmetic in
    * doc_id (dims 8-23, rBase ≤ 199 so the gradient never wraps), which
    * gives the decoded features a closed-form SQL oracle while the decode
    * itself runs a real binary parser over real pixel arrays. Payload
    * synthesis is row-local in the scan stage; bytes never shuffle.
    */
  def bmpAssetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + id % 16).toInt
        val h = (8 + (id * 3) % 16).toInt
        val rBase = (id % 200).toInt
        val g = ((id * 7) % 256).toInt
        val b = ((id * 13) % 256).toInt
        Asset(id, "bmp",
          BmpCodec.encode(w, h)((x, y) => ((rBase + x + y) << 16) | (g << 8) | b))
      })
  }

  /** Decoded image features via `javax.imageio` — same integer milli-luma
    * statistics as [[BmpFeatures]], plus the format tag (one query can mix
    * png and gif assets).
    */
  final case class ImageFeatures(
      asset_id: Long,
      format: String,
      width: Int,
      height: Int,
      channels: Int,
      luma_sum: Long,
      top_left_luma: Long,
      bottom_right_luma: Long)

  /** REAL decode for png/jpg/gif/tiff assets via [[ImageIoCodec]] — the
    * JDK's own codec plugins parse the compressed payload and every pixel
    * is summed. Same typed per-partition batch shape as [[decode]]; fails
    * loudly on undecodable input.
    */
  def decodeImage(assets: Dataset[Asset]): Dataset[ImageFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      require(imageIoFormats(a.format), s"decodeImage got format '${a.format}'")
      val d = ImageIoCodec.decode(a.payload)
      ImageFeatures(a.asset_id, a.format, d.width, d.height, d.channels,
        d.lumaSumMilli, d.topLeftLumaMilli, d.bottomRightLumaMilli)
    })
  }

  /** Deterministic REAL-image asset table: each document becomes a w×h
    * image (format alternating png/gif by doc_id) whose red channel
    * carries an (x+y) gradient and whose green/blue are doc-derived
    * constants — the same closed-form-oracle trick as
    * [[bmpAssetsFromDocuments]], but the payloads are REAL compressed
    * PNG/GIF streams written by `javax.imageio` (deflate for PNG, LZW +
    * palette for GIF — the gradient keeps ≤ 38 distinct colors, inside
    * GIF's 256-color limit, so both round-trip losslessly). Dim/color
    * parameters deliberately differ from the BMP recipe so a decoder
    * reading the wrong table breaks the hash. Synthesis is row-local in
    * the scan stage; payload bytes never shuffle.
    */
  def imageAssetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val fmt = if (id % 2 == 0) "png" else "gif"
        val w = (8 + (id * 5) % 16).toInt
        val h = (8 + (id * 7) % 16).toInt
        val rBase = (id % 200).toInt
        val g = ((id * 11) % 256).toInt
        val b = ((id * 17) % 256).toInt
        Asset(id, fmt,
          ImageIoCodec.encode(w, h, fmt)((x, y) => ((rBase + x + y) << 16) | (g << 8) | b))
      })
  }

  /** Deterministic REAL-JPEG asset table: same gradient recipe as
    * [[imageAssetsFromDocuments]] (smooth gradients are JPEG-friendly),
    * but the payload is a REAL lossy JPEG stream — so downstream checks
    * band the luma features instead of hash-matching them (dims and
    * channel count survive the lossy round-trip exactly; pixel values are
    * within a few luma levels, measured max channel error 3/255 on this
    * recipe in-container).
    */
  def jpegAssetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + (id * 5) % 16).toInt
        val h = (8 + (id * 7) % 16).toInt
        val rBase = (id % 200).toInt
        val g = ((id * 11) % 256).toInt
        val b = ((id * 17) % 256).toInt
        Asset(id, "jpg",
          ImageIoCodec.encode(w, h, "jpg")((x, y) => ((rBase + x + y) << 16) | (g << 8) | b))
      })
  }

  /** REAL decode for `webp` assets via the pure-JVM [[WebpCodec]] (VP8L
    * literal profile — RIFF walk, prefix-code loading, canonical
    * bit-level decode). Same typed per-partition batch shape as
    * [[decodeBmp]]; fails loudly on non-webp input and on bitstream
    * features outside the literal profile.
    */
  def decodeWebp(assets: Dataset[Asset]): Dataset[ImageFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      require(a.format == "webp", s"decodeWebp got format '${a.format}'")
      val d = WebpCodec.decode(a.payload)
      ImageFeatures(a.asset_id, a.format, d.width, d.height, d.channels,
        d.lumaSumMilli, d.topLeftLumaMilli, d.bottomRightLumaMilli)
    })
  }

  /** Store-backed STREAMING visual near-dup ingest — the image member of
    * the [[graft.ops.StoreBackedIngest.stream]] family, with the SAME
    * perceptual algebra as the oracle-checked batch query (q140,
    * [[VisualDedup]]). Each micro-batch of assets (`asset_id`, `format`,
    * `payload` — any `javax.imageio` format) decodes payload md5 + g×g
    * box sums in ONE per-partition pass ([[decodeThumbWithMd5]]) into
    * 24-bit dHash band rows (narrow: the payload never outlives the
    * decode stage), takes [[VisualDedup.verdicts]] against the
    * band_key-bucketed store and earlier-id batch members — the
    * definition the batch replay (q156) runs, so stream verdicts cannot
    * drift from it — and appends only accepted assets' band rows.
    */
  def visualNearDupIngestStream(assets: DataFrame, storeTable: String,
      buckets: Int = 32, grid: Int = 4, checkpoint: Option[String] = None,
      compactFileThreshold: Int = 0)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.ops.StoreBackedIngest.stream(assets, storeTable, "asset_id",
      "band_key", buckets, checkpoint, compactFileThreshold)(
      { batch =>
        import batch.sparkSession.implicits._
        val feats = decodeThumbWithMd5(
            batch.select("asset_id", "format", "payload").as[Asset], grid).toDF()
          .select(col("asset_id"), col("width"), col("height"),
            col("payload_md5").as("pm"), col("box_sums"))
        VisualDedup.explodeBands(
            feats.withColumn("dhash", VisualDedup.dhash("", grid)), grid)
          .withColumn("band_key", VisualDedup.bandKey(""))
          .select("asset_id", "band_key", "width", "height", "box_sums", "pm")
      },
      (batch, bands, storeBands) => VisualDedup.verdicts(
        batch.select(col("asset_id")).distinct(), bands, storeBands, grid,
        batchWidth(bands)),
      sink)

  /** Materializes the band pin (the decode would have paid this on its
    * first consumer anyway) and sizes the verdict aggregates' exchanges
    * to the micro-batch, not the session default.
    */
  private def batchWidth(bands: DataFrame): Option[Int] =
    Some(graft.util.Widths.adaptive(bands.sparkSession, bands.count()))

  /** Deterministic REAL-webp asset table: the [[bmpAssetsFromDocuments]]
    * recipe with distinct parameter multipliers, encoded as literal-only
    * VP8L — the decoded features have the same closed-form luma oracle
    * while the decode undoes real prefix-coded entropy bits. Synthesis
    * is row-local; payloads never shuffle.
    */
  def webpAssetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + (id * 3) % 16).toInt
        val h = (8 + (id * 5) % 16).toInt
        val rBase = (id % 200).toInt
        val g = ((id * 13) % 256).toInt
        val b = ((id * 19) % 256).toInt
        Asset(id, "webp",
          WebpCodec.encode(w, h)((x, y) => ((rBase + x + y) << 16) | (g << 8) | b))
      })
  }

  /** Thumbnail features: the image resized by box-pooling into a
    * grid×grid panel of integer milli-luma box sums (row-major). The
    * downsample/feature-extract stage of an image pipeline, kept as exact
    * integers so the oracle compare is equality.
    */
  final case class ThumbFeatures(
      asset_id: Long,
      format: String,
      width: Int,
      height: Int,
      box_sums: Array[Long])

  /** REAL resize: decode (any [[ImageIoCodec]] format) and box-pool to a
    * `grid`×`grid` thumbnail — the standard downsample step before
    * perceptual hashing / visual dedup. Same typed per-partition batch
    * shape as [[decode]]; pooling is one pass over the decoded pixels,
    * row-local, and only grid² longs leave the decoder.
    */
  def decodeThumb(assets: Dataset[Asset], grid: Int = 2): Dataset[ThumbFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      require(imageIoFormats(a.format), s"decodeThumb got format '${a.format}'")
      val (w, h, sums) = ImageIoCodec.boxSums(a.payload, grid)
      ThumbFeatures(a.asset_id, a.format, w, h, sums)
    })
  }

  /** [[ThumbFeatures]] plus the payload's md5 — both derived in the SAME
    * per-partition pass, for pipelines (visual dedup) that need the
    * byte-level and perceptual fingerprints together without synthesizing
    * or decoding the corpus twice.
    */
  final case class ThumbMd5Features(
      asset_id: Long,
      format: String,
      width: Int,
      height: Int,
      box_sums: Array[Long],
      payload_md5: String)

  /** One-pass [[decodeThumb]] + payload md5 (hex, matching Spark's
    * `md5()` function so oracles can mirror either side).
    */
  def decodeThumbWithMd5(assets: Dataset[Asset], grid: Int = 2): Dataset[ThumbMd5Features] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { a =>
        require(imageIoFormats(a.format), s"decodeThumbWithMd5 got format '${a.format}'")
        val (w, h, sums) = ImageIoCodec.boxSums(a.payload, grid)
        digest.reset()
        val hex = digest.digest(a.payload).map("%02x".format(_)).mkString
        ThumbMd5Features(a.asset_id, a.format, w, h, sums, hex)
      }
    }
  }

  /** Image corpus with planted perceptual near-duplicates: every 25th doc
    * re-renders the PREVIOUS 25th-doc's image one red level brighter
    * (byte-different payload, same visual structure), and every 40th doc
    * is an exact re-render of doc 0 (byte-identical for PNG — the
    * deterministic encoder). The visual-dedup fixture: exact dups collide
    * on payload md5, near-dups only on perceptual features.
    */
  def imageAssetsWithNearDups(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      // the id table often arrives as ONE parquet file -> one partition;
      // spreading the ids (a shuffle of bare longs — payloads don't exist
      // yet) parallelizes the synthesis/decode AND everything downstream
      // that preserves this partitioning (a broadcast-join stream side
      // would otherwise run single-threaded)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val exactDup = id > 0 && id % 40 == 0
        val nearDup = id > 0 && id % 25 == 0 && !exactDup
        val base = if (exactDup) 0L else if (nearDup) id - 1 else id
        val w = (8 + (base * 5) % 16).toInt
        val h = (8 + (base * 7) % 16).toInt
        val rBase = (base % 199).toInt + (if (nearDup) 1 else 0)
        val g = ((base * 11) % 256).toInt
        val b = ((base * 17) % 256).toInt
        Asset(id, "png",
          ImageIoCodec.encode(w, h, "png")((x, y) => ((rBase + x + y) << 16) | (g << 8) | b))
      })
  }

  /** Cross-format image corpus: every doc renders its recipe image as PNG,
    * and every 30th doc ALSO renders the IDENTICAL pixels as BMP under
    * id + 1 000 000 — byte-different containers, pixel-identical content.
    * The fixture for the end-to-end multimodal claim (q157): both codec
    * paths decode to the same integer milli-luma box sums, so the
    * perceptual dHash bands catch the cross-format pair while payload md5
    * (different container bytes) never can. Synthesis is row-local;
    * payloads never shuffle.
    */
  def crossFormatAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.flatMap { id =>
        val w = (8 + (id * 5) % 16).toInt
        val h = (8 + (id * 7) % 16).toInt
        val r = (id % 199).toInt
        val g = ((id * 11) % 256).toInt
        val b = ((id * 17) % 256).toInt
        def px(x: Int, y: Int) = ((r + x + y) << 16) | (g << 8) | b
        val png = Asset(id, "png", ImageIoCodec.encode(w, h, "png")(px))
        if (id % 30 == 0)
          Seq(png, Asset(id + 1000000L, "bmp", ImageIoCodec.encode(w, h, "bmp")(px)))
        else Seq(png)
      })
  }

  /** Decoded WAV features — integer amplitude statistics ([[WavCodec]]),
    * exact in any summation order.
    */
  final case class WavFeatures(
      asset_id: Long,
      channels: Int,
      sample_rate: Int,
      bits: Int,
      n_frames: Long,
      byte_len: Int,
      amp_sum: Long,
      amp_sq_sum: Long,
      min_amp: Int,
      max_amp: Int)

  /** REAL decode for `wav` assets via [[WavCodec]]: the payload's RIFF
    * chunk stream is walked and every PCM sample summed. Same typed
    * per-partition batch shape as [[decode]]; fails loudly on non-WAV
    * input.
    */
  def decodeWav(assets: Dataset[Asset]): Dataset[WavFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      require(a.format == "wav", s"decodeWav got format '${a.format}'")
      val d = WavCodec.decode(a.payload)
      WavFeatures(a.asset_id, d.channels, d.sampleRate, d.bitsPerSample,
        d.nFrames, a.payload.length, d.ampSum, d.ampSqSum, d.minAmp, d.maxAmp)
    })
  }

  /** Deterministic REAL-WAV asset table: each document becomes a mono
    * 16-bit 16 kHz PCM clip whose amplitude is a doc-parameterized linear
    * ramp (`a0 + i`, never clipping) — closed-form integer sums for the
    * oracle, a real container walk + sample loop for the decoder. Same
    * scale shape as [[bmpAssetsFromDocuments]]: synthesis is row-local,
    * payloads never shuffle.
    */
  def wavAssetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (500 + id % 500).toInt
        val a0 = (id % 100).toInt - 50
        Asset(id, "wav", WavCodec.encode(n)((f, _) => a0 + f))
      })
  }

  final case class AudioFp(
      asset_id: Long, payload_md5: String, n_frames: Long, tv: Array[Long])

  /** Shift-invariant audio fingerprints ([[WavCodec.segmentTv]]) plus the
    * payload md5, one row-local pass per asset — the audio sibling of
    * [[decodeThumbWithMd5]]: md5 catches byte-exact copies, the
    * total-variation vector catches re-leveled (DC-shifted) copies md5
    * cannot see. Payloads never shuffle; what leaves the scan stage is
    * (id, md5, n_frames, 16 longs).
    */
  def audioFingerprints(assets: Dataset[Asset],
      segments: Int = 16): Dataset[AudioFp] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { a =>
        require(a.format == "wav", s"audioFingerprints got format '${a.format}'")
        md.reset()
        val hex = md.digest(a.payload).map("%02x".format(_)).mkString
        val (n, tv) = WavCodec.segmentTv(a.payload, segments)
        AudioFp(a.asset_id, hex, n, tv)
      }
    }
  }

  /** Audio corpus with planted DC-SHIFTED twins: every document becomes a
    * mono 16-bit clip x_i = base + (i*k) % 97 (n = 200 + id%100 frames,
    * k = 1 + id%7, base = id%100 - 50) and every 25th document gets a
    * twin (asset_id + 1_000_000) with base + 30 — byte-different,
    * md5-different, identical total-variation profile. The closed-form
    * parameters let the oracle recompute every fingerprint per sample
    * without parsing a byte.
    */
  def audioAssetsWithTwins(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
    def clip(id: Long, shift: Int, assetId: Long): Asset = {
      val n = (200 + id % 100).toInt
      val k = (1 + id % 7).toInt
      val base = (id % 100).toInt - 50 + shift
      Asset(assetId, "wav", WavCodec.encode(n)((f, _) => base + (f * k) % 97))
    }
    ids.mapPartitions(_.map(id => clip(id, 0, id)))
      .union(ids.filter(_ % 25 == 0)
        .mapPartitions(_.map(id => clip(id, 30, id + 1000000L))))
  }

  /** One sampled video frame's narrow features: clip identity, frame
    * position, container dims, the g×g milli-luma box panel, and the
    * frame payload's md5 (byte-exact dedup arm). What shuffles in the
    * video near-dup pipeline — payloads never do.
    */
  final case class VideoFrameFeatures(
      asset_id: Long,
      frame_idx: Int,
      n_frames: Int,
      width: Int,
      height: Int,
      box_sums: Array[Long],
      frame_md5: String)

  /** Video corpus with planted near-duplicate CLIPS: real single-stream
    * DIB-flavor AVIs ([[AviCodec]]) synthesized per doc — 3-6 frames of
    * per-frame-parameterized gradients (the q130/q140 pixel algebra,
    * frame-varying so a clip's frames differ). Every 40th doc re-renders
    * clip 0 exactly (byte-identical container); every 25th re-renders
    * its neighbor one red level brighter in EVERY frame (byte-different,
    * perceptually near — invisible to md5, caught by the dHash bands'
    * brightness invariance). All parameters are closed-form in doc_id,
    * so q194's oracle predicts every frame's box panel without decoding.
    */
  def videoAssetsWithNearDups(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val exactDup = id > 0 && id % 40 == 0
        val nearDup = id > 0 && id % 25 == 0 && !exactDup
        val base = if (exactDup) 0L else if (nearDup) id - 1 else id
        val bright = if (nearDup) 1 else 0
        val w = (8 + (base * 5) % 16).toInt
        val h = (8 + (base * 7) % 16).toInt
        val nf = (3 + base % 4).toInt
        val frames = (0 until nf).map { f =>
          val r = ((base * 3 + 13 * f) % 199).toInt + bright
          val g = ((base * 11 + 7 * f) % 256).toInt
          val b = ((base * 17 + 5 * f) % 256).toInt
          AviCodec.encodeDibFrame(w, h)((x, y) => ((r + x + y) << 16) | (g << 8) | b)
        }
        Asset(id, "avi", AviCodec.encode(w, h, frames))
      })
  }

  /** Decode video clips (AVI or MP4, dispatched on `Asset.format`) and
    * stride-sample their frames to narrow feature rows — the q101
    * sampling discipline on a REAL container: the container walk,
    * per-frame box pooling and md5 all run row-local inside
    * `mapPartitions`; only (ids, dims, 16 sums, md5) rows leave the
    * scan stage. Closed-form flavors (AVI/DIB, MP4/'raw ') are the
    * oracled paths; the lossy-decode flavors (MJPG, 'jpeg') go through
    * [[ImageIoCodec]] and are spec-tier (JPEG has no closed form).
    */
  def videoFrameFeatures(assets: Dataset[Asset], grid: Int = 4,
      stride: Int = 2): Dataset[VideoFrameFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { a =>
        val (w, h, nFrames, fs, sumsOf) = a.format match {
          case "avi" =>
            val info = AviCodec.info(a.payload)
            val fs = AviCodec.frames(a.payload)
            require(fs.length == info.nFrames,
              s"clip ${a.asset_id}: header says ${info.nFrames} frames, movi has ${fs.length}")
            val f: Array[Byte] => Array[Long] = info.handler match {
              case "DIB " => AviCodec.dibBoxSums(_, info.width, info.height, grid)
              case "MJPG" => ImageIoCodec.boxSums(_, grid)._3
              case other => throw new IllegalArgumentException(
                s"clip ${a.asset_id}: unsupported stream handler '$other'")
            }
            (info.width, info.height, info.nFrames, fs, f)
          case "mp4" =>
            val info = Mp4Codec.info(a.payload)
            val fs = Mp4Codec.frames(a.payload)
            require(fs.length == info.nFrames,
              s"clip ${a.asset_id}: stsz says ${info.nFrames} samples, chunks yield ${fs.length}")
            val f: Array[Byte] => Array[Long] = info.handler match {
              case "raw " => Mp4Codec.rawBoxSums(_, info.width, info.height, grid)
              case "jpeg" => ImageIoCodec.boxSums(_, grid)._3
              case other => throw new IllegalArgumentException(
                s"clip ${a.asset_id}: unsupported sample entry '$other'")
            }
            (info.width, info.height, info.nFrames, fs, f)
          case other => throw new IllegalArgumentException(
            s"clip ${a.asset_id}: unsupported video container '$other'")
        }
        fs.zipWithIndex.collect { case (f, i) if i % stride == 0 =>
          digest.reset()
          val hex = digest.digest(f).map("%02x".format(_)).mkString
          VideoFrameFeatures(a.asset_id, i, nFrames, w, h, sumsOf(f), hex)
        }
      }
    }
  }

  /** CROSS-CONTAINER video corpus: every doc renders the SAME frame
    * pixel algebra twice — once as an AVI/DIB clip (bottom-up padded
    * BGR) under its own id, once as an MP4/'raw ' clip (top-down
    * unpadded RGB) under id + 2,000,000. The two payloads share not one
    * byte of layout, but their image-orientation box panels are
    * IDENTICAL by construction — the corpus that proves the two
    * container walkers agree pixel-exactly (the q157 cross-format
    * discipline lifted to video).
    */
  def crossContainerVideoAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.flatMap { id =>
        val w = (8 + (id * 5) % 16).toInt
        val h = (8 + (id * 7) % 16).toInt
        val nf = (3 + id % 4).toInt
        def rgb(f: Int): (Int, Int, Int) = (
          ((id * 3 + 13 * f) % 199).toInt,
          ((id * 11 + 7 * f) % 256).toInt,
          ((id * 17 + 5 * f) % 256).toInt)
        val aviFrames = (0 until nf).map { f =>
          val (r, g, b) = rgb(f)
          AviCodec.encodeDibFrame(w, h)((x, y) => ((r + x + y) << 16) | (g << 8) | b)
        }
        val mp4Frames = (0 until nf).map { f =>
          val (r, g, b) = rgb(f)
          Mp4Codec.encodeRawFrame(w, h)((x, y) => ((r + x + y) << 16) | (g << 8) | b)
        }
        Seq(
          Asset(id, "avi", AviCodec.encode(w, h, aviFrames)),
          Asset(id + 2000000L, "mp4", Mp4Codec.encode(w, h, mp4Frames)))
      })
  }

  /** MP4 corpus with planted near-duplicate CLIPS — the
    * [[videoAssetsWithNearDups]] discipline on the ISO-BMFF container:
    * real single-track 'raw '-flavor MP4s ([[Mp4Codec]]) synthesized per
    * doc, 3-7 frames of per-frame-parameterized gradients. Every 32nd
    * doc re-renders clip 0 exactly (byte-identical container); every
    * 21st re-renders its neighbor one red level brighter in EVERY frame
    * (byte-different, perceptually near). Distinct plant periods and
    * dimension algebra from the AVI corpus so the two rows cannot mask
    * each other. All parameters are closed-form in doc_id, so the
    * near-dup oracle predicts every frame's box panel without decoding.
    */
  def mp4AssetsWithNearDups(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val exactDup = id > 0 && id % 32 == 0
        val nearDup = id > 0 && id % 21 == 0 && !exactDup
        val base = if (exactDup) 0L else if (nearDup) id - 1 else id
        val bright = if (nearDup) 1 else 0
        val w = (8 + (base * 3) % 16).toInt
        val h = (8 + (base * 5) % 16).toInt
        val nf = (3 + base % 5).toInt
        val frames = (0 until nf).map { f =>
          val r = ((base * 7 + 11 * f) % 199).toInt + bright
          val g = ((base * 13 + 3 * f) % 256).toInt
          val b = ((base * 19 + 9 * f) % 256).toInt
          Mp4Codec.encodeRawFrame(w, h)((x, y) => ((r + x + y) << 16) | (g << 8) | b)
        }
        Asset(id, "mp4", Mp4Codec.encode(w, h, frames))
      })
  }

  /** The video blocking key: one string per (clip dims, frame count,
    * frame position, band) — frame ALIGNMENT lives inside the key, so
    * the clip-verdict join is a single equi-join and a band_key-bucketed
    * store joins with zero store-side exchange (the visual/text store
    * discipline at frame grain).
    */
  def videoBandKey(pfx: String = ""): org.apache.spark.sql.Column =
    concat_ws("|", col(pfx + "width"), col(pfx + "height"),
      col(pfx + "n_frames"), col(pfx + "frame_idx"),
      col(pfx + "band_idx"), col(pfx + "band_val"))

  /** CLIP-grain ingest verdicts — the video member of the
    * q156/q179/q122 family, ONE function shared by the streaming loop
    * and the oracle-checked batch replay (q196) so the two can never
    * drift. A batch clip drops when some partner clip (in the store, or
    * earlier-id in the same batch) matches on EVERY sampled frame:
    * same (dims, frame count, frame position, band) key and the 16-box
    * verify per frame.
    *
    * Unlike [[VisualDedup.verdicts]] (per-asset existence — LEFT SEMI),
    * the frame CONJUNCTION forces pair grain: a semi-join can prove one
    * frame matches, not that all of them do. So the shape here is one
    * equi-join on the frame-aligned band key, a distinct to collapse
    * multi-band hits of the same (pair, frame), and a bounded aggregate
    * counting matched frames per candidate pair — input bounded by
    * band-collision candidates, output one row per candidate pair,
    * never all-pairs. Frame counts agree by construction (the key pins
    * n_frames and both sides sample at the same stride), so matched ==
    * sampled is symmetric.
    *
    * Shuffle shape (guide §2.2/§2.4): the post-join frames are 4-long
    * rows, orders of magnitude narrower than the scan stages, so each
    * arm's dedup + pair count share ONE explicit pair-keyed exchange
    * (hash on the pair key satisfies both the distinct's and the
    * aggregate's clustering) instead of two planner-inserted ones, and
    * `aggWidth` (callers derive it from their pinned band-row count via
    * [[graft.util.Widths.adaptive]] — capped at the session width, so
    * cluster-scale batches keep full parallelism) sizes those exchanges
    * to the data instead of the session default. The matched-id sets are
    * batch-bounded (one row per dropped asset), the same magnitude the
    * ingest loops already broadcast for their store exclusions, so they
    * broadcast into the final verdict joins.
    */
  def videoClipVerdicts(batchIds: DataFrame, frames: DataFrame,
      storeFrames: DataFrame, g: Int = 4, stride: Int = 2,
      aggWidth: Option[Int] = None): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
    def repart(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      aggWidth.map(w => df.repartition(w, cols: _*))
        .getOrElse(df.repartition(cols: _*))
    // box-0 luma bucket in the equi-key (guide §3.2, see
    // [[VisualDedup.lumaBucket]]): exact necessary condition for the
    // verify — kills the candidate fan when banding degenerates (all
    // same-(dims, frame) clips in one block). Batch side carries the 3
    // probes; the store side stays un-exploded, keeping the band_key
    // bucketing's zero-exchange join.
    val a = side(frames, "a_")
      .withColumn("a_bq_probe", explode(VisualDedup.probeBuckets("a_", g)))
    def matchedIds(b: DataFrame, restrict: org.apache.spark.sql.Column): DataFrame = {
      val hits = a.join(
          side(b, "b_").withColumn("b_bq", VisualDedup.lumaBucket("b_", g)),
          col("a_band_key") === col("b_band_key") &&
            col("a_bq_probe") === col("b_bq") && restrict &&
            VisualDedup.verify("a_", "b_", g))
        .select(col("a_asset_id"), col("b_asset_id"), col("a_frame_idx"),
          col("a_n_frames"))
      repart(hits,
          Seq(col("a_asset_id"), col("b_asset_id"), col("a_n_frames")))
        .distinct()
        .groupBy(col("a_asset_id"), col("b_asset_id"), col("a_n_frames"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") === expr(s"(a_n_frames + ${stride - 1}) div $stride"))
        .select(col("a_asset_id").as("asset_id"))
    }
    def idSet(df: DataFrame) =
      repart(df, Seq(col("asset_id"))).distinct()
    val vsHist = idSet(matchedIds(storeFrames, lit(true)))
      .withColumn("vs_hist", lit(1L))
    val vsBatch = idSet(matchedIds(frames, col("b_asset_id") < col("a_asset_id")))
      .withColumn("vs_batch", lit(1L))
    graft.ops.StoreBackedIngest.labels(batchIds, "asset_id", vsHist, vsBatch)
  }

  /** Store-backed streaming VIDEO near-dup ingest — the clip member of
    * the [[graft.ops.StoreBackedIngest.stream]] family (text q122, visual
    * q156, embedding q179): per micro-batch, decode arriving AVI clips to
    * sampled-frame band rows ([[videoFrameFeatures]] — row-local,
    * payloads never shuffle), take CLIP verdicts against the accepted
    * history and the batch itself ([[videoClipVerdicts]] — the
    * replay-shared definition), and append only accepted clips' band
    * rows to the band_key-bucketed store.
    */
  def videoNearDupIngestStream(assets: DataFrame, storeTable: String,
      buckets: Int = 32, grid: Int = 4, stride: Int = 2,
      checkpoint: Option[String] = None,
      compactFileThreshold: Int = 0)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.ops.StoreBackedIngest.stream(assets, storeTable, "asset_id",
      "band_key", buckets, checkpoint, compactFileThreshold)(
      { batch =>
        import batch.sparkSession.implicits._
        VisualDedup.explodeBands(
            videoFrameFeatures(
              batch.select("asset_id", "format", "payload").as[Asset],
              grid, stride).toDF()
              .withColumn("dhash", VisualDedup.dhash("", grid)), grid)
          .withColumn("band_key", videoBandKey(""))
          .select("asset_id", "frame_idx", "n_frames", "band_key",
            "width", "height", "box_sums")
      },
      (batch, bands, storeBands) => videoClipVerdicts(
        batch.select(col("asset_id")).distinct(), bands, storeBands, grid,
        stride, batchWidth(bands)),
      sink)

  /** Derive a deterministic asset table from the documents corpus: text
    * bytes stand in for media payloads, format cycles by id over the
    * STUB-tier formats (webp has no JVM codec; bin/raw model genuinely
    * opaque blobs) — the real-codec formats get their own synthesized
    * tables above, with actually-decodable payloads. Real ingestion would
    * read binary files instead; the downstream pipeline is identical.
    */
  def assetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("asset_id"),
        // 'opaque' (formerly mislabeled 'webp'): webp now has the REAL
        // [[WebpCodec]] tier (q151); the stub fixture keeps only formats
        // with genuinely no decoder
        element_at(typedLit(Seq("opaque", "bin", "raw")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[Asset]
  }
}
