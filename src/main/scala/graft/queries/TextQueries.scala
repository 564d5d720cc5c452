package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions._
import graft.text.SetSimJoin
import Qx._

/** Training-data-pipeline text operators over the `documents` table:
  * exact + near dedup (MinHash/LSH, SimHash, n-gram Jaccard), token
  * counting, quality scoring, language features, fingerprinting.
  *
  * The corpus has no natural duplicates, so dedup queries derive a
  * deterministic perturbed corpus (docs with `doc_id % 25 == 0` re-added
  * with the first two words dropped, id + 1000000) in BOTH engines — the
  * pipelines then have real near-dup pairs to find.
  *
  * Scale notes: every per-doc computation (shingling, minhash signatures,
  * simhash, quality features) is row-local inside whole-stage codegen — the
  * only shuffles are the LSH band-bucket joins, which key on short hash
  * strings and carry only (band_key, doc_id, signature), never full text.
  */
object TextQueries {

  /** The trained byte-level model, memoized per (session, testdata dir) —
    * the shared-artifact discipline (ANN ensureIndex / ensureTextIndex)
    * applied to a driver-memory artifact: training is deterministic
    * (content-addressed tie-breaks), so reuse is result-invisible.
    * q270 is the EXPLICIT training row (it always trains in its timed
    * region — training cost is its story — and deposits the model here);
    * q271 measures FERTILITY, so it reads the cache and pays training
    * only when it runs without q270 (first Verify pass ordering covers
    * it either way).
    */
  private val byteModelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), graft.text.BpeTrainer.BpeModel]

  private def trainByteModel(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.text.BpeTrainer.BpeModel = {
    val m = graft.text.BpeTrainer.fitBytes(s, Qx.t(s, dir, "documents"),
      merges = 8, batchedRounds = 4)
    byteModelCache.put((s.sparkContext.applicationId, dir), m)
    m
  }

  private def cachedByteModel(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.text.BpeTrainer.BpeModel =
    byteModelCache.getOrElse((s.sparkContext.applicationId, dir),
      trainByteModel(s, dir))

  /** The q271/q277 byte-fertility report under a given merge table —
    * shared so the trained-model and reloaded-artifact rows can never
    * drift. Encode and counting are ROW-LOCAL at occurrence grain; only
    * the per-source sums shuffle (the plan-shape contract PlanShapeSpec
    * pins: shifted text never crosses an exchange). A distinct-pretoken
    * regrouping was measured ~10% faster at sf0.1 but shuffles the
    * vocabulary's word strings — the wrong trade at 100 TB; reverted.
    */
  private def byteFertilityReport(d: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    // pretokenize + byte-shift fused into one native row-local pass
    // (PretokenShiftedBytes — guide §4): the old shape exploded a
    // regexp_extract_all array, then ran the interpreted hex→conv→decode
    // HOF ladder once PER PRETOKEN. Same regex engine, same shift
    // arithmetic — parity pinned in NativeExprParitySpec.
    val enc = graft.text.BpeEncoder.encode(col("w"), merges)
    d.select(col("doc_id"), col("source"),
        explode(graft.text.BpeTrainer.pretokenShiftedBytes(col("text"))).as("w"))
      .select(col("doc_id"), col("source"),
        length(col("w")).cast("long").as("nbytes"),
        (length(enc) - length(replace(enc, lit("("), lit(""))))
          .cast("long").as("p"))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("docs"),
        count(lit(1)).as("pretokens"),
        sum("nbytes").as("bytes"),
        sum("p").as("pieces"))
      .select(col("source"), col("docs"), col("pretokens"), col("bytes"),
        col("pieces"),
        expr("bytes * 1000 div pieces").as("bytes_per_piece_milli"),
        expr("pieces * 1000 div pretokens").as("pieces_per_pretoken_milli"))
      .orderBy("source")
  }

  /** q136's fixed subword vocabulary: covers every corpus word in 1-2
    * pieces, includes the win/wind/ow/dow greedy trap, and leaves "dup"
    * prefix-less so the char fallback fires. Lowercase a-z only ('?'
    * marks fallback pieces unambiguously).
    */
  private val SubwordVocab: Seq[String] = Seq(
    "a", "agg", "bat", "ch", "big", "col", "umn", "cust", "omer", "dat",
    "fast", "fil", "ter", "gro", "up", "hash", "jo", "in", "key", "li",
    "ne", "mer", "ge", "or", "der", "part", "que", "ry", "row", "sc",
    "an", "slow", "sma", "ll", "sort", "spark", "str", "eam", "tab", "le",
    "the", "val", "ue", "vec", "tor", "win", "wind", "ow", "dow")

  /** Perturbed corpus: base ∪ near-dup variants (first 2 words dropped,
    * every 25th doc) ∪ exact copies (every 40th doc).
    */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val toks = tokens(col("text"))
    val nearDups = d.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("text"))
    val copies = d.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    d.unionByName(nearDups).unionByName(copies)
  }

  /** The same corpus as DuckDB SQL (CTE named `corpus`). */
  private val corpusSql: String = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
        array_to_string(string_split_regex(trim(text), '\s+')[3:], ' ') AS text
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text
      FROM documents WHERE doc_id % 40 = 0)"""

  // one LSH geometry across the registry and the curation API — the
  // signature STORE written by Curation.writeSignatureStore must band
  // identically to the queries that later read it
  private val NUM_HASHES = graft.curation.Curation.MinHashNumHashes
  private val BAND_ROWS = graft.curation.Curation.MinHashBandRows

  /** xor-mix seeds for the k-from-1 minhash construction: 60-bit odd
    * multiples of the golden-ratio constant, identical in the oracle SQL.
    */
  private val SEEDS: Seq[Long] = graft.curation.Curation.minhashSeeds

  /** Verified MinHash/LSH near-dup pairs (jaccard >= 0.5) — shared by the
    * pair listing (q35) and the dedup keep-list (q39). Plan shape for
    * scale: the whole 16-component signature computes ROW-LOCAL in one
    * pass over each document (native [[graft.text.MinHashSig]]: one md5
    * per shingle, 16 xor-mixed mins — the k-from-1 construction) inside
    * the scan stage; nothing shuffles until the band join, and band rows
    * carry ONLY (band_key, doc_id) — never text or shingle arrays.
    * Shingles are re-joined just for the (few) surviving pairs.
    * (The previous explode+groupBy shape shuffled one row per shingle —
    * correct, but an exchange proportional to corpus token count.)
    */
  /** LSH band rows (doc_id, band_key) over the perturbed corpus — the
    * candidate-generation stage shared by the verified pair listing
    * ([[minhashVerifiedPairs]]) and the recall measurement (q152).
    * Shingle-able docs gated by a CHEAP token-count predicate, not by
    * isNotNull(sig): predicate pushdown would duplicate the filter
    * expression below the projection, and with the sig itself as the
    * filter that meant one full extra tokenize+md5 pass per row.
    * The band INDEX explodes first and keys build above the Generate
    * barrier: band keys built directly over `sig` get the sig expression
    * inlined into every element_at by CollapseProject — 16 full
    * re-tokenizations per row (measured 2.5x). Above the barrier they
    * reference the materialized attribute.
    */
  private def minhashBandRows(s: SparkSession, dir: String): DataFrame = {
    val sigs = corpus(s, dir)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3)
      .select(col("doc_id"),
        graft.text.TextSketch.minhashSig(col("text"), 3, SEEDS).as("sig"))
    sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(NUM_HASHES / BAND_ROWS - 1))).as("band"))
      .select(col("doc_id"), concat_ws("|",
        col("band").cast("string") +:
          (0 until BAND_ROWS).map(i =>
            element_at(col("sig"), col("band") * BAND_ROWS + lit(i + 1))): _*).as("band_key"))
  }

  private def minhashVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val bandRows = minhashBandRows(s, dir)
    val pairs = bandRows.select(col("band_key"), col("doc_id").as("doc_a"))
      .join(bandRows.select(col("band_key"), col("doc_id").as("doc_b")), Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // verify stage: only the NARROW candidate pair set (doc_a, doc_b) is
    // ever broadcast — tiny by LSH construction (banding exists precisely
    // to keep it sparse), and crucially text-free: a near-dup-heavy or
    // band-skewed corpus inflates the pair COUNT, not the broadcast row
    // width, so the failure mode is graceful. `pairs` is referenced by
    // BOTH corpus joins, so it is persisted first — Spark has no
    // DataFrame-level CSE and the two broadcast keys (doc_a vs doc_b)
    // defeat exchange reuse; without the persist the whole band-join
    // lineage would execute twice.
    val pairsCached = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docs = corpus(s, dir)
    val withA = docs
      .select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      .join(broadcast(pairsCached), Seq("doc_a"))
    val withB = docs
      .select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      .join(broadcast(pairsCached), Seq("doc_b"))
    // survivor ⋈ survivor on the full pair key: both sides are
    // pair-bounded, and the explicit merge hint keeps Spark from
    // broadcasting survivor TEXT if AQE sizes one side under the
    // threshold — text moves only through a survivor-sized shuffle.
    withA.hint("shuffle_merge").join(withB, Seq("doc_a", "doc_b"))
      .withColumn("sh_a", graft.text.TextSketch.wordShingles(col("text_a"), 3))
      .withColumn("sh_b", graft.text.TextSketch.wordShingles(col("text_b"), 3))
      .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.5)
  }

  /** DuckDB mirror of [[minhashBandRows]] as a WITH prefix ending at CTE
    * `bands` (also exposes `shingled` for exact-Jaccard consumers).
    */
  private val minhashBandsSql: String = {
    val minhashes = (0 until NUM_HASHES).map(i =>
      s"list_aggregate(list_transform(hb, b -> xor(b, ${SEEDS(i)})), 'min') AS h$i").mkString(",\n            ")
    val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map { b =>
      val ks = (b * BAND_ROWS until (b + 1) * BAND_ROWS).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, sh, concat_ws('|', '$b', $ks) AS band_key FROM sigs"
    }.mkString("\n          UNION ALL\n          ")
    s"""
        WITH $corpusSql,
        toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus),
        shingled AS (
          SELECT doc_id,
            CASE WHEN len(w) < 3 THEN []
              ELSE list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
          FROM toks),
        sigs AS (
          SELECT doc_id, sh,
            $minhashes
          FROM (SELECT doc_id, sh,
            list_transform(sh, s1 -> CAST('0x' || substr(md5(s1), 1, 15) AS BIGINT)) AS hb
            FROM shingled WHERE len(sh) > 0)),
        bands AS (
          $bandSelects)"""
  }

  /** DuckDB mirror of [[minhashVerifiedPairs]] as a WITH prefix ending at
    * CTE `verified` (jaccard unfiltered — consumers filter).
    */
  private val minhashPairsSql: String = minhashBandsSql + """,
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            a.sh AS sh_a, b.sh AS sh_b
          FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        verified AS (
          SELECT doc_a, doc_b,
            CAST(len(list_distinct(sh_a)) + len(list_distinct(sh_b))
              - len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE)
              / len(list_distinct(list_concat(sh_a, sh_b))) AS jaccard
          FROM pairs)"""

  /** Above this many docs, a last-token block is re-blocked by content
    * (MinHash bands) instead of exact all-pairs — the per-block pair count
    * is then bounded by band-bucket sizes, not the Zipfian block size.
    */
  private[graft] val JACCARD_BLOCK_CAP = 64

  /** Per-doc state for the blocked-Jaccard pipeline: (doc_id, dsh sorted
    * distinct 60-bit shingle-hash set, block = last token, n = |dsh|).
    */
  private[graft] def jaccardBlockedDocs(s: SparkSession, raw: DataFrame): DataFrame = {
    raw
      .withColumn("toks", tokens(col("text")))
      .withColumn("dsh", graft.text.TextSketch.shingleHashSet(col("text"), 3))
      .filter(size(col("dsh")) > 0)
      .select(col("doc_id"), col("dsh"),
        element_at(col("toks"), size(col("toks"))).as("block"))
      .withColumn("n", size(col("dsh")))
  }

  /** Candidate (doc_a, doc_b, sh_a, n_a, sh_b, n_b) rows: exact all-pairs
    * inside small blocks; MinHash-band sub-blocking inside blocks over
    * [[JACCARD_BLOCK_CAP]]. Band mins are computed directly over the
    * already-hashed shingle set (xor-mix, the same k-from-1 construction
    * as q35), so the overflow path re-reads no text.
    */
  private[graft] def ngramJaccardCandidates(docs0uncached: DataFrame): DataFrame = {
    // the per-doc state (one md5 per shingle) feeds FIVE plan branches
    // (sizes, small a/b, big band a/b); without a persist each branch
    // re-scans and re-hashes the corpus — Spark has no DataFrame-level
    // CSE across self-joins (same reasoning as q35's pair persist).
    // CACHE CONTRACT: the returned frame is lazy, so this function cannot
    // unpersist after the action it never sees; the registry runners
    // (Verify, Bench) clearCache() between queries, and library callers
    // own the same duty after consuming the result.
    val docs0 = docs0uncached.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = docs0.groupBy("block").agg(count(lit(1)).as("block_cnt"))
    // map-side partial aggregation collapses the hot block to ONE count
    // row before the exchange, and the join-back fans that single row out
    // — no step here is quadratic in the block size
    val docs = docs0.join(sizes, Seq("block"))
    val small = docs.filter(col("block_cnt") <= JACCARD_BLOCK_CAP)
    val smallPairs = small
      .select(col("block"), col("doc_id").as("doc_a"),
        col("dsh").as("sh_a"), col("n").as("n_a"))
      .join(small.select(col("block"), col("doc_id").as("doc_b"),
        col("dsh").as("sh_b"), col("n").as("n_b")), Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "n_a", "sh_b", "n_b")
    // overflow path: 16 xor-mixed mins over dsh → 4 bands of 4, band key
    // compounded with the block. Built in two projections around the
    // Generate barrier (same CollapseProject hazard as q35: keys built
    // straight over the sig array would inline the 16 array-min scans
    // into every element_at).
    val big = docs.filter(col("block_cnt") > JACCARD_BLOCK_CAP)
    val sigs = big.select(col("doc_id"), col("block"), col("dsh"), col("n"),
      array(SEEDS.map(seed =>
        array_min(transform(col("dsh"), h => h.bitwiseXOR(lit(seed))))): _*).as("sig"))
    val bandRows = sigs
      .select(col("doc_id"), col("block"), col("dsh"), col("n"), col("sig"),
        explode(sequence(lit(0), lit(NUM_HASHES / BAND_ROWS - 1))).as("band"))
      .select(col("doc_id"), col("dsh"), col("n"),
        concat_ws("|",
          col("block") +: col("band").cast("string") +:
            (0 until BAND_ROWS).map(i =>
              element_at(col("sig"), col("band") * BAND_ROWS + lit(i + 1))): _*).as("band_key"))
    val bigPairs = bandRows
      .select(col("band_key"), col("doc_id").as("doc_a"),
        col("dsh").as("sh_a"), col("n").as("n_a"))
      .join(bandRows.select(col("band_key"), col("doc_id").as("doc_b"),
        col("dsh").as("sh_b"), col("n").as("n_b")), Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "n_a", "sh_b", "n_b")
    // a pair can collide in up to 4 bands — deduped AFTER verification
    // ([[ngramJaccardPairs]]), where rows are narrow (ids + a double):
    // deduping here would shuffle the full shingle arrays, and the extra
    // verify cost is one cheap merge scan per duplicate near-dup pair
    smallPairs.unionByName(bigPairs)
  }

  /** Blocked n-gram Jaccard pairs at threshold >= 0.3. The size-ratio
    * gate is provably redundant (J <= n_min/n_max, and integer math keeps
    * the excluded pairs strictly under the threshold) so it appears only
    * here, not in the oracle — it prunes verify work, never results.
    */
  private[graft] def ngramJaccardPairs(docs0: DataFrame): DataFrame =
    ngramJaccardCandidates(docs0)
      .filter(least(col("n_a"), col("n_b")) * 10 >= greatest(col("n_a"), col("n_b")) * 3)
      .withColumn("inter",
        graft.text.TextSketch.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("union_n", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jaccard",
        when(col("union_n") === 0, 0.0)
          .otherwise(col("inter").cast("double") / col("union_n")))
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b", "jaccard")
      .dropDuplicates("doc_a", "doc_b")

  /** DuckDB mirror of [[ngramJaccardPairs]] over a corpus CTE. */
  private[graft] def ngramJaccardSql(corpusCte: String): String = {
    val mins = (0 until NUM_HASHES).map(i =>
      s"list_aggregate(list_transform(sh, h -> xor(h, ${SEEDS(i)})), 'min') AS h$i")
      .mkString(",\n            ")
    val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map { b =>
      val ks = (b * BAND_ROWS until (b + 1) * BAND_ROWS).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, concat_ws('|', block, '$b', $ks) AS band_key FROM sigs"
    }.mkString("\n          UNION ALL\n          ")
    s"""
        WITH $corpusCte,
        docs AS (
          SELECT doc_id,
            list_distinct(list_transform(generate_series(1, len(w) - 2),
              i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS sh,
            w[len(w)] AS block
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus)
          WHERE len(w) >= 3),
        bs AS (SELECT block, COUNT(*) AS cnt FROM docs GROUP BY 1),
        sd AS (SELECT d.doc_id, d.sh, d.block, b.cnt FROM docs d JOIN bs b USING (block)),
        smallp AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sd a JOIN sd b ON a.block = b.block AND a.doc_id < b.doc_id
          WHERE a.cnt <= $JACCARD_BLOCK_CAP),
        sigs AS (
          SELECT doc_id, block,
            $mins
          FROM sd WHERE cnt > $JACCARD_BLOCK_CAP),
        bands AS (
          $bandSelects),
        bigp AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        cand AS (SELECT doc_a, doc_b FROM smallp UNION SELECT doc_a, doc_b FROM bigp),
        pairs AS (
          SELECT c.doc_a, c.doc_b,
            CAST(len(da.sh) + len(db.sh)
              - len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE)
              / len(list_distinct(list_concat(da.sh, db.sh))) AS jaccard
          FROM cand c
          JOIN docs da ON da.doc_id = c.doc_a
          JOIN docs db ON db.doc_id = c.doc_b)
        SELECT doc_a, doc_b, jaccard FROM pairs
        WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b"""
  }

  val all: Seq[Q] = Seq(

    q226,
    q235,
    q238,
    q240,
    q243,

    // ---- exact dedup: hash-groupBy over normalized text -------------------
    Q("q31_dedup_exact",
      (s, dir) => corpus(s, dir)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("copies"), min("doc_id").as("keep_id"))
        .filter(col("copies") > 1)
        .orderBy("fp"),
      Some(s"""
        WITH $corpusSql
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
          COUNT(*) AS copies, MIN(doc_id) AS keep_id
        FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""")),

    // ---- token counting: whitespace + BPE-ish regex -----------------------
    Q("q32_token_counts",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("lang"),
          size(tokens(col("text"))).as("ws_tokens"),
          bpeishCount(col("text")).cast("long").as("bpeish_tokens"),
          length(col("text")).as("chars"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"),
            sum("ws_tokens").as("total_ws_tokens"),
            sum("bpeish_tokens").as("total_bpeish_tokens"),
            sum("chars").as("total_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS docs,
          CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_ws_tokens,
          CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpeish_tokens,
          CAST(SUM(len(text)) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- REAL subword tokenization: greedy longest-match (WordPiece rule) --
    // Beyond q32's regex approximation: an actual segmentation against a
    // vocabulary, per whitespace word, longest matching piece first, with
    // single-char fallback for out-of-vocab spans (the '?'-prefixed
    // pieces). The vocab is a fixed literal (49 pieces) that covers every
    // corpus word in 1-2 pieces and deliberately contains the greedy trap
    // win/wind/ow/dow — "window" must segment wind|ow, which separates
    // longest-match from any shortest-first or left-factored variant; the
    // corpus word "dup" has no matching prefix, exercising the fallback.
    // The oracle replays the EXACT segmentation with a recursive CTE
    // (advance by the longest matching piece or 1 char) and both sides
    // md5 the full pipe-joined piece stream — one transposed piece
    // boundary anywhere in ~45k pieces flips the hash.
    //
    // 100 TB shape: the native expression segments each doc in ONE pass
    // inside the scan stage (no explode, no per-token exchange; same
    // discipline as the MinHash sketch); a production 30-100k-piece vocab
    // broadcasts once and the per-piece probe cost is bounded by max
    // piece length, not vocab size.
    Q("q136_subword_tokenize",
      (s, dir) => {
        val seg = graft.text.SubwordTokenizer.tokenize(col("text"), SubwordVocab)
        t(s, dir, "documents")
          .select(col("doc_id"), seg.as("seg"))
          .select(col("doc_id"),
            col("seg.n_pieces").cast("long").as("n_pieces"),
            col("seg.n_unk").cast("long").as("n_unk"),
            md5(col("seg.joined")).as("pieces_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE
        vocab AS (SELECT unnest([${SubwordVocab.map("'" + _ + "'").mkString(", ")}]) AS piece),
        ws AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
        words AS (
          -- the series bound is corpus-derived, not a hard-coded cap: a
          -- doc longer than a literal bound would silently lose its tail
          SELECT doc_id, i AS widx, ws[i] AS word
          FROM ws, (SELECT unnest(generate_series(1,
            (SELECT GREATEST(1, MAX(len(ws))) FROM ws))) AS i)
          WHERE i <= len(ws)),
        tok AS (
          SELECT doc_id, widx, word, 1 AS pos, 0 AS np, 0 AS unk, '' AS acc FROM words
          UNION ALL
          SELECT doc_id, widx, word,
            pos + COALESCE(length(bp), 1),
            np + 1,
            unk + CASE WHEN bp IS NULL THEN 1 ELSE 0 END,
            acc || CASE WHEN pos = 1 THEN '' ELSE '|' END
                || COALESCE(bp, '?' || substr(word, pos, 1))
          FROM (
            SELECT doc_id, widx, word, pos, np, unk, acc,
              (SELECT v.piece FROM vocab v
               WHERE substr(word, pos, length(v.piece)) = v.piece
               ORDER BY length(v.piece) DESC, v.piece LIMIT 1) AS bp
            FROM tok WHERE pos <= length(word))),
        done AS (SELECT doc_id, widx, np, unk, acc FROM tok WHERE pos > length(word)),
        perdoc AS (
          SELECT doc_id, SUM(np) AS n_pieces, SUM(unk) AS n_unk,
            string_agg(acc, '|' ORDER BY widx) AS joined
          FROM done GROUP BY 1)
        SELECT doc_id, CAST(n_pieces AS BIGINT) AS n_pieces,
          CAST(n_unk AS BIGINT) AS n_unk, md5(joined) AS pieces_md5
        FROM perdoc ORDER BY 1""")),

    // ---- quality scoring: length/word-shape/stopword signals --------------
    Q("q33_quality_score",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val (nTok, nChar, avgLen, stopR) = qualityFeatures(col("text"))
        d.select(col("doc_id"), nTok.as("n_tokens"), nChar.as("n_chars"),
          avgLen.as("avg_word_len"), stopR.as("stopword_ratio"))
          .withColumn("quality_label",
            when(col("n_tokens") < 15, "too_short")
              .when(col("stopword_ratio") > 0.4, "boilerplate")
              .when(col("avg_word_len") < 3.0 || col("avg_word_len") > 9.0, "odd_words")
              .otherwise("ok"))
          .groupBy("quality_label")
          .agg(count(lit(1)).as("docs"),
            dbl(sum(d12(col("avg_word_len")))).as("sum_awl_2dp"))
          .orderBy("quality_label")
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
            len(string_split_regex(trim(text), '\s+')) AS n_tokens,
            len(text) AS n_chars,
            CAST(len(text) - len(string_split_regex(trim(text), '\s+')) + 1 AS DOUBLE)
              / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
            CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
              / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
          FROM documents)
        SELECT CASE WHEN n_tokens < 15 THEN 'too_short'
                    WHEN stopword_ratio > 0.4 THEN 'boilerplate'
                    WHEN avg_word_len < 3.0 OR avg_word_len > 9.0 THEN 'odd_words'
                    ELSE 'ok' END AS quality_label,
          COUNT(*) AS docs,
          CAST(SUM(CAST(avg_word_len AS DECIMAL(12,2))) AS DOUBLE) AS sum_awl_2dp
        FROM f GROUP BY 1 ORDER BY 1""")),

    // ---- fingerprint dedup accounting per source --------------------------
    Q("q34_fingerprint_stats",
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          countDistinct(fingerprint(col("text"))).as("distinct_fps"))
        .withColumn("dup_docs", col("docs") - col("distinct_fps"))
        .orderBy("source"),
      Some("""
        SELECT source, COUNT(*) AS docs,
          COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS distinct_fps,
          COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS dup_docs
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- MinHash + LSH near-dup pairs -------------------------------------
    // shingle(3) -> 16 md5-minhashes -> 4 bands of 4 -> band-bucket join ->
    // exact shingle-Jaccard verify >= 0.5.
    Q("q35_minhash_lsh",
      (s, dir) => minhashVerifiedPairs(s, dir)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
      Some(minhashPairsSql + """
        SELECT doc_a, doc_b, jaccard FROM verified
        WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""")),

    // ---- LSH retrieval quality: planted-pair recall of the band stage -----
    // The text-dedup sibling of q134's ANN recall: a banding geometry
    // (16 hashes x 4 bands here) is a RECALL dial, and shipping one
    // without its measured number is a guess. Ground truth = the planted
    // pairs the corpus construction KNOWS (every 25th doc's 2-words-
    // dropped variant, every 40th doc's exact copy), kept when their
    // EXACT shingle Jaccard >= 0.5 — a planted-pair-bounded linear
    // check, not an all-pairs sweep, which is how this measurement stays
    // runnable on the production corpus. Retrieved = the pair shares at
    // least one LSH band. One row per planted kind: exact copies must
    // recall at 1.0 (identical signatures band identically); near-dups
    // measure what the geometry actually catches.
    Q("q152_lsh_recall",
      (s, dir) => {
        val ids = t(s, dir, "documents").select("doc_id")
        val planted = ids.filter(col("doc_id") % 25 === 0)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + 1000000L).as("doc_b"), lit("near").as("kind"))
          .unionByName(ids.filter(col("doc_id") % 40 === 0)
            .select(col("doc_id").as("doc_a"),
              (col("doc_id") + 2000000L).as("doc_b"), lit("exact").as("kind")))
        val c = corpus(s, dir)
        // exact-Jaccard truth over the planted pairs only (pair-bounded)
        val truth = c.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
          .join(c.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
            .join(broadcast(planted), Seq("doc_a")), Seq("doc_b"))
          .withColumn("sh_a", graft.text.TextSketch.wordShingles(col("text_a"), 3))
          .withColumn("sh_b", graft.text.TextSketch.wordShingles(col("text_b"), 3))
          .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
          .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.5)
          .select("kind", "doc_a", "doc_b")
        // candidate retrieval: the pair agrees on >= 1 band
        val bands = minhashBandRows(s, dir)
        val retrieved = planted
          .join(bands.select(col("doc_id").as("doc_a"), col("band_key").as("k_a")),
            Seq("doc_a"))
          .join(bands.select(col("doc_id").as("doc_b"), col("band_key").as("k_b")),
            Seq("doc_b"))
          .filter(col("k_a") === col("k_b"))
          .select("doc_a", "doc_b").distinct()
          .withColumn("hit", lit(1L))
        truth.join(retrieved, Seq("doc_a", "doc_b"), "left_outer")
          .groupBy("kind")
          .agg(count(lit(1)).as("truth_pairs"),
            sum(coalesce(col("hit"), lit(0L))).as("retrieved"))
          .select(col("kind"), col("truth_pairs"), col("retrieved"),
            (col("retrieved").cast("double") / col("truth_pairs").cast("double"))
              .as("recall"))
          .orderBy("kind")
      },
      Some(minhashBandsSql + """,
        planted AS (
          SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b, 'near' AS kind
          FROM documents WHERE doc_id % 25 = 0
          UNION ALL
          SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b, 'exact' AS kind
          FROM documents WHERE doc_id % 40 = 0),
        truth AS (
          SELECT p.kind, p.doc_a, p.doc_b
          FROM planted p
          JOIN shingled a ON a.doc_id = p.doc_a
          JOIN shingled b ON b.doc_id = p.doc_b
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND CAST(len(list_distinct(a.sh)) + len(list_distinct(b.sh))
              - len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        retrieved AS (
          SELECT DISTINCT p.doc_a, p.doc_b
          FROM planted p
          JOIN bands x ON x.doc_id = p.doc_a
          JOIN bands y ON y.doc_id = p.doc_b AND y.band_key = x.band_key)
        SELECT t.kind, COUNT(*) AS truth_pairs,
          CAST(SUM(CASE WHEN r.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retrieved,
          CAST(CAST(SUM(CASE WHEN r.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS recall
        FROM truth t LEFT JOIN retrieved r ON r.doc_a = t.doc_a AND r.doc_b = t.doc_b
        GROUP BY t.kind ORDER BY t.kind""")),

    // ---- end-to-end dedup keep-list over the MinHash pairs ----------------
    // Standard near-dup policy: a doc is dropped when it pairs (jaccard >=
    // 0.5) with any lower doc_id; survivors form the deduplicated corpus.
    Q("q39_dedup_keeplist",
      (s, dir) => {
        // One declarative plan: corpus left-joined to the (distinct) drop
        // set, aggregated once. The earlier two-count() version executed
        // the entire minhash lineage twice just for the tallies.
        val dropped = minhashVerifiedPairs(s, dir)
          .select(col("doc_b").as("doc_id")).distinct().withColumn("d", lit(1))
        corpus(s, dir).join(dropped, Seq("doc_id"), "left_outer")
          .agg(
            count(lit(1)).as("total_docs"),
            coalesce(sum(when(col("d").isNotNull, 1L)), lit(0L)).as("dropped_docs"),
            coalesce(sum(when(col("d").isNull, 1L)), lit(0L)).as("surviving_docs"))
      },
      Some(minhashPairsSql + """
        , dropped AS (
          SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= 0.5)
        SELECT (SELECT COUNT(*) FROM corpus) AS total_docs,
          (SELECT COUNT(*) FROM dropped) AS dropped_docs,
          (SELECT COUNT(*) FROM corpus) - (SELECT COUNT(*) FROM dropped) AS surviving_docs""")),

    // ---- dup clusters + keep-best: the quality-ranked dedup policy --------
    // q39's keeplist drops the higher id of every pair — but pairwise
    // policies mis-handle CHAINS (a~b, b~c with a!~c): the published
    // cluster recipe builds connected components over the verified pairs
    // and keeps ONE member per component, ranked by quality (here:
    // longest text, lowest id on ties — which provably keeps the
    // original against its planted truncations and copies). Components
    // come from ops/ConnectedComponents (driver union-find under the
    // size gate, large-star/small-star above it), so no stage depends on
    // the dup graph fitting anywhere. The keep choice is a single
    // struct-max aggregate — no per-cluster sort, constant state.
    Q("q145_cluster_keep_best",
      (s, dir) => {
        val pairs = minhashVerifiedPairs(s, dir).select("doc_a", "doc_b")
        // run() emits only node != root rows (roots are implicitly
        // self-rooted) — union the root members back before ranking, or
        // every cluster would silently lose its smallest id
        val nonRoot = graft.ops.ConnectedComponents.run(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        val comp = nonRoot.unionByName(
          nonRoot.select(col("root").as("node"), col("root")).distinct())
        val docs = corpus(s, dir)
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        comp.join(docs, col("node") === col("doc_id"))
          .groupBy(col("root").as("cluster"))
          .agg(count(lit(1)).as("members"),
            max(struct(col("n_chars").as("c"), (-col("doc_id")).as("nid"))).as("b"))
          .select(col("cluster"), col("members"),
            (-col("b.nid")).as("kept_doc"), col("b.c").as("kept_chars"),
            (col("members") - 1).as("dropped"))
          .orderBy("cluster")
      },
      Some(minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") + """
        , e0 AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM e0
                  UNION SELECT doc_b, doc_a FROM e0),
        reach AS (SELECT a, b FROM edges
                  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        cluster AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM reach GROUP BY a),
        mem AS (SELECT c.node, c.root, length(d.text) AS n_chars
                FROM cluster c JOIN corpus d ON d.doc_id = c.node),
        ranked AS (SELECT node, root, n_chars,
            ROW_NUMBER() OVER (PARTITION BY root ORDER BY n_chars DESC, node) AS rn
          FROM mem)
        SELECT root AS cluster, COUNT(*) AS members,
          CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS kept_doc,
          CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
          COUNT(*) - 1 AS dropped
        FROM ranked GROUP BY root ORDER BY root""")),

    // ---- leakage-safe train/val/test split at near-dup-cluster grain ------
    // Benchmark contamination through near-duplicates is the quiet failure
    // of doc-level splits: a doc and its near-copy land in train and test
    // and the eval leaks. The published fix is to split at DUP-CLUSTER
    // granularity — connected components over the verified near-dup pairs
    // (q145's machinery), every member assigned by the content hash of
    // its cluster REPRESENTATIVE (q30b's md5 bucket formula on the root
    // id), singletons by their own id. The one-row report carries the
    // proof AND the counterfactual: leaked_pairs (pairs straddling
    // splits under cluster-grain assignment — structurally zero) next to
    // naive_leaked_pairs (what the same md5 split at doc grain would
    // have leaked — nonzero, the reason this operator exists).
    Q("q153_leakage_safe_split",
      (s, dir) => {
        // the verified pair set feeds THREE consumers (CC edges + both
        // leak measurements) — pin, or the band join runs three times
        val pairs = graft.util.Pins.leaf(
          minhashVerifiedPairs(s, dir).select("doc_a", "doc_b"))
        val nonRoot = graft.ops.ConnectedComponents.run(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        val comp = nonRoot.unionByName(
          nonRoot.select(col("root").as("node"), col("root")).distinct())
        def bucket(c: org.apache.spark.sql.Column) =
          graft.text.TextSketch.md5PrefixLong(concat(lit("split#"), c), 4)
            .cast("int") % 100
        def splitOf(b: org.apache.spark.sql.Column) =
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
        val assigned = graft.util.Pins.leaf(corpus(s, dir).select(col("doc_id"))
          .join(comp, col("doc_id") === col("node"), "left_outer")
          .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("root"))
          .withColumn("split", splitOf(bucket(col("root")))))
        val counts = assigned.agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("train_docs"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("val_docs"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("test_docs"),
          countDistinct(col("root")).as("clusters"))
        val leaks = pairs
          .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
            Seq("doc_a"))
          .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
            Seq("doc_b"))
          .agg(sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .as("leaked_pairs"))
        val naive = pairs
          .select(splitOf(bucket(col("doc_a"))).as("sa"),
            splitOf(bucket(col("doc_b"))).as("sb"))
          .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
            .as("naive_leaked_pairs"))
        counts.crossJoin(broadcast(leaks)).crossJoin(broadcast(naive))
      },
      Some(minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") + """
        , vp AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM vp
                  UNION SELECT doc_b, doc_a FROM vp),
        reach AS (SELECT a, b FROM edges
                  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        cluster AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM reach GROUP BY a),
        assigned AS (
          SELECT doc_id, root,
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT c.doc_id, COALESCE(cl.root, c.doc_id) AS root,
            CAST('0x' || substr(md5('split#'
              || CAST(COALESCE(cl.root, c.doc_id) AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b
            FROM corpus c LEFT JOIN cluster cl ON cl.node = c.doc_id)),
        naive AS (
          SELECT doc_id,
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT doc_id,
            CAST('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b
            FROM corpus))
        SELECT
          CAST((SELECT COUNT(*) FROM assigned WHERE split = 'train') AS BIGINT) AS train_docs,
          CAST((SELECT COUNT(*) FROM assigned WHERE split = 'val') AS BIGINT) AS val_docs,
          CAST((SELECT COUNT(*) FROM assigned WHERE split = 'test') AS BIGINT) AS test_docs,
          CAST((SELECT COUNT(DISTINCT root) FROM assigned) AS BIGINT) AS clusters,
          CAST((SELECT SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
            FROM vp JOIN assigned a ON a.doc_id = vp.doc_a
                    JOIN assigned b ON b.doc_id = vp.doc_b) AS BIGINT) AS leaked_pairs,
          CAST((SELECT SUM(CASE WHEN na.split <> nb.split THEN 1 ELSE 0 END)
            FROM vp JOIN naive na ON na.doc_id = vp.doc_a
                    JOIN naive nb ON nb.doc_id = vp.doc_b) AS BIGINT) AS naive_leaked_pairs""")),

    // ---- incremental near-dup dedup of a new batch vs history -------------
    // The OPERATIONAL dedup mode: a corpus is never deduplicated once —
    // each ingest batch must be checked against what is already accepted.
    // History = doc_id < 250 (the standing corpus); everything else is
    // the arriving batch. Batch policy (two-phase, declarative): a batch
    // doc is dropped_vs_history when it near-dups (jaccard >= 0.5) ANY
    // history doc, else dropped_in_batch when it near-dups an
    // earlier-id batch doc, else accepted. The report buckets arrivals
    // by cohort (doc_id div 1e6: 0 = organic, 1 = planted near-dups,
    // 2 = planted copies) — the planted cohorts must drop, organic
    // near-pairs drop exactly one side.
    //
    // 100 TB shape: identical to q35 (one row-local signature pass, band
    // keys only in the exchange) — at scale the history side contributes
    // just its stored SIGNATURES (recomputing them here only because the
    // testdata has no signature store), so an ingest batch costs
    // O(batch + matching bands), not O(corpus).
    Q("q122_incremental_neardup",
      (s, dir) => {
        val pairs = minhashVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val partners = pairs
          .select(col("doc_a").as("doc"), col("doc_b").as("partner"))
          .unionByName(pairs.select(col("doc_b").as("doc"), col("doc_a").as("partner")))
          .filter(col("doc") >= 250)
        val flags = partners.groupBy("doc").agg(
          max(when(col("partner") < 250, 1L).otherwise(0L)).as("vs_hist"),
          max(when(col("partner") >= 250 && col("partner") < col("doc"), 1L)
            .otherwise(0L)).as("vs_batch"))
        corpus(s, dir).filter(col("doc_id") >= 250)
          .join(flags, col("doc_id") === col("doc"), "left_outer")
          .groupBy(expr("doc_id div 1000000").as("cohort"))
          .agg(count(lit(1)).as("arrivals"),
            coalesce(sum(when(col("vs_hist") === 1L, 1L).otherwise(0L)), lit(0L))
              .as("dropped_vs_history"),
            coalesce(sum(when(coalesce(col("vs_hist"), lit(0L)) === 0L &&
              col("vs_batch") === 1L, 1L).otherwise(0L)), lit(0L))
              .as("dropped_in_batch"),
            coalesce(sum(when(coalesce(col("vs_hist"), lit(0L)) === 0L &&
              coalesce(col("vs_batch"), lit(0L)) === 0L, 1L).otherwise(0L)), lit(0L))
              .as("accepted"))
          .orderBy("cohort")
      },
      Some(minhashPairsSql + """
        , vpairs AS (
          SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
        partners AS (
          SELECT doc_a AS doc, doc_b AS partner FROM vpairs
          UNION ALL
          SELECT doc_b AS doc, doc_a AS partner FROM vpairs),
        flags AS (
          SELECT doc,
            MAX(CASE WHEN partner < 250 THEN 1 ELSE 0 END) AS vs_hist,
            MAX(CASE WHEN partner >= 250 AND partner < doc THEN 1 ELSE 0 END) AS vs_batch
          FROM partners WHERE doc >= 250 GROUP BY 1)
        SELECT CAST(doc_id // 1000000 AS BIGINT) AS cohort,
          COUNT(*) AS arrivals,
          CAST(SUM(CASE WHEN vs_hist = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS dropped_vs_history,
          CAST(SUM(CASE WHEN COALESCE(vs_hist, 0) = 0 AND vs_batch = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS dropped_in_batch,
          CAST(SUM(CASE WHEN COALESCE(vs_hist, 0) = 0 AND COALESCE(vs_batch, 0) = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS accepted
        FROM corpus LEFT JOIN flags ON doc_id = flags.doc
        WHERE doc_id >= 250 GROUP BY 1 ORDER BY 1""")),

    // ---- incremental near-dup against a PERSISTED signature store ---------
    // The operational q122: history text is ingested ONCE
    // (Curation.writeSignatureStore), and the arriving batch is checked
    // against stored (doc_id, sig) rows — the history corpus text is never
    // re-read (plan-asserted in CurationSpec). Verdicts use the
    // signature-estimate Jaccard (matching components / 16 >= 0.5), which
    // is what a store-backed dedup can compute without any text re-join;
    // the oracle mirrors the estimator exactly, so this row checks the
    // whole store→band→estimate→policy pipeline.
    Q("q127_sigstore_dedup",
      (s, dir) => {
        val full = corpus(s, dir)
        val storeDir = graft.io.Scratch.dir("graft_sigstore") + "/sigs"
        graft.curation.Curation.writeSignatureStore(
          full.filter(col("doc_id") < 250), storeDir)
        graft.curation.Curation.incrementalNearDup(
          full.filter(col("doc_id") >= 250), s.read.parquet(storeDir))
          .groupBy(expr("doc_id div 1000000").as("cohort"))
          .agg(count(lit(1)).as("arrivals"),
            coalesce(sum(when(col("verdict") === "dropped_vs_history", 1L)
              .otherwise(0L)), lit(0L)).as("dropped_vs_history"),
            coalesce(sum(when(col("verdict") === "dropped_in_batch", 1L)
              .otherwise(0L)), lit(0L)).as("dropped_in_batch"),
            coalesce(sum(when(col("verdict") === "accepted", 1L)
              .otherwise(0L)), lit(0L)).as("accepted"))
          .orderBy("cohort")
      },
      Some {
        val minhashes = (0 until NUM_HASHES).map(i =>
          s"list_aggregate(list_transform(hb, b -> xor(b, ${SEEDS(i)})), 'min') AS h$i")
          .mkString(",\n            ")
        val hCols = (0 until NUM_HASHES).map(i => s"h$i").mkString(", ")
        val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map { b =>
          val ks = (b * BAND_ROWS until (b + 1) * BAND_ROWS).map(i => s"h$i").mkString(", ")
          s"SELECT doc_id, $hCols, concat_ws('|', '$b', $ks) AS band_key FROM sigs"
        }.mkString("\n          UNION ALL\n          ")
        val estExpr = (0 until NUM_HASHES)
          .map(i => s"(CASE WHEN a.h$i = p.h$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""
        WITH $corpusSql,
        toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus),
        shingled AS (
          SELECT doc_id,
            CASE WHEN len(w) < 3 THEN []
              ELSE list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
          FROM toks),
        sigs AS (
          SELECT doc_id,
            $minhashes
          FROM (SELECT doc_id,
            list_transform(sh, s1 -> CAST('0x' || substr(md5(s1), 1, 15) AS BIGINT)) AS hb
            FROM shingled WHERE len(sh) > 0)),
        bands AS (
          $bandSelects),
        flags AS (
          SELECT a.doc_id AS doc,
            MAX(CASE WHEN p.doc_id < 250 AND ($estExpr) >= 8 THEN 1 ELSE 0 END) AS vs_hist,
            MAX(CASE WHEN p.doc_id >= 250 AND p.doc_id < a.doc_id
              AND ($estExpr) >= 8 THEN 1 ELSE 0 END) AS vs_batch
          FROM bands a JOIN bands p ON a.band_key = p.band_key
          WHERE a.doc_id >= 250 AND (p.doc_id < 250 OR p.doc_id < a.doc_id)
          GROUP BY 1)
        SELECT CAST(doc_id // 1000000 AS BIGINT) AS cohort,
          COUNT(*) AS arrivals,
          CAST(SUM(CASE WHEN vs_hist = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS dropped_vs_history,
          CAST(SUM(CASE WHEN COALESCE(vs_hist, 0) = 0 AND vs_batch = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS dropped_in_batch,
          CAST(SUM(CASE WHEN COALESCE(vs_hist, 0) = 0 AND COALESCE(vs_batch, 0) = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS accepted
        FROM corpus LEFT JOIN flags ON doc_id = flags.doc
        WHERE doc_id >= 250 GROUP BY 1 ORDER BY 1"""
      }),

    // ---- SimHash near-dup pairs -------------------------------------------
    // 60-bit simhash per doc (row-local), 4 bands of 15 bits, hamming <= 8.
    Q("q36_simhash",
      (s, dir) => {
        // The 60-bit fingerprint computes row-local in one pass per doc
        // (native SimHash60 expression: one md5 per token, all 60 votes in
        // a tight loop) — no explode, no 60-column vote shuffle. A
        // higher-order-function formulation would be inlined 60x by
        // project collapse (re-hashing every token per bit), and the
        // explode+groupBy alternative shuffles one row per token; the
        // native expression avoids both.
        // text gated by a cheap scan-level null filter, and fp wrapped
        // non-nullable (coalesce): otherwise the band join's inferred
        // isnotnull(band_val) constraint pushes below the projection and
        // re-evaluates the whole simhash per row as a filter
        val fps = corpus(s, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            coalesce(graft.text.TextSketch.simhash60(col("text")), lit(0L)).as("fp"))
        // band index exploded BELOW the key projection (same CollapseProject
        // inlining hazard as q35: band values built straight over `fp` would
        // re-evaluate the simhash per reference)
        val bandRows = fps
          .select(col("doc_id"), col("fp"), explode(sequence(lit(0), lit(3))).as("band"))
          .select(col("doc_id"), col("fp"), col("band"),
            expr("shiftright(fp, band * 15)").bitwiseAND(32767).as("band_val"))
        bandRows.select(col("band"), col("band_val"), col("doc_id").as("doc_a"), col("fp").as("fp_a"))
          .join(bandRows.select(col("band"), col("band_val"), col("doc_id").as("doc_b"), col("fp").as("fp_b")),
            Seq("band", "band_val"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b", "fp_a", "fp_b").distinct()
          .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
          .filter(col("hamming") <= 8)
          .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val bitTerms = (0 until 60).map(b =>
          s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $b) & 1 = 1)) >= len(hs) THEN ${1L << b} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH $corpusSql,
        hashed AS (
          SELECT doc_id,
            list_transform(string_split_regex(trim(text), '\\s+'),
              t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
          FROM corpus),
        fps AS (
          SELECT doc_id, CAST($bitTerms AS BIGINT) AS fp FROM hashed),
        bands AS (
          SELECT doc_id, fp, k AS band, (fp >> (k * 15)) & 32767 AS band_val
          FROM fps, (SELECT unnest(generate_series(0, 3)) AS k)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fp_a, b.fp AS fp_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
        FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= 8
        ORDER BY doc_a, doc_b"""
      }),

    // ---- n-gram Jaccard near-dup (blocked exact, skew-capped) -------------
    // Blocking key: last token (stable under the head-drop perturbation).
    // Per-PAIR work is the cost center (pairs grow quadratically within a
    // block), so everything per-DOC is hoisted out of the pair loop: each
    // doc's shingles hash ONCE into a sorted distinct array<long> (native
    // ShingleHashSet — the same 60-bit md5-prefix construction the
    // minhash oracle mirrors), and a pair costs one primitive merge scan
    // (native SortedIntersectCount) plus the inclusion–exclusion union
    // size. Pair rows carry 8-byte longs, never shingle strings — ~5x
    // narrower shuffle. The first all-query bench caught the
    // string-array formulation at 57 s (sf0.1); this runs the identical
    // set math in ~4-6 s. Jaccard over the hash SETS equals Jaccard over
    // the shingle sets (the hash is injective on this corpus, and both
    // engines hash identically, so even a collision would agree).
    //
    // SKEW CAP (the 100-TB guard): last tokens are Zipfian on web corpora
    // (punctuation, boilerplate endings), so one hot block would go
    // quadratic. Blocks over [[JACCARD_BLOCK_CAP]] docs are re-blocked by
    // CONTENT — MinHash bands over the already-hashed shingle set — so
    // dissimilar docs that merely share a last token land in different
    // sub-buckets and never pair, while near-dups (which agree on band
    // mins with probability ~jaccard per band, 4 chances) still collide.
    // Small blocks keep the exact all-pairs semantics; the oracle mirrors
    // the cap logic bit-for-bit. See TextQueriesSkewSpec for the bounded
    // pair-count property under a 30%-hot-block corpus.
    Q("q37_ngram_jaccard",
      (s, dir) => ngramJaccardPairs(jaccardBlockedDocs(s, corpus(s, dir)))
        .orderBy("doc_a", "doc_b"),
      Some(ngramJaccardSql(corpusSql))),

    // ---- deterministic sampling + train/val/test split --------------------
    // Reproducible-pipeline pattern: split assignment from a content hash,
    // not rand()/sample() (which are engine- and run-specific). Same docs
    // land in the same split on any engine, any run, any partitioning.
    Q("q30b_hash_split",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val bucket = graft.text.TextSketch.md5PrefixLong(
          concat(lit("split#"), col("doc_id")), 4).cast("int") % 100
        d.select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
          .groupBy("lang", "split").agg(count(lit(1)).as("docs"))
          .orderBy("lang", "split")
      },
      Some("""
        WITH assigned AS (
          SELECT lang,
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT lang,
            CAST('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b
            FROM documents))
        SELECT lang, split, COUNT(*) AS docs
        FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- language features (langid heuristic inputs) ----------------------
    Q("q38_lang_features",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val letters = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        val vowels = length(regexp_replace(col("text"), "[^aeiouAEIOU]", ""))
        d.select(col("lang"),
          (vowels.cast("double") / letters).as("vowel_ratio"),
          size(tokens(col("text"))).as("n_tokens"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"),
            dbl(sum(d12(col("vowel_ratio") * 1000))).as("sum_vowel_ratio_x1000"),
            sum("n_tokens").as("total_tokens"))
          .orderBy("lang")
      },
      Some("""
        WITH f AS (
          SELECT lang,
            CAST(len(regexp_replace(text, '[^aeiouAEIOU]', '', 'g')) AS DOUBLE)
              / len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS vowel_ratio,
            len(string_split_regex(trim(text), '\s+')) AS n_tokens
          FROM documents)
        SELECT lang, COUNT(*) AS docs,
          CAST(SUM(CAST(vowel_ratio * 1000 AS DECIMAL(12,2))) AS DOUBLE) AS sum_vowel_ratio_x1000,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM f GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- text similarity SEARCH (query-by-document over LSH bands) --------
    // The retrieval entry point the near-dup machinery implies but never
    // exposed: given query documents (every 50th original), return each
    // one's top-5 most-similar corpus docs by EXACT shingle Jaccard,
    // with candidates gated by the MinHash band index — the lexical
    // fuzzy-search sibling of BM25 (q118, term-based) and batch ANN
    // (q155, vector-based). Candidate generation touches only docs
    // sharing >= 1 band with a query (the LSH index is doing the same
    // job as q155's inverted lists), so the verify stage is
    // candidate-bounded, not corpus-quadratic; the per-query re-rank
    // window sees only that query's candidates. Planted near/exact
    // variants surface as the top hits — retrieval finds what dedup
    // would have dropped.
    Q("q171_text_search",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val bandRows = minhashBandRows(s, dir)
        val qIds = bandRows.select(col("doc_id")).distinct()
          .filter(col("doc_id") % 50 === 0 && col("doc_id") < 1000000L)
        // partitioned on the final shuffle-merge join's keys, which that
        // join reuses instead of re-shuffling the pin under each text arm
        val cands = graft.util.Widths.pinPartitioned(bandRows
          .join(broadcast(qIds), Seq("doc_id"))
          .select(col("band_key"), col("doc_id").as("q_id"))
          .join(bandRows.select(col("band_key"), col("doc_id").as("doc_b")),
            Seq("band_key"))
          .filter(col("doc_b") =!= col("q_id"))
          .select("q_id", "doc_b").distinct(), "q_id", "doc_b")
        val docs = corpus(s, dir)
        // no broadcast hint on cands: the candidate frame is query-count ×
        // per-band-matches — a dup-heavy corpus or a large query set can
        // push it past broadcast limits, and a pinned hint would turn that
        // into a hard failure. AQE sees the persisted frame's runtime size
        // and still broadcasts it when it is genuinely small (the same
        // reasoning as AnnIndex.batchQuery's unhinted `restrict` arm).
        val withQ = docs.select(col("doc_id").as("q_id"), col("text").as("text_a"))
          .join(cands, Seq("q_id"))
        val withB = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
          .join(cands, Seq("doc_b"))
        val w = Window.partitionBy("q_id").orderBy(desc("jac"), col("doc_b"))
        withQ.hint("shuffle_merge").join(withB, Seq("q_id", "doc_b"))
          .withColumn("sh_a", graft.text.TextSketch.wordShingles(col("text_a"), 3))
          .withColumn("sh_b", graft.text.TextSketch.wordShingles(col("text_b"), 3))
          .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
          .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
          .filter(col("jac") > 0)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("doc_b").as("doc_id"), col("jac"), col("rank"))
          .orderBy("q_id", "rank")
      },
      Some(minhashBandsSql + """,
        qs AS (
          SELECT DISTINCT doc_id AS q_id FROM bands
          WHERE doc_id % 50 = 0 AND doc_id < 1000000),
        cand AS (
          SELECT DISTINCT q.q_id, y.doc_id AS doc_b
          FROM qs q
          JOIN bands x ON x.doc_id = q.q_id
          JOIN bands y ON y.band_key = x.band_key AND y.doc_id <> q.q_id),
        scored AS (
          SELECT c.q_id, c.doc_b,
            CAST(len(list_distinct(a.sh)) + len(list_distinct(b.sh))
              - len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
          FROM cand c
          JOIN shingled a ON a.doc_id = c.q_id
          JOIN shingled b ON b.doc_id = c.doc_b
          WHERE len(a.sh) > 0 AND len(b.sh) > 0),
        ranked AS (
          SELECT q_id, doc_b, jac,
            CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY jac DESC, doc_b) AS BIGINT) AS rank
          FROM scored WHERE jac > 0)
        SELECT q_id, doc_b AS doc_id, jac, rank FROM ranked
        WHERE rank <= 5 ORDER BY q_id, rank"""))
    ,

    // ---- BPE vocabulary TRAINING (the q136/q176 gap closed) ---------------
    // q136 APPLIES a given vocab and q176 measures a vocab's coverage —
    // this LEARNS one: 8 rounds of the classic BPE reduction (Sennrich et
    // al. 2016) over the distinct-word frequency table. Segmentations ride
    // as paren-wrapped strings so each round's merge application is a
    // literal left-to-right non-overlapping replace with identical
    // semantics in both engines; pair counts are exact integer sums and
    // the winner tie-breaks lexicographically, so the learned merge TABLE
    // (step, piece_a, piece_b, merged, pair_count) is deterministic and
    // the oracle replays all 8 rounds unrolled (the kmeans-oracle
    // discipline). BpeSpec feeds the trained vocab to q136's tokenizer.
    Q("q180_bpe_train",
      (s, dir) => {
        import s.implicits._
        val model = graft.text.BpeTrainer.fit(s, t(s, dir, "documents"), merges = 8)
        model.merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1L, a, b, a + b, c)
        }.toDF("step", "piece_a", "piece_b", "merged", "pair_count")
          .orderBy("step")
      },
      Some(bpeOracleSql))
    ,

    // ---- WordPiece-style training: the likelihood ranking -----------------
    // Same loop as q180 with the WordPiece objective: each round fuses
    // the pair maximizing count(a,b) / (count(a) * count(b)) — what
    // co-occurs far beyond its parts' popularity (morpheme-like units),
    // where BPE fuses whatever is commonest. One extra narrow aggregate
    // per round (weighted symbol counts from the same segmentation
    // frame); the score is pure IEEE (one convert per operand, one
    // multiply, one divide — bit-identical across engines), ties break
    // lexicographically. Pieces are position-free, feeding the SAME
    // greedy tokenizer (q136) — WordPiece inference IS greedy
    // longest-match.
    Q("q184_wordpiece_train",
      (s, dir) => {
        import s.implicits._
        val model = graft.text.BpeTrainer
          .fitWordPiece(s, t(s, dir, "documents"), merges = 8)
        model.merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1L, a, b, a + b, c)
        }.toDF("step", "piece_a", "piece_b", "merged", "pair_count")
          .orderBy("step")
      },
      Some(wordPieceOracleSql))
    ,

    // ---- BPE ENCODING under the learned merges ----------------------------
    // The apply side of q180, closing the train->encode loop: true BPE
    // inference applies the learned merges IN TRAINING ORDER (not q136's
    // greedy longest-match — the two disagree exactly where BPE's merge
    // history matters). Encoding is the native BpeEncode expression —
    // ONE expression node whose merge table rides as an array literal,
    // replacing the foldLeft-of-replaces whose expression depth grew
    // linearly in merge count (structurally impossible at a 32k vocab:
    // codegen OOM). Semantics pinned bit-identical to the fold
    // (BpeEncodeSpec proves it against the fold itself, including
    // adversarial duplicate-output merge tables); the oracle re-trains
    // AND re-encodes, so a single drifted merge flips every hash.
    Q("q185_bpe_encode",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val model = graft.text.BpeTrainer.fit(s, d, merges = 8)
        val doc = graft.text.BpeEncoder.encode(col("text"),
          model.merges.map { case (a, b, _) => (a, b) })
        d.select(col("doc_id"), doc.as("d"))
          .select(col("doc_id"),
            (length(col("d")) - length(replace(col("d"), lit("("), lit(""))))
              .cast("long").as("n_pieces"),
            md5(col("d")).as("pieces_md5"))
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracleSql))
    ,

    // ---- BATCHED BPE training: driver rounds, not merges ------------------
    // q180's trainer runs ONE merge per driver round; a production 32k
    // vocabulary would be ~32k sequential Spark jobs of pure scheduling
    // overhead. batchedRounds=4 applies per round the longest PREFIX of
    // the ranked pair list whose pairs share no symbol, trimmed to
    // strictly-above-boundary counts (BpeTrainer.safeBatch carries the
    // three-part commutation proof; skipping conflicts instead would
    // diverge — BpeSpec pins a corpus where it provably does). The oracle
    // is the SEQUENTIAL 8-round DuckDB replay — a hash match here IS the
    // machine-checked statement that batching changed the schedule, not
    // the result. The model's round count (not oracled: it's schedule,
    // not semantics) lands in the bench's bpe-rounds micro instead.
    Q("q189_bpe_train_batched",
      (s, dir) => {
        import s.implicits._
        val model = graft.text.BpeTrainer.fit(s, t(s, dir, "documents"),
          merges = 8, batchedRounds = 4)
        model.merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1L, a, b, a + b, c)
        }.toDF("step", "piece_a", "piece_b", "merged", "pair_count")
          .orderBy("step")
      },
      Some(bpeOracleSql))
    ,

    // ---- tokenizer FERTILITY: the vocab-quality signal --------------------
    // The number a tokenizer choice is judged by in practice: how many
    // pieces per word (fertility) and characters per piece (compression)
    // a trained vocabulary achieves on each source — a vocab trained on
    // the wrong mix shows up as high fertility on the underrepresented
    // source, which is exactly the curation feedback loop (retrain the
    // vocab or rebalance the mix). Encoding is q185's true-BPE inference
    // (merges applied in training order, row-local); all ratios are
    // integer milli-units (x * 1000 div y), so the oracle — which
    // re-trains AND re-encodes — compares hash-exactly.
    Q("q198_tokenizer_fertility",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val model = graft.text.BpeTrainer.fit(s, d, merges = 8)
        val toks = tokens(col("text"))
        val doc = graft.text.BpeEncoder.encode(col("text"),
          model.merges.map { case (a, b, _) => (a, b) })
        d.select(col("source"),
            size(toks).cast("long").as("w"),
            length(array_join(toks, "")).cast("long").as("c"),
            (length(doc) - length(replace(doc, lit("("), lit(""))))
              .cast("long").as("p"))
          .groupBy("source")
          .agg(count(lit(1)).as("docs"), sum("w").as("words"),
            sum("c").as("chars"), sum("p").as("pieces"))
          .select(col("source"), col("docs"), col("words"), col("chars"),
            col("pieces"),
            expr("chars * 1000 div pieces").as("chars_per_piece_milli"),
            expr("pieces * 1000 div words").as("pieces_per_word_milli"))
          .orderBy("source")
      },
      Some(fertilityOracleSql))
    ,

    // ---- BYTE-level BPE training (the GPT-2/tiktoken production shape) ----
    // q180 trains at word grain over `^[a-z]+$` words — the classroom
    // setting; production LLM tokenizers operate on UTF-8 BYTES behind a
    // pretokenizer, so case, digits, punctuation and non-ASCII all train.
    // Pretokens come from the GPT-2-style split (ASCII classes, so Java
    // and RE2 agree exactly); each pretoken is re-expressed one shifted
    // char per byte (byte b -> U+0100+b, keeping '(' unreachable so the
    // paren algebra needs no escaping where GPT-2's printable-byte table
    // would collide); then the SAME objective, segmentation algebra, and
    // safeBatch commutation machinery run unchanged. batchedRounds=4
    // against a SEQUENTIAL 8-round DuckDB replay — the hash match is the
    // machine-checked statement that batching commutes at byte grain
    // too. Output pieces render as dash-joined byte values.
    Q("q270_byte_bpe_train",
      (s, dir) => {
        import s.implicits._
        val model = trainByteModel(s, dir) // always trains: cost IS this row
        model.merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1L, graft.text.BpeTrainer.byteString(a),
            graft.text.BpeTrainer.byteString(b),
            graft.text.BpeTrainer.byteString(a + b), c)
        }.toDF("step", "bytes_a", "bytes_b", "merged", "pair_count")
          .orderBy("step")
      },
      Some(byteBpeOracleSql))
    ,

    // ---- tokenizer fertility under the BYTE-level vocab --------------------
    // q198 re-run at byte grain (the round-12 directive's second half):
    // fertility/compression per source under the trained byte vocab.
    // Encoding routes through the NATIVE BpeEncode expression — a
    // shifted pretoken contains no whitespace, so each exploded pretoken
    // is exactly one BPE "word" and the expression's training-order pass
    // machinery applies unchanged, merge table riding as shifted-char
    // array literals. Ratios are integer milli-units; the oracle
    // re-trains sequentially and re-encodes with the literal fold.
    Q("q271_byte_fertility",
      (s, dir) => {
        val model = cachedByteModel(s, dir) // fertility row: shared model
        byteFertilityReport(t(s, dir, "documents"),
          model.merges.map { case (a, b, _) => (a, b) })
      },
      Some(byteFertilityOracleSql))
    ,

    // ---- tokenizer as a SERVED ARTIFACT: save -> load -> encode ------------
    // The fourth persisted serving artifact (ANN index q154, inverted
    // index q214, packed corpus q209): a vocabulary is trained ONCE and
    // every later encode job loads the kilobyte merge table instead of
    // re-reading the corpus. The row trains q185's exact model, writes
    // it, RELOADS it, and encodes under the LOADED merges — sharing
    // q185's oracle verbatim, so one drifted byte in the round-trip
    // flips every document hash.
    Q("q274_bpe_artifact",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val path = graft.io.Scratch.dir("graft_bpe_artifact")
        graft.text.BpeTrainer.save(s,
          graft.text.BpeTrainer.fit(s, d, merges = 8), path)
        val loaded = graft.text.BpeTrainer.load(s, path)
        val doc = graft.text.BpeEncoder.encode(col("text"),
          loaded.merges.map { case (a, b, _) => (a, b) })
        d.select(col("doc_id"), doc.as("d"))
          .select(col("doc_id"),
            (length(col("d")) - length(replace(col("d"), lit("("), lit(""))))
              .cast("long").as("n_pieces"),
            md5(col("d")).as("pieces_md5"))
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracleSql))
    ,

    // ---- BYTE-level tokenizer as a served artifact -------------------------
    // q274 serves the word-level model; this row closes the sweep for
    // the byte-level (GPT-2-shape) vocabulary: train (or reuse q270's
    // cached) byte model, SAVE it, RELOAD it, and recompute q271's
    // fertility report under the LOADED merges — sharing q271's oracle
    // verbatim, so one byte drifted through the save/load round-trip
    // (merge order, shifted-char fidelity, counts) flips every source's
    // hash. The artifact is the kilobyte merge table: at 100 TB the
    // corpus is read once at training; every later encode job reads
    // only this.
    Q("q277_byte_bpe_artifact",
      (s, dir) => {
        val path = graft.io.Scratch.dir("graft_byte_bpe_artifact")
        graft.text.BpeTrainer.save(s, cachedByteModel(s, dir), path)
        val loaded = graft.text.BpeTrainer.load(s, path)
        byteFertilityReport(t(s, dir, "documents"),
          loaded.merges.map { case (a, b, _) => (a, b) })
      },
      Some(byteFertilityOracleSql))
    ,

    // ---- WordPiece tokenizer as a served artifact ---------------------------
    // Completes the three-tokenizer artifact sweep (word-BPE q274,
    // byte-BPE q277): q184's likelihood-trained model is SAVED, RELOADED,
    // and the reloaded merge table re-emitted in q184's exact shape
    // against q184's oracle verbatim — step order, pieces, and pair
    // counts must survive the round-trip bit-for-bit. (Reload-ENCODE
    // parity for WordPiece's greedy inference is spec-tier:
    // BpeTrainerSpec asserts SubwordTokenizer output under fresh vs
    // reloaded vocab is identical.)
    Q("q278_wordpiece_artifact",
      (s, dir) => {
        import s.implicits._
        val path = graft.io.Scratch.dir("graft_wordpiece_artifact")
        graft.text.BpeTrainer.save(s,
          graft.text.BpeTrainer.fitWordPiece(s, t(s, dir, "documents"), merges = 8),
          path)
        val loaded = graft.text.BpeTrainer.load(s, path)
        loaded.merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1L, a, b, a + b, c)
        }.toDF("step", "piece_a", "piece_b", "merged", "pair_count")
          .orderBy("step")
      },
      Some(wordPieceOracleSql))
    ,

    // ---- WER sufficient statistics (token edit distance) -------------------
    // The eval family's order-AND-alignment member: BLEU rewards overlap,
    // ROUGE-L rewards in-order subsequences, WER charges every
    // insertion/deletion/substitution — the ASR/MT headline metric. The
    // engine runs the token-level Levenshtein DP as a row-local codegen
    // expression (TokenEditDistance) with the rollup as the only
    // exchange. The oracle computes the IDENTICAL distance via an
    // independent implementation: every distinct token maps to one
    // single-BYTE codepoint (DuckDB's levenshtein is byte-based — a
    // codepoint above 127 would double-charge substitutions; the
    // synthetic corpus's ~30-word vocabulary fits printable ASCII with
    // room to spare), pairs re-encode as strings, and the built-in
    // byte DP must land on the same integers as the token DP.
    Q("q284_wer_stats",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        val pairs = d.join(
            d.select((col("doc_id") + 1).as("doc_id"), col("text").as("ref_text")),
            Seq("doc_id"))
          .select(col("lang"), col("text").as("cand_text"), col("ref_text"))
        graft.text.Eval.werStats(pairs).orderBy("lang")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        p AS (
          SELECT c.doc_id AS pair, c.lang, c.t AS tc, r.t AS tr
          FROM d c JOIN d r ON r.doc_id = c.doc_id - 1),
        vocab AS (
          -- byte-based levenshtein is only token-exact while every mapped
          -- codepoint stays single-byte in UTF-8: ENFORCE the <= 127
          -- bound instead of assuming it, so a grown fixture fails this
          -- oracle loudly rather than double-charging substitutions
          SELECT tok, CASE WHEN cp > 127 THEN CAST(error(
              'q284 oracle: token vocabulary exceeds the single-byte codepoint range') AS INT)
            ELSE cp END AS cp FROM (
          SELECT tok, 32 + CAST(ROW_NUMBER() OVER (ORDER BY tok) AS INT) AS cp FROM (
            SELECT DISTINCT tok FROM (
              SELECT unnest(tc) AS tok FROM p UNION SELECT unnest(tr) FROM p)))),
        ec AS (
          SELECT pair, string_agg(chr(v.cp), '' ORDER BY u.i) AS s
          FROM (SELECT pair, i, tc[i] AS tok FROM p,
                UNNEST(generate_series(1, len(tc))) AS t(i)) u
          JOIN vocab v ON v.tok = u.tok GROUP BY pair),
        er AS (
          SELECT pair, string_agg(chr(v.cp), '' ORDER BY u.i) AS s
          FROM (SELECT pair, i, tr[i] AS tok FROM p,
                UNNEST(generate_series(1, len(tr))) AS t(i)) u
          JOIN vocab v ON v.tok = u.tok GROUP BY pair),
        ed AS (
          SELECT p.pair, p.lang,
            levenshtein(coalesce(ec.s, ''), coalesce(er.s, '')) AS edits,
            len(p.tc) AS clen, len(p.tr) AS rlen
          FROM p LEFT JOIN ec ON ec.pair = p.pair
            LEFT JOIN er ON er.pair = p.pair)
        SELECT lang, COUNT(*) AS pairs, CAST(SUM(edits) AS BIGINT) AS edits_sum,
          CAST(SUM(clen) AS BIGINT) AS cand_tokens,
          CAST(SUM(rlen) AS BIGINT) AS ref_tokens,
          CASE WHEN SUM(rlen) > 0 THEN 1000 * CAST(SUM(edits) AS BIGINT)
            // CAST(SUM(rlen) AS BIGINT) END AS wer_milli
        FROM ed GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- Unigram-LM tokenizer (SentencePiece shape): seed stage ------------
    // The fourth subword family member (word-BPE q180, byte-BPE q270,
    // WordPiece q184 all GROW vocabularies; unigram SHRINKS one). Stage 1
    // is fully SQL-expressible and oracled here: the seed vocabulary =
    // top-K substrings (length 1..4) of the corpus word table by
    // frequency-weighted occurrence count, ties lexicographic. The EM +
    // prune stages are float lattice math — verified spec-tier against
    // EXHAUSTIVE segmentation enumeration (UnigramSpec), the honest tier
    // for math SQL cannot replay bit-exactly.
    Q("q281_unigram_seed",
      (s, dir) => graft.text.Unigram
        .seedPieceFrame(t(s, dir, "documents"), "text", maxPieceLen = 4)
        .orderBy(desc("weight"), col("piece"))
        .limit(40),
      Some("""
        WITH w AS (
          SELECT tok AS word, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)
          WHERE regexp_matches(tok, '^[a-z]+$') AND length(tok) <= 64
          GROUP BY 1),
        s AS (
          SELECT word[i:i + ks.k - 1] AS piece,
            CAST(SUM(freq) AS BIGINT) AS weight
          FROM w, (SELECT unnest([1, 2, 3, 4]) AS k) ks,
            UNNEST(generate_series(1, length(word) - ks.k + 1)) AS t(i)
          GROUP BY 1)
        SELECT piece, weight FROM s ORDER BY weight DESC, piece LIMIT 40"""))
    ,

    // ---- Unigram Viterbi under a fixed integer-scored vocabulary -----------
    // The inference half with a FULL hash oracle: Viterbi segmentation
    // of every corpus word under a literal (piece, score) table shared
    // verbatim by both engines. The objective is the single integer
    // D = sum(128*score - 1) per piece — exactly the lexicographic
    // (max total score, then min piece count) order while piece counts
    // stay under 128 (pretokens are short; viterbiScored requires it) —
    // so the DP needs no float and no tie-break judgment calls. The
    // oracle replays the IDENTICAL DP as a recursive CTE carrying a
    // 4-wide best-score window (maxPieceLen = 4), and (score, tokens)
    // extract from D by exact integer identities. One narrow word-table
    // aggregate; the per-word DP is row-local.
    Q("q282_unigram_viterbi",
      (s, dir) => {
        import s.implicits._
        val vocab = unigramScoredVocab.toMap
        graft.text.Unigram.wordTable(t(s, dir, "documents"), "text")
          .as[(String, Long)].map { case (w, f) =>
            val (sc, tk) = graft.text.Unigram.viterbiScored(w, vocab, 4)
              .getOrElse(throw new IllegalStateException(
                s"unsegmentable word under a full-alphabet vocab: $w"))
            (w, f, sc.toLong, tk.toLong)
          }.toDF("word", "freq", "score", "tokens").orderBy("word")
      },
      Some(s"""
        WITH RECURSIVE w AS (
          SELECT tok AS word, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)
          WHERE regexp_matches(tok, '^[a-z]+$$') AND length(tok) <= 64
          GROUP BY 1),
        v(piece, s) AS (VALUES $unigramScoredVocabSql),
        dp AS (
          SELECT word, 0 AS i, CAST(0 AS BIGINT) AS d0,
            CAST(-1000000 AS BIGINT) AS d1, CAST(-1000000 AS BIGINT) AS d2,
            CAST(-1000000 AS BIGINT) AS d3
          FROM w
          UNION ALL
          SELECT dp.word, dp.i + 1,
            greatest(
              coalesce(dp.d0 + 128 * v1.s - 1, -1000000),
              coalesce(dp.d1 + 128 * v2.s - 1, -1000000),
              coalesce(dp.d2 + 128 * v3.s - 1, -1000000),
              coalesce(dp.d3 + 128 * v4.s - 1, -1000000)) AS d0,
            dp.d0 AS d1, dp.d1 AS d2, dp.d2 AS d3
          FROM dp
          LEFT JOIN v v1 ON v1.piece = dp.word[dp.i + 1 : dp.i + 1]
          LEFT JOIN v v2 ON dp.i >= 1 AND v2.piece = dp.word[dp.i : dp.i + 1]
          LEFT JOIN v v3 ON dp.i >= 2 AND v3.piece = dp.word[dp.i - 1 : dp.i + 1]
          LEFT JOIN v v4 ON dp.i >= 3 AND v4.piece = dp.word[dp.i - 2 : dp.i + 1]
          WHERE dp.i < length(dp.word)),
        fin AS (SELECT word, d0 FROM dp WHERE i = length(word))
        SELECT w.word, w.freq, (f.d0 + 127) // 128 AS score,
          128 * ((f.d0 + 127) // 128) - f.d0 AS tokens
        FROM w JOIN fin f USING (word) ORDER BY word"""))
    ,

    // ---- Unigram tokenizer as a served artifact ----------------------------
    // Closes the four-tokenizer artifact sweep (word-BPE q274, byte-BPE
    // q277, WordPiece q278): TRAIN the unigram model (EM + prune over the
    // word table), SAVE the exact integer micro-count table, RELOAD it,
    // and Viterbi-encode every corpus word under BOTH models. The oracle
    // predicts every fact in closed form: per word-initial, the word and
    // frequency sums from the table — and ZERO mismatches, because the
    // artifact stores the integers the trainer accumulated, making the
    // reloaded probabilities bit-identical. One drifted byte (piece
    // order, count, max_piece_len) puts a 1 in some mismatch cell and
    // flips the hash. Also proves every word SEGMENTS under the trained
    // model (mismatch counts unsegmentable words too).
    Q("q283_unigram_artifact",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val path = graft.io.Scratch.dir("graft_unigram_artifact")
        val fresh = graft.text.Unigram.fit(s, docs, vocabSize = 40,
          maxPieceLen = 4, seedSize = 120, emIters = 2)
        graft.text.Unigram.save(s, fresh, path)
        val loaded = graft.text.Unigram.load(s, path)
        val lpF = fresh.logProb
        val lpL = loaded.logProb
        graft.text.Unigram.wordTable(docs, "text")
          .as[(String, Long)].map { case (w, f) =>
            val a = graft.text.Unigram.viterbi(w, lpF, 4)
            val b = graft.text.Unigram.viterbi(w, lpL, 4)
            (w.substring(0, 1), f, if (a == b && a.nonEmpty) 0L else 1L)
          }.toDF("initial", "freq", "mm")
          .groupBy("initial")
          .agg(count(lit(1)).as("words"), sum("freq").as("freq"),
            sum("mm").as("mismatches"))
          .orderBy("initial")
      },
      Some("""
        WITH w AS (
          SELECT tok AS word, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)
          WHERE regexp_matches(tok, '^[a-z]+$') AND length(tok) <= 64
          GROUP BY 1)
        SELECT word[1:1] AS initial, CAST(COUNT(*) AS BIGINT) AS words,
          CAST(SUM(freq) AS BIGINT) AS freq,
          CAST(0 AS BIGINT) AS mismatches
        FROM w GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- ROUGE-L sufficient statistics (the eval tier's LCS member) -------
    // BLEU (q258) measures clipped n-gram overlap; summarization evals
    // report ROUGE-L, whose core is the LONGEST COMMON SUBSEQUENCE — a
    // genuinely order-sensitive statistic no n-gram join computes. The
    // engine runs the real DP (native LcsLength expression, row-local,
    // O(|c|·|r|) on summary-length texts); the synthesis makes the
    // oracle CLOSED-FORM (the q194 discipline): cand = ref with every
    // 5th token replaced by a sentinel that appears nowhere in ref, so
    // LCS provably equals L - L div 5 (substituted positions can match
    // nothing; everything else aligns in order) — the DP must land
    // exactly there for every pair. Corpus P/R/F1 are integer millis
    // (F1 = 2·LCS/(|C|+|R|) over summed stats).
    Q("q272_rouge_l",
      (s, dir) => {
        val toks = split(trim(col("text")), "\\s+")
        val ref = slice(toks, 1, 24)
        val cand = transform(ref, (tok, i) =>
          when(i % 5 === 4,
            concat(lit("«"), col("doc_id").cast("string"), lit("_"),
              i.cast("string")))
            .otherwise(tok))
        graft.text.Eval.rougeLStats(
          t(s, dir, "documents")
            .select(col("source"), cand.as("cand_tokens"), ref.as("ref_tokens")),
          groupCol = "source")
          .orderBy("source")
      },
      Some("""
        WITH p AS (
          SELECT source,
            least(len(string_split_regex(trim(text), '\s+')), 24) AS L
          FROM documents),
        s AS (SELECT source, L, L - L // 5 AS lcs FROM p)
        SELECT source, COUNT(*) AS pairs,
          CAST(SUM(lcs) AS BIGINT) AS lcs_sum,
          CAST(SUM(L) AS BIGINT) AS cand_tokens,
          CAST(SUM(L) AS BIGINT) AS ref_tokens,
          CAST(1000 * SUM(lcs) // SUM(L) AS BIGINT) AS p_milli,
          CAST(1000 * SUM(lcs) // SUM(L) AS BIGINT) AS r_milli,
          CAST(2000 * SUM(lcs) // (2 * SUM(L)) AS BIGINT) AS f1_milli
        FROM s GROUP BY source ORDER BY source"""))
    ,

    // ---- distinct-n corpus diversity ---------------------------------------
    // The standard diversity report for generated/curated corpora
    // (distinct-n, Li et al. 2016): per source and n in 1..3, total vs
    // distinct n-grams in integer milli-ratio. Low distinct-2 flags a
    // template-heavy or mode-collapsed source — the curation signal
    // that complements q104's intra-document repetition filter with a
    // CROSS-document lens. Grams shuffle once as the count-distinct key
    // (the BM25-df shape); documents never do.
    // The approx face (q279) keeps the SAME single gram explode/shuffle
    // and adds an HLL++ counter beside the exact distinct, emitting a
    // within-bound bit — the hash proves the sketch lands inside 5·rsd
    // of truth on this corpus; EvalApproxSpec asserts the bound against
    // the exact row at sf0.1, and Eval.distinctNgramStatsApprox is the
    // pure-sketch recipe a 100-TB report runs (mergeable partials, no
    // exact-distinct shuffle).
    Q("q279_distinct_ngrams_approx",
      (s, dir) => graft.text.Eval
        .ngramFrame(t(s, dir, "documents"), "source", "text", maxN = 3)
        // two-level: dedup on the gram FIRST (map-side combining), then
        // count rows for the exact distinct and feed the HLL only the
        // deduplicated grams — duplicates never change an HLL register,
        // so the estimate is bit-identical to sketching the raw stream,
        // while the three-aggregate Expand over every duplicated gram
        // disappears from the plan
        .groupBy("source", "n", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("source", "n")
        .agg(sum("cnt").as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"),
          approx_count_distinct(col("gram"), 0.01).as("approx"))
        .select(col("source"), col("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          (abs(col("approx") - col("distinct_ngrams")).cast("double") /
            col("distinct_ngrams") <= lit(0.05)).as("within_5pct"))
        .orderBy("source", "n"),
      Some("""
        WITH tok AS (
          SELECT source, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        g AS (
          SELECT source, n.n, array_to_string(w[i:i+n.n-1], ' ') AS gram
          FROM tok, (SELECT unnest([1, 2, 3]) AS n) n,
               UNNEST(generate_series(1, len(w) - n.n + 1)) AS t(i)
          WHERE len(w) >= n.n)
        SELECT source, n, COUNT(*) AS total_ngrams,
          CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
          TRUE AS within_5pct
        FROM g GROUP BY 1, 2 ORDER BY 1, 2"""))
    ,

    Q("q273_distinct_ngrams",
      (s, dir) => graft.text.Eval
        .distinctNgramStats(t(s, dir, "documents"), "source", "text", maxN = 3)
        .orderBy("source", "n"),
      Some("""
        WITH tok AS (
          SELECT source, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        g AS (
          SELECT source, n.n, array_to_string(w[i:i+n.n-1], ' ') AS gram
          FROM tok, (SELECT unnest([1, 2, 3]) AS n) n,
               UNNEST(generate_series(1, len(w) - n.n + 1)) AS t(i)
          WHERE len(w) >= n.n)
        SELECT source, n, COUNT(*) AS total_ngrams,
          CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
          CAST(1000 * COUNT(DISTINCT gram) // COUNT(*) AS BIGINT) AS distinct_milli
        FROM g GROUP BY 1, 2 ORDER BY 1, 2"""))
    ,

    // ---- BLEU sufficient statistics (corpus-level eval) --------------------
    // The generation-eval family's entry: per-lang EXACT clipped n-gram
    // matches/totals (n = 1..4) and length sums for (candidate = doc,
    // reference = its id-1 neighbor) pairs — BLEU's sufficient
    // statistics as pure integers (geometric mean and brevity exp() are
    // the caller's one libm call; the statistics themselves are
    // order-independent and hash-exact, the repo's integer discipline).
    // Milli-scaled modified precisions ride along. One narrow
    // (pair, n, gram) exchange; no window; documents never shuffle.
    Q("q258_bleu_stats",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        val pairs = d.join(
            d.select((col("doc_id") + 1).as("doc_id"), col("text").as("ref_text")),
            Seq("doc_id"))
          .select(col("doc_id").as("pair_id"), col("lang"),
            col("text").as("cand_text"), col("ref_text"))
        graft.text.Eval.bleuStats(pairs).orderBy("lang")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        p AS (
          SELECT c.doc_id AS pair, c.lang, c.t AS tc, r.t AS tr
          FROM d c JOIN d r ON r.doc_id = c.doc_id - 1),
        cg AS (
          SELECT pair, lang, n, gram, COUNT(*) AS c_cnt FROM (
            SELECT pair, lang, ns.n AS n,
              array_to_string(tc[i:i + ns.n - 1], ' ') AS gram
            FROM p, (SELECT unnest([1, 2, 3, 4]) AS n) ns,
              UNNEST(generate_series(1, len(tc) - ns.n + 1)) AS s(i))
          GROUP BY 1, 2, 3, 4),
        rg AS (
          SELECT pair, n, gram, COUNT(*) AS r_cnt FROM (
            SELECT pair, ns.n AS n,
              array_to_string(tr[i:i + ns.n - 1], ' ') AS gram
            FROM p, (SELECT unnest([1, 2, 3, 4]) AS n) ns,
              UNNEST(generate_series(1, len(tr) - ns.n + 1)) AS s(i))
          GROUP BY 1, 2, 3),
        mt AS (
          SELECT lang, n, CAST(SUM(LEAST(c_cnt, r_cnt)) AS BIGINT) AS matched
          FROM cg JOIN rg USING (pair, n, gram) GROUP BY 1, 2),
        tot AS (
          SELECT lang, COUNT(*) AS pairs,
            CAST(SUM(len(tc)) AS BIGINT) AS cand_tokens,
            CAST(SUM(len(tr)) AS BIGINT) AS ref_tokens,
            CAST(SUM(GREATEST(len(tc), 0)) AS BIGINT) AS t1,
            CAST(SUM(GREATEST(len(tc) - 1, 0)) AS BIGINT) AS t2,
            CAST(SUM(GREATEST(len(tc) - 2, 0)) AS BIGINT) AS t3,
            CAST(SUM(GREATEST(len(tc) - 3, 0)) AS BIGINT) AS t4
          FROM p GROUP BY 1)
        SELECT t.lang, t.pairs, t.cand_tokens, t.ref_tokens,
          COALESCE(m1.matched, 0) AS match_1, t.t1 AS total_1,
          CASE WHEN t.t1 > 0 THEN 1000 * COALESCE(m1.matched, 0) // t.t1 END AS p1_milli,
          COALESCE(m2.matched, 0) AS match_2, t.t2 AS total_2,
          CASE WHEN t.t2 > 0 THEN 1000 * COALESCE(m2.matched, 0) // t.t2 END AS p2_milli,
          COALESCE(m3.matched, 0) AS match_3, t.t3 AS total_3,
          CASE WHEN t.t3 > 0 THEN 1000 * COALESCE(m3.matched, 0) // t.t3 END AS p3_milli,
          COALESCE(m4.matched, 0) AS match_4, t.t4 AS total_4,
          CASE WHEN t.t4 > 0 THEN 1000 * COALESCE(m4.matched, 0) // t.t4 END AS p4_milli
        FROM tot t
          LEFT JOIN mt m1 ON m1.lang = t.lang AND m1.n = 1
          LEFT JOIN mt m2 ON m2.lang = t.lang AND m2.n = 2
          LEFT JOIN mt m3 ON m3.lang = t.lang AND m3.n = 3
          LEFT JOIN mt m4 ON m4.lang = t.lang AND m4.n = 4
        ORDER BY t.lang"""))
    ,

    // ---- chrF sufficient statistics (character-level MT eval) --------------
    // BLEU's character-level companion (chrF, Popović 2015) — the other
    // standard MT metric, and the one that survives tokenizer mismatch
    // (it needs no tokenization at all). Texts lose all whitespace, then
    // per n in 1..6 the clipped char-n-gram matches plus BOTH sides'
    // totals — chrF is an F-score, so recall needs reference
    // denominators BLEU never ships. Integers + milli P/R only (the β=2
    // harmonic combination is the caller's float cosmetics, like BLEU's
    // geometric mean). Same pairs, same plan shape as q258: one narrow
    // (pair, n, gram) exchange, no window, documents never shuffle.
    Q("q280_chrf_stats",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        val pairs = d.join(
            d.select((col("doc_id") + 1).as("doc_id"), col("text").as("ref_text")),
            Seq("doc_id"))
          .select(col("doc_id").as("pair_id"), col("lang"),
            col("text").as("cand_text"), col("ref_text"))
        graft.text.Eval.chrFStats(pairs).orderBy("lang")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang,
            regexp_replace(text, '[ \t\n\r\f]+', '', 'g') AS s
          FROM documents),
        p AS (
          SELECT c.doc_id AS pair, c.lang, c.s AS sc, r.s AS sr
          FROM d c JOIN d r ON r.doc_id = c.doc_id - 1),
        cg AS (
          SELECT pair, lang, n, gram, COUNT(*) AS c_cnt FROM (
            SELECT pair, lang, ns.n AS n, sc[i:i + ns.n - 1] AS gram
            FROM p, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) ns,
              UNNEST(generate_series(1, length(sc) - ns.n + 1)) AS s(i))
          GROUP BY 1, 2, 3, 4),
        rg AS (
          SELECT pair, n, gram, COUNT(*) AS r_cnt FROM (
            SELECT pair, ns.n AS n, sr[i:i + ns.n - 1] AS gram
            FROM p, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) ns,
              UNNEST(generate_series(1, length(sr) - ns.n + 1)) AS s(i))
          GROUP BY 1, 2, 3),
        mt AS (
          SELECT lang, n, CAST(SUM(LEAST(c_cnt, r_cnt)) AS BIGINT) AS matched
          FROM cg JOIN rg USING (pair, n, gram) GROUP BY 1, 2),
        tot AS (
          SELECT lang, COUNT(*) AS pairs,
            CAST(SUM(length(sc)) AS BIGINT) AS cand_chars,
            CAST(SUM(length(sr)) AS BIGINT) AS ref_chars,
            CAST(SUM(GREATEST(length(sc), 0)) AS BIGINT) AS c1,
            CAST(SUM(GREATEST(length(sr), 0)) AS BIGINT) AS r1,
            CAST(SUM(GREATEST(length(sc) - 1, 0)) AS BIGINT) AS c2,
            CAST(SUM(GREATEST(length(sr) - 1, 0)) AS BIGINT) AS r2,
            CAST(SUM(GREATEST(length(sc) - 2, 0)) AS BIGINT) AS c3,
            CAST(SUM(GREATEST(length(sr) - 2, 0)) AS BIGINT) AS r3,
            CAST(SUM(GREATEST(length(sc) - 3, 0)) AS BIGINT) AS c4,
            CAST(SUM(GREATEST(length(sr) - 3, 0)) AS BIGINT) AS r4,
            CAST(SUM(GREATEST(length(sc) - 4, 0)) AS BIGINT) AS c5,
            CAST(SUM(GREATEST(length(sr) - 4, 0)) AS BIGINT) AS r5,
            CAST(SUM(GREATEST(length(sc) - 5, 0)) AS BIGINT) AS c6,
            CAST(SUM(GREATEST(length(sr) - 5, 0)) AS BIGINT) AS r6
          FROM p GROUP BY 1)
        SELECT t.lang, t.pairs, t.cand_chars, t.ref_chars,
          COALESCE(m1.matched, 0) AS match_1, t.c1 AS ctotal_1, t.r1 AS rtotal_1,
          CASE WHEN t.c1 > 0 THEN 1000 * COALESCE(m1.matched, 0) // t.c1 END AS prec1_milli,
          CASE WHEN t.r1 > 0 THEN 1000 * COALESCE(m1.matched, 0) // t.r1 END AS rec1_milli,
          COALESCE(m2.matched, 0) AS match_2, t.c2 AS ctotal_2, t.r2 AS rtotal_2,
          CASE WHEN t.c2 > 0 THEN 1000 * COALESCE(m2.matched, 0) // t.c2 END AS prec2_milli,
          CASE WHEN t.r2 > 0 THEN 1000 * COALESCE(m2.matched, 0) // t.r2 END AS rec2_milli,
          COALESCE(m3.matched, 0) AS match_3, t.c3 AS ctotal_3, t.r3 AS rtotal_3,
          CASE WHEN t.c3 > 0 THEN 1000 * COALESCE(m3.matched, 0) // t.c3 END AS prec3_milli,
          CASE WHEN t.r3 > 0 THEN 1000 * COALESCE(m3.matched, 0) // t.r3 END AS rec3_milli,
          COALESCE(m4.matched, 0) AS match_4, t.c4 AS ctotal_4, t.r4 AS rtotal_4,
          CASE WHEN t.c4 > 0 THEN 1000 * COALESCE(m4.matched, 0) // t.c4 END AS prec4_milli,
          CASE WHEN t.r4 > 0 THEN 1000 * COALESCE(m4.matched, 0) // t.r4 END AS rec4_milli,
          COALESCE(m5.matched, 0) AS match_5, t.c5 AS ctotal_5, t.r5 AS rtotal_5,
          CASE WHEN t.c5 > 0 THEN 1000 * COALESCE(m5.matched, 0) // t.c5 END AS prec5_milli,
          CASE WHEN t.r5 > 0 THEN 1000 * COALESCE(m5.matched, 0) // t.r5 END AS rec5_milli,
          COALESCE(m6.matched, 0) AS match_6, t.c6 AS ctotal_6, t.r6 AS rtotal_6,
          CASE WHEN t.c6 > 0 THEN 1000 * COALESCE(m6.matched, 0) // t.c6 END AS prec6_milli,
          CASE WHEN t.r6 > 0 THEN 1000 * COALESCE(m6.matched, 0) // t.r6 END AS rec6_milli
        FROM tot t
          LEFT JOIN mt m1 ON m1.lang = t.lang AND m1.n = 1
          LEFT JOIN mt m2 ON m2.lang = t.lang AND m2.n = 2
          LEFT JOIN mt m3 ON m3.lang = t.lang AND m3.n = 3
          LEFT JOIN mt m4 ON m4.lang = t.lang AND m4.n = 4
          LEFT JOIN mt m5 ON m5.lang = t.lang AND m5.n = 5
          LEFT JOIN mt m6 ON m6.lang = t.lang AND m6.n = 6
        ORDER BY t.lang"""))
    ,

    // ---- content-defined chunking: shift-resistant dedup ------------------
    // The storage-dedup technique (FastCDC's idea at word grain): a word
    // closes its chunk when md5(word) starts with '0' (p = 1/16, ~16-word
    // expected chunks) — boundaries depend on CONTENT, not position, so
    // an insertion perturbs only the chunk it lands in. Each doc is
    // compared against its prefix-shifted twin under BOTH chunkings:
    // CDC shares nearly every chunk; fixed 8-word windows share almost
    // none (every boundary moved). Everything is ROW-LOCAL — chunking is
    // one aggregate() HOF pass, the multiset chunk intersection is
    // computed on the row (both chunk lists live there) — the plan's
    // only exchange is the final per-source rollup. The oracle replays
    // the chunking via unnest + window and the same min-count algebra.
    Q("q261_cdc_dedup",
      (s, dir) => {
        val toks = tokens(col("text"))
        val twin = concat(array(lit("zz"), lit("inserted"), lit("prefix")), toks)
        def boundary(w: Column): Column = substring(md5(w), 1, 1) === "0"
        def cdcChunks(ts: Column): Column = {
          val zero = struct(
            typedLit(Seq.empty[String]).as("chunks"), lit("").as("cur"))
          aggregate(ts, zero,
            (acc, w) => {
              val cur2 = when(acc.getField("cur") === "", w)
                .otherwise(concat(acc.getField("cur"), lit(" "), w))
              when(boundary(w),
                struct(array_append(acc.getField("chunks"), cur2).as("chunks"),
                  lit("").as("cur")))
                .otherwise(struct(acc.getField("chunks").as("chunks"),
                  cur2.as("cur")))
            },
            acc => transform(
              when(acc.getField("cur") === "", acc.getField("chunks"))
                .otherwise(array_append(acc.getField("chunks"), acc.getField("cur"))),
              md5(_)))
        }
        def fixedChunks(ts: Column): Column =
          transform(sequence(lit(0),
              when(size(ts) > 0, ((size(ts) - 1) / 8).cast("int"))
                .otherwise(lit(-1))),
            k => md5(concat_ws(" ", slice(ts, k * 8 + 1, lit(8)))))
        def shared(a: Column, b: Column): Column =
          aggregate(array_distinct(a), lit(0L),
            (acc, h) => acc + least(
              size(filter(a, x => x === h)),
              size(filter(b, x => x === h))).cast("long"))
        val d = t(s, dir, "documents").select(col("source"),
          cdcChunks(toks).as("ca"), cdcChunks(twin).as("cb"),
          fixedChunks(toks).as("fa"), fixedChunks(twin).as("fb"))
        d.select(col("source"),
            size(col("ca")).cast("long").as("cdc_a"),
            shared(col("ca"), col("cb")).as("cdc_sh"),
            size(col("fa")).cast("long").as("fix_a"),
            shared(col("fa"), col("fb")).as("fix_sh"))
          .groupBy("source")
          .agg(count(lit(1)).as("docs"),
            sum("cdc_a").as("cdc_chunks"), sum("cdc_sh").as("cdc_shared"),
            sum("fix_a").as("fixed_chunks"), sum("fix_sh").as("fixed_shared"))
          .select(col("source"), col("docs"), col("cdc_chunks"), col("cdc_shared"),
            expr("cdc_shared * 1000 div cdc_chunks").as("cdc_shared_milli"),
            col("fixed_chunks"), col("fixed_shared"),
            expr("fixed_shared * 1000 div fixed_chunks").as("fixed_shared_milli"))
          .orderBy("source")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        both_sides AS (
          SELECT doc_id, source, 0 AS side, t FROM w
          UNION ALL
          SELECT doc_id, source, 1 AS side,
            list_concat(['zz', 'inserted', 'prefix'], t) AS t FROM w),
        wa AS (
          SELECT doc_id, source, side, i, t[i] AS word,
            CASE WHEN substr(md5(t[i]), 1, 1) = '0' THEN 1 ELSE 0 END AS b
          FROM both_sides, UNNEST(generate_series(1, len(t))) s(i)),
        sa AS (
          SELECT doc_id, source, side, i, word,
            COALESCE(SUM(b) OVER (PARTITION BY doc_id, side ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg,
            (i - 1) // 8 AS fseg
          FROM wa),
        cdc AS (
          SELECT doc_id, source, side, seg,
            md5(string_agg(word, ' ' ORDER BY i)) AS h
          FROM sa GROUP BY 1, 2, 3, 4),
        fixed AS (
          SELECT doc_id, source, side, fseg,
            md5(string_agg(word, ' ' ORDER BY i)) AS h
          FROM sa GROUP BY 1, 2, 3, 4),
        cdc_sh AS (
          SELECT a.doc_id, CAST(SUM(LEAST(a.n, b.n)) AS BIGINT) AS sh
          FROM (SELECT doc_id, h, COUNT(*) AS n FROM cdc WHERE side = 0 GROUP BY 1, 2) a
          JOIN (SELECT doc_id, h, COUNT(*) AS n FROM cdc WHERE side = 1 GROUP BY 1, 2) b
            USING (doc_id, h)
          GROUP BY 1),
        fix_sh AS (
          SELECT a.doc_id, CAST(SUM(LEAST(a.n, b.n)) AS BIGINT) AS sh
          FROM (SELECT doc_id, h, COUNT(*) AS n FROM fixed WHERE side = 0 GROUP BY 1, 2) a
          JOIN (SELECT doc_id, h, COUNT(*) AS n FROM fixed WHERE side = 1 GROUP BY 1, 2) b
            USING (doc_id, h)
          GROUP BY 1),
        per_doc AS (
          SELECT w.doc_id, w.source,
            (SELECT COUNT(*) FROM cdc c WHERE c.doc_id = w.doc_id AND c.side = 0)
              AS cdc_a,
            COALESCE(cs.sh, 0) AS cdc_sh,
            (SELECT COUNT(*) FROM fixed f WHERE f.doc_id = w.doc_id AND f.side = 0)
              AS fix_a,
            COALESCE(fs.sh, 0) AS fix_sh
          FROM w
            LEFT JOIN cdc_sh cs ON cs.doc_id = w.doc_id
            LEFT JOIN fix_sh fs ON fs.doc_id = w.doc_id)
        SELECT source, COUNT(*) AS docs,
          CAST(SUM(cdc_a) AS BIGINT) AS cdc_chunks,
          CAST(SUM(cdc_sh) AS BIGINT) AS cdc_shared,
          CAST(SUM(cdc_sh) AS BIGINT) * 1000 // CAST(SUM(cdc_a) AS BIGINT)
            AS cdc_shared_milli,
          CAST(SUM(fix_a) AS BIGINT) AS fixed_chunks,
          CAST(SUM(fix_sh) AS BIGINT) AS fixed_shared,
          CAST(SUM(fix_sh) AS BIGINT) * 1000 // CAST(SUM(fix_a) AS BIGINT)
            AS fixed_shared_milli
        FROM per_doc GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- fill-in-the-middle transform (PSM reorder) ------------------------
    // The code-model pretraining transform (Bavarian et al. 2022): split
    // each doc into prefix/middle/suffix at deterministic CONTENT-
    // ADDRESSED cut points (the two md5-derived token offsets — no RNG,
    // bit-stable across engines and runs), emit the PSM reordering
    // <fim_pre> prefix <fim_suf> suffix <fim_mid> middle. Docs under 4
    // tokens pass through unchanged (the standard small-doc guard).
    // Everything is row-local array algebra; the oracle replays the cut
    // arithmetic and the reassembly hash-exactly.
    Q("q265_fim_transform",
      (s, dir) => {
        val toks = tokens(col("text"))
        val n = size(toks)
        // cut1 in [1, n-2], cut2 in (cut1, n-1]: both from md5 of the id
        // (content-addressed), so every engine derives the same split
        val h1 = graft.text.TextSketch.md5PrefixLong(
          concat(col("doc_id").cast("string"), lit("#fim1")), 8)
        val h2 = graft.text.TextSketch.md5PrefixLong(
          concat(col("doc_id").cast("string"), lit("#fim2")), 8)
        val cut1 = (pmod(h1, (n - 2).cast("long")) + 1).cast("int")
        val cut2 = (cut1 + 1 + pmod(h2, (n - 1).cast("long") - cut1)).cast("int")
        val pre = slice(toks, lit(1), cut1)
        val mid = slice(toks, cut1 + 1, cut2 - cut1)
        val suf = slice(toks, cut2 + 1, n - cut2)
        val fim = concat_ws(" ",
          concat(array(lit("<fim_pre>")), pre,
            array(lit("<fim_suf>")), suf,
            array(lit("<fim_mid>")), mid))
        t(s, dir, "documents")
          .select(col("doc_id"),
            when(n >= 4, fim).otherwise(concat_ws(" ", toks)).as("out"),
            when(n >= 4, cut1).otherwise(lit(null)).cast("long").as("cut1"),
            when(n >= 4, cut2).otherwise(lit(null)).cast("long").as("cut2"))
          .select(col("doc_id"), col("cut1"), col("cut2"),
            length(col("out")).cast("long").as("n_chars"),
            md5(col("out")).as("fim_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
            len(string_split_regex(trim(text), '\s+')) AS n
          FROM documents),
        c AS (
          SELECT doc_id, t, n,
            1 + CAST('0x' || substr(md5(doc_id || '#fim1'), 1, 8) AS BIGINT)
              % (n - 2) AS cut1
          FROM d WHERE n >= 4),
        c2 AS (
          SELECT doc_id, t, n, cut1,
            cut1 + 1 + CAST('0x' || substr(md5(doc_id || '#fim2'), 1, 8) AS BIGINT)
              % (n - 1 - cut1) AS cut2
          FROM c),
        fim AS (
          SELECT doc_id, cut1, cut2,
            array_to_string(
              list_concat(list_concat(list_concat(list_concat(list_concat(
                ['<fim_pre>'], t[1:cut1]),
                ['<fim_suf>']), t[cut2+1:n]),
                ['<fim_mid>']), t[cut1+1:cut2]), ' ') AS out
          FROM c2),
        small AS (
          SELECT doc_id, NULL AS cut1, NULL AS cut2,
            array_to_string(t, ' ') AS out
          FROM d WHERE n < 4)
        SELECT doc_id, CAST(cut1 AS BIGINT) AS cut1, CAST(cut2 AS BIGINT) AS cut2,
          CAST(length(out) AS BIGINT) AS n_chars, md5(out) AS fim_md5
        FROM (SELECT * FROM fim UNION ALL SELECT * FROM small)
        ORDER BY doc_id"""))
    ,

    // ---- chat-template rendering + loss-mask accounting --------------------
    // The SFT data-prep operator: deterministic multi-turn conversations
    // render through a ChatML-shaped template, and the LOSS MASK — which
    // tokens train (assistant spans) vs which only condition (system/
    // user/markup) — is accounted exactly. Two turns per doc: the user
    // text is the doc's first 8 tokens, the assistant reply its next 12
    // (closed-form in the corpus), so mask ratios are integers both
    // engines derive independently. Row-local string assembly; the only
    // exchange is the final per-lang rollup.
    Q("q266_chat_template",
      (s, dir) => {
        val toks = tokens(col("text"))
        val user = concat_ws(" ", slice(toks, lit(1), lit(8)))
        val asst = concat_ws(" ", slice(toks, lit(9), lit(12)))
        val rendered = concat(
          lit("<|im_start|>system\nYou are helpful.<|im_end|>\n"),
          lit("<|im_start|>user\n"), user, lit("<|im_end|>\n"),
          lit("<|im_start|>assistant\n"), asst, lit("<|im_end|>"))
        val maskTokens = size(split(asst, " ")).cast("long")
        val totalTokens = size(split(rendered, "[ \\n]+")).cast("long")
        t(s, dir, "documents")
          .filter(size(toks) >= 20)
          .select(col("lang"), md5(rendered).as("h"),
            maskTokens.as("mask"), totalTokens.as("total"))
          .groupBy("lang")
          .agg(count(lit(1)).as("convos"),
            sum("mask").as("assistant_tokens"),
            sum("total").as("total_tokens"),
            expr("sum(mask) * 1000 div sum(total)").as("mask_ratio_milli"),
            md5(concat_ws("", sort_array(collect_list(col("h")))))
              .as("corpus_md5"))
          .orderBy("lang")
      },
      Some("""
        WITH d AS (
          SELECT lang, string_split_regex(trim(text), '\s+') AS t
          FROM documents
          WHERE len(string_split_regex(trim(text), '\s+')) >= 20),
        r AS (
          SELECT lang,
            '<|im_start|>system' || chr(10) || 'You are helpful.<|im_end|>'
              || chr(10) || '<|im_start|>user' || chr(10)
              || array_to_string(t[1:8], ' ') || '<|im_end|>' || chr(10)
              || '<|im_start|>assistant' || chr(10)
              || array_to_string(t[9:20], ' ') || '<|im_end|>' AS rendered,
            len(string_split(array_to_string(t[9:20], ' '), ' ')) AS mask
          FROM d),
        m AS (
          SELECT lang, md5(rendered) AS h, mask,
            len(string_split_regex(rendered, '[ \n]+')) AS total
          FROM r)
        SELECT lang, COUNT(*) AS convos,
          CAST(SUM(mask) AS BIGINT) AS assistant_tokens,
          CAST(SUM(total) AS BIGINT) AS total_tokens,
          CAST(SUM(mask) AS BIGINT) * 1000 // CAST(SUM(total) AS BIGINT)
            AS mask_ratio_milli,
          md5(string_agg(h, '' ORDER BY h)) AS corpus_md5
        FROM m GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- hashed-feature linear quality classifier ---------------------------
    // fastText-shaped INFERENCE at corpus scale: word-bigram features
    // hash into 64 buckets (first 8 md5 hex digits mod B — the hashing
    // trick), a content-addressed integer weight vector (md5-derived, in
    // [-1000, 1000] — no stored model artifact, every engine derives the
    // same weights) dots against the feature multiset, sign gates the
    // doc. The whole forward pass is a row-local transform + aggregate
    // HOF chain — no explode, no weight-table join, nothing but the
    // final (doc_id, score) rows in any exchange. The oracle rederives
    // weights and replays the dot product exactly.
    Q("q267_quality_classifier",
      (s, dir) => {
        // feature/weight builders: see QualityClassifier
        val score = graft.text.QualityClassifier.score(tokens(col("text")))
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), score.as("score"))
          .select(col("doc_id"), col("lang"), col("score"),
            when(col("score") >= 0, "keep").otherwise("drop").as("verdict"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        g AS (
          SELECT doc_id, lang,
            CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8) AS BIGINT)
              % 64 AS b
          FROM d, UNNEST(generate_series(1, len(t) - 1)) s(i)),
        w AS (
          SELECT doc_id, lang,
            CAST('0x' || substr(md5('w#' || b), 1, 4) AS BIGINT) % 2001 - 1000
              AS wt
          FROM g),
        sc AS (
          SELECT d.doc_id, d.lang,
            COALESCE((SELECT CAST(SUM(wt) AS BIGINT) FROM w
                      WHERE w.doc_id = d.doc_id), 0) AS score
          FROM d)
        SELECT doc_id, lang, score,
          CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS verdict
        FROM sc ORDER BY doc_id"""))
  )

  /** The shared header of every BPE-family oracle: the `^[a-z]+$`-gated
    * distinct-word frequency table and the char-wrapped seg0. Every
    * multiply-referenced CTE in the chain (w, seg_i, top_i) is pinned
    * MATERIALIZED: DuckDB otherwise re-inlines them, and with seg_i
    * referenced 2-3 times per round the inlined tree grows 2^rounds to
    * 3^rounds scans of `documents` — measured as a "too many open files"
    * failure at 8 rounds (the pqOraclePartsBatch lesson, round 9).
    */
  /** q282's fixed vocabulary: the full single-char alphabet (every word
    * stays segmentable) plus multi-char pieces whose integer scores make
    * fusing them worthwhile — one literal table, embedded verbatim in
    * BOTH engines so neither can drift.
    */
  private lazy val unigramScoredVocab: Seq[(String, Int)] =
    ('a' to 'z').map(c => c.toString -> 1) ++ Seq(
      "qu" -> 3, "er" -> 3, "re" -> 3, "in" -> 3, "at" -> 3, "us" -> 4,
      "um" -> 4, "it" -> 3, "is" -> 3, "eo" -> 3,
      "tio" -> 6, "ent" -> 6, "col" -> 5, "dat" -> 5, "ust" -> 5,
      "fil" -> 5, "ius" -> 7, "mon" -> 5, "tch" -> 6,
      "olum" -> 9, "atch" -> 9, "ilte" -> 8, "umer" -> 8)

  private def unigramScoredVocabSql: String =
    unigramScoredVocab.map { case (p, s) => s"('$p',$s)" }.mkString(",")

  private def bpeHeaderCtes: String = s"""
        w AS MATERIALIZED (
          SELECT tok AS word, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)
          WHERE regexp_matches(tok, '^[a-z]+$$')
          GROUP BY 1),
        seg0 AS MATERIALIZED (
          SELECT word, freq,
            regexp_replace(word, '(.)', '(\\1)', 'g') AS seg FROM w)"""

  /** One training round's pair-count CTE over seg(i-1). */
  private def bpePairsCte(i: Int): String = s"""
        pairs$i AS (
          SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT syms[i] AS a, syms[i + 1] AS b, freq
            FROM (SELECT string_split(substring(seg, 2, length(seg) - 2),
                    ')(') AS syms, freq FROM seg${i - 1}),
                 UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
            WHERE len(syms) >= 2)
          GROUP BY 1, 2)"""

  /** One round's merge application: seg(i) = seg(i-1) under top(i). */
  private def bpeSegCte(i: Int): String = s"""
        seg$i AS MATERIALIZED (
          SELECT word, freq,
            replace(seg, '(' || t.a || ')(' || t.b || ')',
                    '(' || t.a || t.b || ')') AS seg
          FROM seg${i - 1}, top$i t)"""

  /** The merge-table SELECT over top1..topN. */
  private def bpeMergeTable(rounds: Int): String = {
    val out = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS step, a AS piece_a, b AS piece_b,
            a || b AS merged, cnt AS pair_count FROM top$i""")
      .mkString(" UNION ALL ")
    s"SELECT * FROM ($out) ORDER BY step"
  }

  /** Header CTEs for the BYTE-level replay (q270/q271): the same
    * pretokenizer regex as [[graft.text.BpeTrainer.BytePretokenPattern]]
    * (interpolated from the one constant so the engines cannot drift),
    * each pretoken re-expressed one shifted char per UTF-8 byte
    * (chr(256 + b) — DuckDB's chr is full-Unicode, Spark spells out the
    * two-byte UTF-8 arithmetic; same string either way).
    */
  private def byteBpeHeaderCtes: String = s"""
        w AS MATERIALIZED (
          SELECT word, COUNT(*) AS freq FROM (
            SELECT array_to_string(list_transform(
                range(1, length(hx) // 2 + 1),
                i -> chr(256 + CAST('0x' || substring(hx, CAST(2*i - 1 AS INT), 2) AS INT))),
              '') AS word
            FROM (
              SELECT hex(encode(tok)) AS hx FROM (
                SELECT unnest(regexp_extract_all(text,
                  '${graft.text.BpeTrainer.BytePretokenPattern}', 0)) AS tok
                FROM documents)))
          GROUP BY 1),
        seg0 AS MATERIALIZED (
          SELECT word, freq,
            regexp_replace(word, '(.)', '(\\1)', 'g') AS seg FROM w)"""

  /** A shifted-char piece rendered as dash-joined byte values — the same
    * rendering [[graft.text.BpeTrainer.byteString]] applies Scala-side.
    */
  private def duckByteString(p: String): String = s"""
        array_to_string(list_transform(range(1, length($p) + 1),
          i -> CAST(ord(substring($p, CAST(i AS INT), 1)) - 256 AS VARCHAR)), '-')"""

  /** DuckDB replay of BYTE-level BPE training (q270): byte header CTEs,
    * then the IDENTICAL 8 sequential rounds as the word-level replay —
    * the pair/seg CTEs are representation-agnostic. Output pieces render
    * as dash-joined byte values.
    */
  private def byteBpeOracleSql: String = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { i =>
      s"""${bpePairsCte(i)},
        top$i AS MATERIALIZED (
          SELECT a, b, cnt FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1),
        ${bpeSegCte(i)}"""
    }.mkString(",")
    val out = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS step,
            ${duckByteString("a")} AS bytes_a,
            ${duckByteString("b")} AS bytes_b,
            ${duckByteString("(a || b)")} AS merged,
            cnt AS pair_count FROM top$i""")
      .mkString(" UNION ALL ")
    s"""
        WITH $byteBpeHeaderCtes,
        $roundCtes
        SELECT * FROM ($out) ORDER BY step"""
  }

  /** DuckDB replay of byte-level fertility (q271): re-train sequentially,
    * re-encode every pretoken with the literal fold, aggregate per
    * source in integer milli-units.
    */
  private def byteFertilityOracleSql: String = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { i =>
      s"""${bpePairsCte(i)},
        top$i AS MATERIALIZED (
          SELECT a, b, cnt FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1),
        ${bpeSegCte(i)}"""
    }.mkString(",")
    val applied = (1 to rounds).foldLeft("e") { (acc, i) =>
      s"replace($acc, '(' || t$i.a || ')(' || t$i.b || ')', '(' || t$i.a || t$i.b || ')')"
    }
    val tops = (1 to rounds).map(i => s"top$i t$i").mkString(", ")
    s"""
        WITH $byteBpeHeaderCtes,
        $roundCtes,
        enc0 AS (
          SELECT doc_id, source, length(wd) AS nb,
            regexp_replace(wd, '(.)', '(\\1)', 'g') AS e
          FROM (
            SELECT doc_id, source,
              array_to_string(list_transform(
                range(1, length(hx) // 2 + 1),
                i -> chr(256 + CAST('0x' || substring(hx, CAST(2*i - 1 AS INT), 2) AS INT))),
              '') AS wd
            FROM (
              SELECT doc_id, source, hex(encode(tok)) AS hx FROM (
                SELECT doc_id, source, unnest(regexp_extract_all(text,
                  '${graft.text.BpeTrainer.BytePretokenPattern}', 0)) AS tok
                FROM documents)))),
        encF AS (
          SELECT doc_id, source, nb, $applied AS e
          FROM enc0, $tops),
        agg AS (
          SELECT source, COUNT(DISTINCT doc_id) AS docs, COUNT(*) AS pretokens,
            CAST(SUM(nb) AS BIGINT) AS bytes,
            CAST(SUM(length(e) - length(replace(e, '(', ''))) AS BIGINT) AS pieces
          FROM encF GROUP BY 1)
        SELECT source, docs, pretokens, bytes, pieces,
          bytes * 1000 // pieces AS bytes_per_piece_milli,
          pieces * 1000 // pretokens AS pieces_per_pretoken_milli
        FROM agg ORDER BY source"""
  }

  /** DuckDB replay of BPE training (q180): the same word-frequency gate,
    * the same paren-wrapped segmentation strings, and 8 unrolled rounds
    * of pair-count → deterministic top-1 (count DESC, lexicographic) →
    * literal replace. `replace` is non-overlapping left-to-right in both
    * engines and the per-symbol parens keep adjacent matches from
    * sharing boundary characters, so the segmentation states stay
    * bit-identical round for round.
    */
  private def bpeOracleSql: String = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { i =>
      s"""${bpePairsCte(i)},
        top$i AS MATERIALIZED (
          SELECT a, b, cnt FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1),
        ${bpeSegCte(i)}"""
    }.mkString(",")
    s"""
        WITH $bpeHeaderCtes,
        $roundCtes
        ${bpeMergeTable(rounds)}"""
  }

  /** DuckDB replay of WordPiece-style training (q184): the BPE rounds
    * with the likelihood ranking — each round additionally counts every
    * SYMBOL's weighted frequency and the winner maximizes
    * cnt / (count(a) * count(b)). The score is one long→double per
    * operand, one multiply, one divide — all IEEE, bit-identical across
    * engines; ties break on (a, b).
    */
  private def wordPieceOracleSql: String = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { i =>
      s"""${bpePairsCte(i)},
        syms$i AS (
          SELECT s, CAST(SUM(freq) AS BIGINT) AS sc FROM (
            SELECT unnest(string_split(substring(seg, 2, length(seg) - 2),
                ')(')) AS s, freq
            FROM seg${i - 1})
          GROUP BY 1),
        top$i AS MATERIALIZED (
          SELECT a, b, cnt FROM (
            SELECT p.a, p.b, p.cnt,
              CAST(p.cnt AS DOUBLE)
                / (CAST(ca.sc AS DOUBLE) * CAST(cb.sc AS DOUBLE)) AS score
            FROM pairs$i p
            JOIN syms$i ca ON ca.s = p.a
            JOIN syms$i cb ON cb.s = p.b)
          ORDER BY score DESC, a, b LIMIT 1),
        ${bpeSegCte(i)}"""
    }.mkString(",")
    s"""
        WITH $bpeHeaderCtes,
        $roundCtes
        ${bpeMergeTable(rounds)}"""
  }

  /** DuckDB replay of tokenizer fertility (q198): q185's train+encode
    * chain with `source` carried through the word explode, aggregated to
    * the per-source fertility/compression report in integer milli-units.
    */
  private def fertilityOracleSql: String = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { i =>
      s"""${bpePairsCte(i)},
        top$i AS MATERIALIZED (
          SELECT a, b, cnt FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1),
        ${bpeSegCte(i)}"""
    }.mkString(",")
    val applied = (1 to rounds).foldLeft("e") { (acc, i) =>
      s"replace($acc, '(' || t$i.a || ')(' || t$i.b || ')', '(' || t$i.a || t$i.b || ')')"
    }
    val tops = (1 to rounds).map(i => s"top$i t$i").mkString(", ")
    s"""
        WITH $bpeHeaderCtes,
        $roundCtes,
        enc0 AS (
          SELECT doc_id, source, widx, length(wd) AS wc,
            regexp_replace(wd, '(.)', '(\\1)', 'g') AS e
          FROM (
            SELECT doc_id, source, i AS widx, ws[i] AS wd
            FROM (SELECT doc_id, source,
                    string_split_regex(trim(text), '\\s+') AS ws
                  FROM documents),
                 UNNEST(generate_series(1, len(ws))) AS t(i))),
        encF AS (
          SELECT doc_id, source, wc, $applied AS e
          FROM enc0, $tops),
        per_doc AS (
          SELECT doc_id, source, COUNT(*) AS w, SUM(wc) AS c,
            SUM(length(e) - length(replace(e, '(', ''))) AS p
          FROM encF GROUP BY 1, 2)
        SELECT source, COUNT(*) AS docs,
          CAST(SUM(w) AS BIGINT) AS words,
          CAST(SUM(c) AS BIGINT) AS chars,
          CAST(SUM(p) AS BIGINT) AS pieces,
          CAST((SUM(c) * 1000) // SUM(p) AS BIGINT) AS chars_per_piece_milli,
          CAST((SUM(p) * 1000) // SUM(w) AS BIGINT) AS pieces_per_word_milli
        FROM per_doc GROUP BY 1 ORDER BY 1"""
  }

  /** DuckDB replay of BPE ENCODING under the trained merges (q185):
    * q180's training rounds produce top1..top8; every corpus word (no
    * alphabet gate at encode time — merges simply never match outside
    * their symbols) is char-wrapped and pushed through the 8 replaces in
    * training order; a document's piece stream is its words' encodings
    * concatenated in order (parens delimit pieces, so no separator is
    * needed) and n_pieces is the '(' count.
    */
  private def bpeEncodeOracleSql: String = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { i =>
      s"""${bpePairsCte(i)},
        top$i AS MATERIALIZED (
          SELECT a, b, cnt FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1),
        ${bpeSegCte(i)}"""
    }.mkString(",")
    val applied = (1 to rounds).foldLeft("e") { (acc, i) =>
      s"replace($acc, '(' || t$i.a || ')(' || t$i.b || ')', '(' || t$i.a || t$i.b || ')')"
    }
    val tops = (1 to rounds).map(i => s"top$i t$i").mkString(", ")
    s"""
        WITH $bpeHeaderCtes,
        $roundCtes,
        enc0 AS (
          SELECT doc_id, widx, regexp_replace(wd, '(.)', '(\\1)', 'g') AS e
          FROM (
            SELECT doc_id, i AS widx, ws[i] AS wd
            FROM (SELECT doc_id,
                    string_split_regex(trim(text), '\\s+') AS ws
                  FROM documents),
                 UNNEST(generate_series(1, len(ws))) AS t(i))),
        encF AS (
          SELECT doc_id, widx, $applied AS e
          FROM enc0, $tops),
        docenc AS (
          SELECT doc_id, string_agg(e, '' ORDER BY widx) AS d
          FROM encF GROUP BY doc_id)
        SELECT doc_id,
          CAST(length(d) - length(replace(d, '(', '')) AS BIGINT) AS n_pieces,
          md5(d) AS pieces_md5
        FROM docenc ORDER BY doc_id"""
  }

  // ---- prefix-filtered set-similarity join (PPJoin family) ----------------
  // Exact all-pairs Jaccard ≥ 3/5 over distinct 4-word-shingle sets WITHOUT
  // the quadratic pair enumeration: each doc is reduced to its p rarest
  // shingles (p = n − ceil(θn) + 1) and only prefix-sharing pairs are
  // verified. The set element is a SHINGLE, not a unigram, deliberately:
  // the synthetic corpus draws from a ~30-word vocabulary, so unigram sets
  // overlap almost totally (θ=3/5 matches ~80k of 142k pairs — a useless
  // join and a useless filter), while 4-gram shingles separate the planted
  // near-dups/copies from chance overlap. The oracle IS the quadratic form
  // (ground truth at verify scale), so a green row proves the filter's
  // zero-false-negative property on real data, not just on a fixture.
  // ---- cross-source fingerprint-overlap matrix ---------------------------
  // Corpus-prep diagnostic: for every source pair, how many DISTINCT
  // 3-gram shingle fingerprints they share, plus the containment
  // coefficient shared/min(|a|,|b|) — the "is source X just a mirror of
  // source Y" report that decides dedup scope before the expensive
  // near-dup passes run. Scale: the join is keyed by fingerprint over
  // DISTINCT (source, h) pairs, so a boilerplate shingle contributes at
  // most #sources rows — pair fan-out is bounded by sources², never by
  // corpus size; text never leaves its scan stage (the 60-bit hash does).
  private lazy val q235: Q = Q("q235_source_overlap",
    (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.text.TextSketch.shingleHashSet(col("text"), 3)).as("h"))
        .distinct()
      val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = sh.toDF("source_a", "h")
        .join(sh.toDF("source_b", "h"), "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared"))
      pairs
        .join(counts.toDF("source_a", "na"), "source_a")
        .join(counts.toDF("source_b", "nb"), "source_b")
        .select(col("source_a"), col("source_b"), col("shared"),
          col("na"), col("nb"),
          (col("shared").cast("double") /
            least(col("na"), col("nb")).cast("double")).as("containment"))
        .orderBy("source_a", "source_b")
    },
    Some("""
      WITH toks AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS w
        FROM documents),
      sh0 AS (
        SELECT source, unnest(CASE WHEN len(w) < 3 THEN []
          ELSE list_transform(generate_series(1, len(w) - 2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS sgram
        FROM toks),
      sh AS (
        SELECT DISTINCT source,
          CAST('0x' || substr(md5(sgram), 1, 15) AS BIGINT) AS h
        FROM sh0),
      c AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
      p AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.source_a, p.source_b, p.shared, ca.n AS na, cb.n AS nb,
        CAST(p.shared AS DOUBLE) / CAST(LEAST(ca.n, cb.n) AS DOUBLE)
          AS containment
      FROM p JOIN c ca ON ca.source = p.source_a
             JOIN c cb ON cb.source = p.source_b
      ORDER BY 1, 2"""))

  // ---- PMI-ranked collocations (integer-exact ordering) -------------------
  // Top word pairs by pointwise mutual information — the collocation mine
  // behind tokenizer-vocabulary and phrase-detection passes. PMI's log is
  // monotone, so the RANKING needs only the exact rational argument:
  // pmi_key = floor(n·c_xy·10^6 / (c_x·c_y)), computed in DECIMAL(38,0)/
  // HUGEINT so both engines order identically with no libm anywhere.
  // Count floor c_xy ≥ 5 applies the standard sparse-pair guard. One
  // bigram histogram + two unigram joins; only (word, count) pairs
  // shuffle.
  private lazy val q240: Q = Q("q240_collocations",
    (s, dir) => {
      val d38 = "decimal(38,0)"
      val toks = t(s, dir, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) >= 2)
      val bi = toks.select(explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
      val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      val cx = bi.groupBy(col("w1").as("w")).agg(count(lit(1)).as("c_x"))
      val cy = bi.groupBy(col("w2").as("w")).agg(count(lit(1)).as("c_y"))
      val n = bi.count() // one bounded driver count, the codebook discipline
      bc.filter(col("c_xy") >= 5)
        .join(cx, col("w1") === cx("w")).drop("w")
        .join(cy, col("w2") === cy("w")).drop("w")
        // FLOOR division in decimals: Spark's decimal divide rounds
        // HALF_UP where DuckDB's // floors — subtract the remainder first
        // so the quotient is exact in both.
        .withColumn("num",
          (lit(n).cast(d38) * col("c_xy").cast(d38)
            * lit(1000000L).cast(d38)).cast(d38))
        .withColumn("den",
          (col("c_x").cast(d38) * col("c_y").cast(d38)).cast(d38))
        .withColumn("pmi_key",
          ((col("num") - col("num") % col("den")) / col("den")).cast("long"))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          col("pmi_key"))
        .orderBy(desc("pmi_key"), col("w1"), col("w2"))
        .limit(30)
    },
    Some(s"""
      WITH toks AS (
        SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
        ), tw AS (SELECT w FROM toks WHERE len(w) >= 2),
      bi AS (
        SELECT w[i] AS w1, w[i+1] AS w2
        FROM tw, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
      cx AS (SELECT w1 AS w, CAST(COUNT(*) AS HUGEINT) AS c_x FROM bi GROUP BY 1),
      cy AS (SELECT w2 AS w, CAST(COUNT(*) AS HUGEINT) AS c_y FROM bi GROUP BY 1),
      nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM bi)
      SELECT w1, w2, c_xy, CAST(c_x AS BIGINT) AS c_x,
        CAST(c_y AS BIGINT) AS c_y,
        CAST((nn.n * c_xy * 1000000) // (c_x * c_y) AS BIGINT) AS pmi_key
      FROM bc JOIN cx ON bc.w1 = cx.w
              JOIN cy ON bc.w2 = cy.w
              CROSS JOIN nn
      WHERE c_xy >= 5
      ORDER BY pmi_key DESC, w1, w2 LIMIT 30"""))

  // ---- Heaps'-law vocabulary growth curve ---------------------------------
  // How fast does the vocabulary grow as the corpus grows? — the
  // tokenizer-capacity planning curve (plot vocab vs tokens, fit V=K·n^β
  // offline). Corpus prefixes are doc_id deciles; a token's contribution
  // lands at its FIRST-appearance prefix (min bucket per token — one
  // narrow aggregate), so the cumulative sum over the 10-row first-bucket
  // histogram IS the distinct-vocabulary size at each prefix. Never a
  // distinct-count per prefix (which would rescan the corpus 10×).
  private lazy val q243: Q = Q("q243_heaps_curve",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val maxId = toks.agg(max("doc_id")).collect()(0).getLong(0)
      val bucketed = toks
        .withColumn("bucket", expr(s"(doc_id * 10) div (${maxId + 1}L)"))
      val tokensPerBucket = bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("toks"))
      val firstSeen = bucketed.groupBy("tok")
        .agg(min("bucket").as("first_bucket"))
        .groupBy(col("first_bucket").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokensPerBucket
        .join(firstSeen, Seq("bucket"), "left")
        .select(col("bucket"),
          sum("toks").over(w).as("tokens_cum"),
          sum(coalesce(col("new_types"), lit(0L))).over(w).as("vocab_cum"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents),
      mx AS (SELECT MAX(doc_id) + 1 AS m FROM toks),
      b AS (SELECT (doc_id * 10) // mx.m AS bucket, tok FROM toks, mx),
      tpb AS (SELECT bucket, COUNT(*) AS toks FROM b GROUP BY 1),
      fs AS (SELECT first_bucket AS bucket, COUNT(*) AS new_types FROM (
               SELECT tok, MIN(bucket) AS first_bucket FROM b GROUP BY 1)
             GROUP BY 1)
      SELECT tpb.bucket,
        CAST(SUM(tpb.toks) OVER (ORDER BY tpb.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS tokens_cum,
        CAST(SUM(COALESCE(fs.new_types, 0)) OVER (ORDER BY tpb.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS vocab_cum
      FROM tpb LEFT JOIN fs ON tpb.bucket = fs.bucket
      ORDER BY 1"""))

  // ---- code-switching report: per-SEGMENT language identification --------
  // Document-level lang-ID (q38/q48) hides mixed-language documents — the
  // training-data failure mode where a "en" doc carries embedded passages
  // of something else. Each doc splits into consecutive 10-word segments,
  // each segment is language-identified independently (the q48 profile
  // heuristic behind a Generate barrier so every regexp evaluates once),
  // and the per-true-lang report counts mixed docs and switched segments
  // (segments disagreeing with the doc's dominant prediction — dominant =
  // max (count, lang) struct, the deterministic mode). Row-local
  // featurize/score; only (doc_id, lang, predicted) triples shuffle.
  private lazy val q238: Q = Q("q238_code_switching",
    (s, dir) => {
      val segs = t(s, dir, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(0, (size(w) - 1) div 10), " +
              "i -> array_join(slice(w, i * 10 + 1, 10), ' '))")).as("seg"))
      val predicted = segs
        .select(col("doc_id"), col("lang"),
          graft.text.LanguageId.scoresArray(col("seg")).as("ss0"))
        .select(col("doc_id"), col("lang"), explode(array(col("ss0"))).as("ss"))
        .select(col("doc_id"), col("lang"),
          graft.text.LanguageId.pickFromScores(col("ss")).as("predicted"))
      val cnts = predicted.groupBy("doc_id", "lang", "predicted")
        .agg(count(lit(1)).as("c"))
      val perDoc = cnts.groupBy("doc_id", "lang")
        .agg(sum("c").as("segments"),
          count(lit(1)).as("distinct_langs"),
          max(struct(col("c"), col("predicted"))).as("dom"))
        .select(col("doc_id"), col("lang"), col("segments"),
          col("distinct_langs"),
          (col("segments") - col("dom.c")).as("switched"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("distinct_langs") > 1, 1L).otherwise(0L)).as("mixed_docs"),
          sum("segments").as("segments"),
          sum("switched").as("switched_segments"))
        .orderBy("lang")
    },
    Some {
      val scoreExprs = graft.text.LanguageId.profiles.map { case (lang, grams) =>
        grams.map(g => s"len(regexp_extract_all(lower(seg), '$g'))")
          .mkString(" + ") + s" AS s_$lang"
      }.mkString(",\n            ")
      val langs = graft.text.LanguageId.profiles.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pick = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
      s"""
        WITH toks AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        segs AS (
          SELECT doc_id, lang,
            unnest(list_transform(generate_series(0, (len(w) - 1) // 10),
              i -> array_to_string(w[i*10+1 : i*10+10], ' '))) AS seg
          FROM toks WHERE len(w) > 0),
        scored AS (
          SELECT doc_id, lang,
            $scoreExprs
          FROM segs),
        best AS (SELECT doc_id, lang, $m AS m, * FROM scored),
        segp AS (SELECT doc_id, lang, CASE $pick END AS predicted FROM best),
        cnts AS (SELECT doc_id, lang, predicted, COUNT(*) AS c
                 FROM segp GROUP BY 1, 2, 3),
        dom AS (
          SELECT doc_id, lang, c AS dom_c FROM (
            SELECT doc_id, lang, c,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY c DESC, predicted DESC) AS rn
            FROM cnts) WHERE rn = 1),
        per_doc AS (
          SELECT cnts.doc_id, cnts.lang, SUM(c) AS segments,
            COUNT(*) AS distinct_langs, ANY_VALUE(dom.dom_c) AS dom_c
          FROM cnts JOIN dom ON cnts.doc_id = dom.doc_id
          GROUP BY 1, 2)
        SELECT lang, COUNT(*) AS docs,
          CAST(SUM(CASE WHEN distinct_langs > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS mixed_docs,
          CAST(SUM(segments) AS BIGINT) AS segments,
          CAST(SUM(segments - dom_c) AS BIGINT) AS switched_segments
        FROM per_doc GROUP BY 1 ORDER BY 1"""
    })

  // lazy: referenced from `all` above its declaration point — a plain val
  // would still be null during the object's initializer.
  private lazy val q226: Q = Q("q226_ssjoin_jaccard",
    (s, dir) => {
      // 60-bit md5 shingle hashes, NOT shingle strings: the set elements
      // shuffle through the freq aggregate and the candidate join, and a
      // long moves ~4× less than a 4-word string (q37's discipline; the
      // oracle hashes identically, so even a collision would be shared).
      val d = corpus(s, dir)
        .select(col("doc_id").as("id"),
          graft.text.TextSketch.shingleHashSet(col("text"), 4).as("tokens"))
      SetSimJoin.jaccardJoin(d, num = 3, den = 5).orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH $corpusSql,
      toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          CASE WHEN len(w) < 4 THEN []
            ELSE list_transform(generate_series(1, len(w) - 3),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) END,
          s1 -> CAST('0x' || substr(md5(s1), 1, 15) AS BIGINT))) AS ts
        FROM toks),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
          CAST(len(a.ts) AS BIGINT) AS na, CAST(len(b.ts) AS BIGINT) AS nb
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.ts) > 0 AND len(b.ts) > 0)
      SELECT doc_a, doc_b, inter, na, nb FROM pairs
      WHERE 8 * inter >= 3 * (na + nb) ORDER BY 1, 2"""))
}
