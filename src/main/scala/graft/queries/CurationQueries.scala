package graft.queries

import org.apache.spark.sql.functions._
import Qx._

/** Second wave of training-data curation operators: chunk-level exact
  * dedup (sub-document granularity — the unit modern pipelines dedup at),
  * an ordered quality-filter cascade with first-fail attribution (the
  * funnel report every curation run ships with), BM25 ranked retrieval
  * (corpus search for inspection/decontamination triage), and
  * deterministic stratified sampling (fixed-size per-stratum draws for
  * eval sets).
  *
  * The Spark side of every entry delegates to the PUBLIC
  * [[graft.curation.Curation]] API (column-parameterized, reusable over
  * any corpus schema); this module contributes the testdata bindings and
  * the DuckDB oracle mirrors. Scale notes live with the API; the common
  * theme is that document text never shuffles — only 32-char hashes,
  * token keys, and ids do.
  */
object CurationQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  /** 8-gram list over a token list named `w` (PipelineQueries' mirror). */
  private val duck8gram: String = {
    val body = (0 until 8).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len(w) < 8 THEN [] ELSE list_transform(generate_series(1, len(w)-7), i -> $body) END"
  }

  /** The cross-corpus surprisal scoring chain shared by q187 and q188:
    * reference = even doc_ids, target = odd; ends in `per_doc`
    * (doc_id, source, nb, sb, ov) — bigrams, total bits under the
    * reference model (20-bit OOV penalty), OOV count.
    */
  private val crossSurprisalCtes: String = s"""
        tok AS (
          SELECT doc_id, source, $duckTokens AS w FROM documents),
        rbi AS (
          SELECT CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
                 CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE doc_id % 2 = 0),
        bc AS (SELECT bh, COUNT(*) AS cb FROM rbi GROUP BY 1),
        uc AS (SELECT uh, COUNT(*) AS cu FROM rbi GROUP BY 1),
        tbi AS (
          SELECT doc_id, source,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
            CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE doc_id % 2 = 1),
        sc AS (
          SELECT tb.doc_id, tb.source,
            CASE WHEN bc.cb IS NULL THEN 20
                 ELSE length(bin(uc.cu // bc.cb)) - 1 END AS bits,
            CASE WHEN bc.cb IS NULL THEN 1 ELSE 0 END AS oov
          FROM tbi tb
          LEFT JOIN bc ON bc.bh = tb.bh
          LEFT JOIN uc ON uc.uh = tb.uh),
        per_doc AS (
          SELECT doc_id, source, COUNT(*) AS nb, SUM(bits) AS sb,
            SUM(oov) AS ov
          FROM sc GROUP BY 1, 2)"""

  /** DuckDB replay of [[graft.curation.Curation.chunkDedupReport]] —
    * shared by q116 (Scala entry point) and q193 (the same operator
    * driven through `spark.sql` and the injected table function).
    */
  private def chunkDedupOracleSql: String = s"""
        WITH w AS (
          SELECT doc_id, source, $duckTokens AS w FROM documents),
        ch AS (
          SELECT doc_id, source,
            unnest(list_transform(generate_series(0, len(w)//20 - 1),
              i -> md5(array_to_string(w[i*20+1 : i*20+20], ' ')))) AS h
          FROM w),
        cn AS (SELECT doc_id, source,
                 COUNT(*) OVER (PARTITION BY h) AS cnt FROM ch),
        per_doc AS (
          SELECT doc_id, source, COUNT(*) AS chunks,
            SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS dup
          FROM cn GROUP BY 1, 2),
        per_src AS (
          SELECT source, SUM(chunks) AS pc, SUM(dup) AS pd,
            SUM(CASE WHEN dup * 2 >= chunks THEN 1 ELSE 0 END) AS pf
          FROM per_doc GROUP BY 1),
        src AS (SELECT source, COUNT(*) AS docs FROM documents GROUP BY 1)
        SELECT src.source, src.docs,
          CAST(COALESCE(pc, 0) AS BIGINT) AS total_chunks,
          CAST(COALESCE(pd, 0) AS BIGINT) AS dup_chunks,
          CAST(COALESCE(pf, 0) AS BIGINT) AS flagged_docs
        FROM src LEFT JOIN per_src USING (source) ORDER BY source"""

  /** DuckDB replay of the full CCNet chain (q191): q186's span-removal
    * CTEs over the base corpus, q166's funnel rules on the CLEANED text,
    * q163's bit-exact Bloom membership + exact verify on the cleaned
    * text, q187/q188's bigram scoring + discrete terciles with
    * thresholds over the decon-survivor population, then the budget
    * cumsum and packing arithmetic (q166's). Multiply-referenced CTEs
    * pinned MATERIALIZED (the bpeHeaderCtes lesson — DuckDB re-inlines
    * otherwise and the tree goes exponential).
    */
  private def ccnetPipelineOracleSql: String = s"""
        WITH tok0 AS MATERIALIZED (
          SELECT doc_id, lang, $duckTokens AS w FROM documents),
        winds AS (
          SELECT doc_id, i - 1 AS i, md5(array_to_string(w[i:i+9], ' ')) AS h
          FROM tok0, UNNEST(generate_series(1, len(w) - 9)) AS t(i)),
        dups AS MATERIALIZED (
          SELECT doc_id, i FROM (
            SELECT doc_id, i, COUNT(*) OVER (PARTITION BY h) AS cnt
            FROM winds)
          WHERE cnt > 1),
        toksl AS (
          SELECT doc_id, p - 1 AS p, w[p] AS tk
          FROM tok0, UNNEST(generate_series(1, len(w))) AS t(p)),
        cov AS (
          SELECT DISTINCT d.doc_id, c.p
          FROM dups d, UNNEST(generate_series(d.i, d.i + 9)) AS c(p)),
        keptl AS (
          SELECT t.doc_id, t.p, t.tk
          FROM toksl t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
          WHERE c.p IS NULL),
        clean AS MATERIALIZED (
          SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS ct,
            COUNT(*) AS n_after
          FROM keptl GROUP BY 1),
        corpusc AS MATERIALIZED (
          SELECT t.doc_id, t.lang, COALESCE(c.ct, '') AS ctext,
            CAST(COALESCE(c.n_after, 0) AS BIGINT) AS n_kept
          FROM tok0 t LEFT JOIN clean c USING (doc_id)),
        tgtc AS (SELECT * FROM corpusc WHERE doc_id % 2 = 1),
        refc AS (SELECT * FROM corpusc WHERE doc_id % 2 = 0),
        ftok AS (
          SELECT doc_id, unnest(string_split_regex(trim(ctext), '\\s+')) AS tok
          FROM tgtc),
        ftc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM ftok GROUP BY 1, 2),
        feats AS (
          SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS vocab, MAX(cnt) AS max_single,
            SUM(CASE WHEN tok IN ('the','a','of','and','in','to','is')
                THEN cnt ELSE 0 END) AS stop_cnt
          FROM ftc GROUP BY 1),
        k1 AS MATERIALIZED (
          SELECT f.doc_id FROM feats f
          WHERE NOT (f.n < 15) AND NOT (f.n > 95)
            AND NOT (f.max_single * 5 > f.n)
            AND NOT (f.vocab * 5 < f.n * 2)
            AND NOT (f.stop_cnt * 50 < f.n)),
        bench AS (SELECT w[3:] AS w FROM tok0 WHERE doc_id % 50 = 0),
        bg AS MATERIALIZED (
          SELECT DISTINCT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
          FROM bench, UNNEST($duck8gram) AS t(g)),
        bpos AS (
          SELECT DISTINCT
            ((h & 65535) + i * (((h >> 16) & 65535) | 1)) & 65535 AS pos
          FROM bg, UNNEST([0, 1, 2, 3]) AS t(i)),
        ctok AS (
          SELECT doc_id, string_split_regex(trim(ctext), '\\s+') AS w FROM tgtc),
        cg AS MATERIALIZED (
          SELECT DISTINCT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
          FROM ctok, UNNEST($duck8gram) AS t(g)),
        cpos AS (
          SELECT doc_id, h,
            ((h & 65535) + i * (((h >> 16) & 65535) | 1)) & 65535 AS pos
          FROM cg, UNNEST([0, 1, 2, 3]) AS t(i)),
        miss AS (
          SELECT DISTINCT doc_id, h FROM cpos
          WHERE pos NOT IN (SELECT pos FROM bpos)),
        chit AS (
          SELECT c.doc_id, c.h, (m.h IS NULL) AS bloom_hit
          FROM cg c LEFT JOIN miss m
            ON c.doc_id = m.doc_id AND c.h = m.h),
        cont AS (
          SELECT DISTINCT c.doc_id FROM chit c JOIN bg USING (h)
          WHERE c.bloom_hit),
        k2 AS MATERIALIZED (
          SELECT doc_id FROM k1
          WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        rbi AS (
          SELECT CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
                 CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM (SELECT string_split_regex(trim(ctext), '\\s+') AS w FROM refc) r,
               UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
        bc AS (SELECT bh, COUNT(*) AS cb FROM rbi GROUP BY 1),
        uc AS (SELECT uh, COUNT(*) AS cu FROM rbi GROUP BY 1),
        tbi AS (
          SELECT doc_id, lang,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
            CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM ctok c JOIN tgtc USING (doc_id),
               UNNEST(generate_series(1, len(c.w) - 1)) AS t(i)),
        per_doc AS (
          SELECT doc_id, lang, COUNT(*) AS nb,
            SUM(CASE WHEN bc.cb IS NULL THEN 20
                ELSE length(bin(uc.cu // bc.cb)) - 1 END) AS sb
          FROM tbi LEFT JOIN bc USING (bh) LEFT JOIN uc USING (uh)
          GROUP BY 1, 2),
        scores12 AS MATERIALIZED (
          SELECT doc_id, lang, (sb * 1000) // nb AS score FROM per_doc
          WHERE doc_id IN (SELECT doc_id FROM k2)),
        hist AS (
          SELECT lang, score, COUNT(*) AS cnt FROM scores12 GROUP BY 1, 2),
        hh AS (
          SELECT lang, score, cnt,
            SUM(cnt) OVER (PARTITION BY lang ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY lang) AS n
          FROM hist),
        thr AS (
          SELECT lang,
            MIN(CASE WHEN cum * 3 >= n THEN score END) AS t1,
            MIN(CASE WHEN cum * 3 >= 2 * n THEN score END) AS t2
          FROM hh GROUP BY 1),
        keep AS MATERIALIZED (
          SELECT s.doc_id FROM scores12 s JOIN thr t USING (lang)
          WHERE s.score <= t.t2),
        counted AS (
          SELECT c.lang, c.doc_id, c.n_kept AS n
          FROM tgtc c JOIN keep k ON k.doc_id = c.doc_id
          WHERE c.n_kept > 0),
        c3 AS (
          SELECT doc_id, lang, n,
            CAST(SUM(n) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM counted),
        k4 AS MATERIALIZED (SELECT * FROM c3 WHERE cum <= 4000),
        seqs AS (
          SELECT lang, MAX((cum - 1) // 256) + 1 AS sequences,
            CAST(SUM(n) AS BIGINT) AS packed_tokens
          FROM k4 GROUP BY 1),
        base AS (
          SELECT lang, COUNT(*) AS docs_total,
            CAST(SUM(len(w)) AS BIGINT) AS tokens_total
          FROM tok0 WHERE doc_id % 2 = 1 GROUP BY 1),
        tclean AS (
          SELECT lang, CAST(SUM(n_kept) AS BIGINT) AS tokens_after_clean
          FROM tgtc GROUP BY 1),
        cf AS (SELECT c.lang, COUNT(*) AS after_funnel
               FROM tgtc c JOIN k1 USING (doc_id) GROUP BY 1),
        cd2 AS (SELECT c.lang, COUNT(*) AS after_decon
                FROM tgtc c JOIN k2 USING (doc_id) GROUP BY 1),
        ct3 AS (SELECT c.lang, COUNT(*) AS after_terciles
                FROM tgtc c JOIN keep USING (doc_id) GROUP BY 1),
        cb4 AS (SELECT lang, COUNT(*) AS after_budget FROM k4 GROUP BY 1)
        SELECT base.lang, base.docs_total, base.tokens_total,
          CAST(COALESCE(tokens_after_clean, 0) AS BIGINT) AS tokens_after_clean,
          CAST(COALESCE(after_funnel, 0) AS BIGINT) AS after_funnel,
          CAST(COALESCE(after_decon, 0) AS BIGINT) AS after_decon,
          CAST(COALESCE(after_terciles, 0) AS BIGINT) AS after_terciles,
          CAST(COALESCE(after_budget, 0) AS BIGINT) AS after_budget,
          CAST(COALESCE(sequences, 0) AS BIGINT) AS sequences,
          CAST(COALESCE(packed_tokens, 0) AS BIGINT) AS packed_tokens
        FROM base
          LEFT JOIN tclean USING (lang) LEFT JOIN cf USING (lang)
          LEFT JOIN cd2 USING (lang) LEFT JOIN ct3 USING (lang)
          LEFT JOIN cb4 USING (lang) LEFT JOIN seqs USING (lang)
        ORDER BY base.lang"""

  val all: Seq[Q] = Seq(

    // ---- chunk-level exact dedup ------------------------------------------
    // Documents are chunked into consecutive non-overlapping 20-token
    // windows; a chunk is duplicated when its text occurs anywhere else in
    // the corpus (same doc or not). Per-source report: total docs, chunks,
    // duplicated chunks, and docs where >= half the chunks are duplicated
    // (the "mostly boilerplate" flag). Sub-document dedup catches shared
    // headers/footers that document-fingerprint dedup (q31/q34) misses.
    //
    // 100 TB shape: chunking and hashing are row-local in the scan stage;
    // what shuffles is (doc_id, source, md5, count) — never text. Global
    // multiplicity is a TWO-LEVEL aggregate (r10): the (doc, h) grain
    // splits a hot boilerplate chunk across documents at the map-side
    // combine — where the previous count-window over the h partition
    // funneled every occurrence through one unsplittable task — the
    // per-h totals reduce the already-collapsed frame, and the h-keyed
    // join-back is AQE-skew-splittable. The totals branch may re-scan
    // the text when Catalyst doesn't reuse the grain exchange — the
    // deliberate trade: an extra scan parallelizes perfectly, the
    // hot-key window never does.
    // Integer threshold math (dup*2 >= chunks) keeps the oracle exact.
    Q("q116_chunk_dedup",
      (s, dir) => graft.curation.Curation.chunkDedupReport(t(s, dir, "documents")),
      Some(chunkDedupOracleSql))
    ,

    // ---- the SQL surface: headline operators via spark.sql ONLY -----------
    // The same q116 report driven end-to-end through the injected
    // table-valued function — `SELECT * FROM graft_chunk_dedup(...)` is
    // the whole query; no Scala operator call anywhere in the plan's
    // construction. The TVF builds the IDENTICAL logical plan as the
    // Scala entry point (one code path), so a hash match against q116's
    // oracle is the machine-checked statement that the SQL route loses
    // nothing: same two-level aggregate, same results, bit for bit.
    Q("q193_sql_surface",
      (s, dir) => {
        t(s, dir, "documents").createOrReplaceTempView("graft_q193_documents")
        s.sql("SELECT * FROM graft_chunk_dedup('graft_q193_documents')")
      },
      Some(chunkDedupOracleSql))
    ,

    // ---- quality-filter cascade with first-fail attribution ---------------
    // C4/Gopher-style rule battery applied as an ORDERED cascade: each doc
    // is attributed to the FIRST rule it fails (or 'kept'), and the report
    // is the survival funnel — stage, docs dropped there, survivors after.
    // That attribution/funnel view (not just per-rule booleans — q33/q104
    // cover those) is what curation runs publish to compare pipelines.
    //
    // All five features come from ONE token explode + two-level keyed agg
    // (same shape as the Gopher filter q104): per-(doc, token) counts,
    // then per-doc n/vocab/max-single/stopword sums — narrow longs all the
    // way, text never leaves the scan stage. Thresholds are integer
    // cross-multiplications (dup of the published ratio rules) so the
    // DuckDB mirror is exact with no float boundary risk.
    Q("q117_filter_funnel",
      (s, dir) => graft.curation.Curation.filterFunnel(t(s, dir, "documents")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
        tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        feats AS (
          SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS vocab, MAX(cnt) AS max_single,
            SUM(CASE WHEN tok IN ('the','a','of','and','in','to','is')
                THEN cnt ELSE 0 END) AS stop_cnt
          FROM tc GROUP BY 1),
        staged AS (
          SELECT CASE WHEN n < 15 THEN 1 WHEN n > 95 THEN 2
                      WHEN max_single * 5 > n THEN 3
                      WHEN vocab * 5 < n * 2 THEN 4
                      WHEN stop_cnt * 50 < n THEN 5 ELSE 6 END AS stage,
                 CASE WHEN n < 15 THEN 'too_short' WHEN n > 95 THEN 'too_long'
                      WHEN max_single * 5 > n THEN 'repetitive'
                      WHEN vocab * 5 < n * 2 THEN 'low_vocab'
                      WHEN stop_cnt * 50 < n THEN 'low_stopword'
                      ELSE 'kept' END AS rule
          FROM feats),
        funnel AS (
          SELECT stage, rule,
            CASE WHEN rule = 'kept' THEN 0 ELSE COUNT(*) END AS dropped
          FROM staged GROUP BY 1, 2)
        SELECT CAST(stage AS BIGINT) AS stage, rule,
          CAST(dropped AS BIGINT) AS dropped,
          CAST((SELECT COUNT(*) FROM documents)
            - SUM(dropped) OVER (ORDER BY stage
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS survivors_after
        FROM funnel ORDER BY stage"""))
    ,

    // ---- BM25 ranked retrieval --------------------------------------------
    // Top-15 documents for the query {spark, window, hash} under BM25
    // (k1 = 1.2, b = 0.75) with the log-free idf weight
    // (N - df + 0.5)/(df + 0.5) — a strictly monotone transform of the
    // classic log idf, chosen because every arithmetic op is then an IEEE
    // +|*|/ that both engines round identically (ln() is only
    // 1-ulp-accurate and engine-specific, which would break the driver's
    // hash compare). Per-term contributions are cast to DECIMAL(24,10)
    // before the per-doc sum so the reduction is associative — a raw
    // double sum would depend on partition order.
    //
    // 100 TB shape: tokens are filtered to the query terms INSIDE the
    // row-local lambda, so only (doc_id, dl, term) rows for matching terms
    // reach the exchange — the corpus itself never shuffles. df (3 rows)
    // and the corpus stats (1 row) are broadcast.
    // k1+1.0 and 1.0-b fold to exactly the 2.2 / 0.25 literals the
    // oracle spells (verified IEEE identities), so the generic API stays
    // hash-exact under the gate
    Q("q118_bm25",
      (s, dir) => graft.curation.Curation.bm25(
        t(s, dir, "documents"), Seq("spark", "window", "hash")),
      Some(s"""
        WITH tk AS (
          SELECT doc_id, len($duckTokens) AS dl,
            unnest(list_filter($duckTokens,
              t -> t IN ('spark', 'window', 'hash'))) AS term
          FROM documents),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        stats AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(len($duckTokens)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM documents),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT doc_id,
            CAST(((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
              AS DECIMAL(24,10)) AS c
          FROM tf JOIN df USING (term), stats)
        SELECT doc_id, COUNT(*) AS matched_terms, CAST(SUM(c) AS DOUBLE) AS score
        FROM contrib GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15"""))
    ,

    // ---- deterministic stratified sampling --------------------------------
    // Fixed-size per-stratum draw: 20 docs per language, selected by
    // ranking on md5(doc_id) — an engine-independent, content-addressed
    // order (same property as the q30b hash split), so the sample is
    // reproducible across engines, runs, and cluster sizes. This is the
    // eval-set / human-inspection draw every curation pipeline needs.
    //
    // 100 TB shape: the projection narrows to (lang, doc_id, n_chars)
    // BEFORE the window, so the per-stratum sort shuffles ids, not text.
    // With heavier strata, swap the window for ops.TopKPerGroup (the
    // partial-aggregating top-k used by q67), which caps per-partition
    // state at k rows; at 5 strata x 20 rows the window is already tiny.
    Q("q119_stratified_sample",
      (s, dir) => graft.curation.Curation.stratifiedSample(
        t(s, dir, "documents"), "lang", 20, carryCols = Seq("n_chars")),
      Some("""
        SELECT lang, rk, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
        WHERE rk <= 20 ORDER BY lang, rk"""))
    ,

    // ---- training-shard packing -------------------------------------------
    // Pack documents into ~2000-token shards per language: docs are laid
    // out in the deterministic md5(doc_id) order and a shard boundary
    // falls every 2000 tokens of running offset (a doc belongs to the
    // shard its FIRST token lands in). The report is per-shard fill —
    // docs and tokens — which is what a dataloader needs to size epochs
    // and what makes packing reproducible across engines and runs.
    //
    // 100 TB shape: the running offset is a window cumsum partitioned by
    // language over (lang, doc_id, n) — token counts come from one
    // row-local pass in the scan stage and only those narrow triples
    // shuffle. A GLOBAL pack order would serialize on one partition; the
    // per-stratum partitioning is what keeps every stream independent (at
    // real scale the stratum key gains a hash-bucket component, same as
    // q30b, so each packer sees bounded data). Shard ids use integer
    // division of exact long offsets — no float boundary risk.
    Q("q120_shard_pack",
      (s, dir) => graft.curation.Curation.packShards(t(s, dir, "documents")),
      Some(s"""
        WITH d AS (
          SELECT lang, doc_id, len($duckTokens) AS n FROM documents),
        c AS (
          SELECT lang, doc_id, n,
            SUM(n) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d)
        SELECT lang, CAST((cum - n) // 2000 AS BIGINT) AS shard,
          COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens
        FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- deterministic interleaved training order ---------------------------
    // The data-ordering step before shard writing: a training run wants a
    // REPRODUCIBLE global shuffle (same order on any engine, cluster size,
    // or retry — so a crashed epoch resumes mid-stream) that also
    // INTERLEAVES sources (long same-domain runs bias gradient batches).
    // Order = (rank-within-source by content-addressed md5, then source):
    // round-robin across sources while they last, each source's internal
    // order itself a reproducible shuffle. The report proves both
    // properties per source: position span, and the max CONSECUTIVE
    // same-source run (gaps-and-islands over the global sequence) — 1
    // while all sources are live, growing only after smaller sources
    // exhaust.
    //
    // 100 TB shape: the row IS the production path now — the order is
    // MATERIALIZED by Curation.writeTrainingOrder (repartitionByRange on
    // the interleave key (rk, source) + in-partition sort, spec-proven
    // to tile the identical global order) and the verdict columns come
    // from Curation.trainingOrderReport: a streaming partition-local
    // run-length encode over the tiled layout plus an O(partitions)
    // boundary stitch — no global row_number window anywhere in the
    // plan (PlanShapeSpec-asserted), the round-12/13 registry's last
    // deliberate single-partition window retired.
    Q("q142_training_order",
      (s, dir) => {
        val tmp = graft.io.Scratch.dir("graft_train_order")
        graft.curation.Curation.writeTrainingOrder(
          t(s, dir, "documents").select(col("doc_id"), col("source")), tmp)
        graft.curation.Curation.trainingOrderReport(s, tmp)
      },
      Some("""
        WITH ordered AS (
          SELECT doc_id, source,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
          FROM documents),
        pos AS (
          SELECT doc_id, source, rk,
            CAST(ROW_NUMBER() OVER (ORDER BY rk, source) AS BIGINT) AS pos
          FROM ordered),
        runs AS (
          SELECT source, pos,
            CASE WHEN LAG(source) OVER (ORDER BY pos) IS DISTINCT FROM source
              THEN 1 ELSE 0 END AS run_start
          FROM pos),
        grouped AS (
          SELECT source, pos,
            SUM(run_start) OVER (ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
          FROM runs),
        per_run AS (
          SELECT source, run_id, COUNT(*) AS run_len, MIN(pos) AS run_pos
          FROM grouped GROUP BY 1, 2)
        SELECT source, COUNT(*) AS runs,
          CAST(SUM(run_len) AS BIGINT) AS docs,
          CAST(MIN(run_pos) AS BIGINT) AS first_pos,
          CAST(MAX(run_len) AS BIGINT) AS max_run
        FROM per_run GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- token-level sequence packing (concat-and-chunk) ------------------
    // q120 packs at DOC grain (a doc belongs to one shard); this packs at
    // TOKEN grain: per language, docs are concatenated in md5(doc_id)
    // order and cut into fixed 512-token training sequences, and the
    // output is the dataloader index — one SEGMENT row per (sequence,
    // doc) pair a document's tokens touch, with the segment's offset and
    // length inside its sequence. Boundary-crossing docs produce one row
    // per sequence crossed; no sequence is short except each stratum's
    // last. Scale notes on [[graft.curation.Curation.packSequences]]:
    // narrow cumsum triples, exact long division, O(docs + sequences)
    // output.
    Q("q160_seq_pack",
      (s, dir) => graft.curation.Curation.packSequences(t(s, dir, "documents")),
      Some(s"""
        WITH d AS (
          SELECT lang, doc_id, len($duckTokens) AS n FROM documents),
        c AS (
          SELECT lang, doc_id, n,
            CAST(SUM(n) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM d WHERE n > 0),
        seg AS (
          SELECT lang, doc_id, n, cum,
            unnest(generate_series((cum - n) // 512, (cum - 1) // 512)) AS seq
          FROM c)
        SELECT lang, CAST(seq AS BIGINT) AS seq, doc_id,
          CAST(GREATEST(0, (cum - n) - seq * 512) AS BIGINT) AS seg_start,
          CAST(LEAST((seq + 1) * 512, cum)
            - GREATEST(seq * 512, cum - n) AS BIGINT) AS seg_len
        FROM seg ORDER BY lang, seq, seg_start"""))
    ,

    // ---- greedy token-budget sampling -------------------------------------
    // "Sample N tokens per source": whole docs are taken in md5(doc_id)
    // order while the running token count stays within a 3000-token
    // budget per source — the mix-sizing step before packing. The prefix
    // rule over a monotone cumsum makes the draw reproducible on any
    // engine or cluster size. Report: per-source totals and kept counts.
    Q("q161_token_budget",
      (s, dir) => graft.curation.Curation.tokenBudgetSample(t(s, dir, "documents")),
      Some(s"""
        WITH d AS (
          SELECT source, doc_id, len($duckTokens) AS n FROM documents),
        c AS (
          SELECT source, doc_id, n,
            SUM(n) OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d)
        SELECT source, COUNT(*) AS docs_total,
          CAST(SUM(n) AS BIGINT) AS tokens_total,
          CAST(SUM(CASE WHEN cum <= 3000 THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_kept,
          CAST(SUM(CASE WHEN cum <= 3000 THEN n ELSE 0 END) AS BIGINT)
            AS tokens_kept
        FROM c GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- per-language quantile-calibrated quality cut ---------------------
    // Each language drops its own bottom 20% under an integer quality
    // score (milli chars-per-token — a row-local verbosity proxy), so no
    // language eats another's budget the way one global threshold would.
    // The threshold is the discrete quantile over the per-(lang, score)
    // HISTOGRAM: the rank window's input is bounded by score cardinality,
    // not corpus size, and the cross-multiplied rank test keeps both
    // engines integer-exact.
    Q("q162_quality_quantile",
      (s, dir) => graft.curation.Curation.quantileCalibratedFilter(
        t(s, dir, "documents"),
        expr("(length(text) * 1000) div size(split(trim(text), '\\\\s+'))")),
      Some(s"""
        WITH sc AS (
          SELECT lang,
            (length(text) * 1000) // len($duckTokens) AS score
          FROM documents),
        hist AS (
          SELECT lang, score, COUNT(*) AS cnt FROM sc GROUP BY 1, 2),
        h AS (
          SELECT lang, score, cnt,
            SUM(cnt) OVER (PARTITION BY lang ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY lang) AS n
          FROM hist),
        thr AS (
          SELECT lang, MIN(score) AS threshold
          FROM h WHERE cum * 5 >= n GROUP BY 1)
        SELECT h.lang, CAST(MAX(n) AS BIGINT) AS docs,
          CAST(MIN(threshold) AS BIGINT) AS threshold,
          CAST(COALESCE(SUM(CASE WHEN score < threshold THEN cnt END), 0)
            AS BIGINT) AS dropped,
          CAST(MAX(n) - COALESCE(SUM(CASE WHEN score < threshold THEN cnt END), 0)
            AS BIGINT) AS kept
        FROM h JOIN thr ON h.lang = thr.lang
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- duplicated-span extraction (overlapping-window dedup) ------------
    // The window-hash formulation of Lee et al. 2022: every overlapping
    // 10-token window is fingerprinted, a window duplicated anywhere in
    // the corpus marks its tokens, and maximal runs of consecutive
    // duplicated windows are the removable spans. q116 counts duplicated
    // non-overlapping chunks; this localizes WHERE duplicated text sits
    // and how long it runs (span tokens = run length + window - 1).
    // One text scan; (id, source, i, h) is all that shuffles.
    Q("q164_dup_spans",
      (s, dir) => graft.curation.Curation.dupSpanReport(t(s, dir, "documents")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, $duckTokens AS w FROM documents),
        wd AS (
          SELECT doc_id, source, i,
            md5(array_to_string(w[i : i + 9], ' ')) AS h
          FROM tok, UNNEST(generate_series(1, len(w) - 9)) AS t(i)),
        cn AS (
          SELECT doc_id, source, i,
            COUNT(*) OVER (PARTITION BY h) AS cnt FROM wd),
        dup AS (
          SELECT doc_id, source, i,
            i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM cn WHERE cnt > 1),
        runs AS (
          SELECT doc_id, source, grp, COUNT(*) AS len FROM dup GROUP BY 1, 2, 3),
        per_doc AS (
          SELECT doc_id, source, MAX(len + 9) AS max_span, SUM(len) AS dupw
          FROM runs GROUP BY 1, 2),
        src AS (SELECT source, COUNT(*) AS docs FROM documents GROUP BY 1)
        SELECT src.source, src.docs,
          CAST(COALESCE(p.dd, 0) AS BIGINT) AS docs_with_dup_span,
          CAST(COALESCE(p.ms, 0) AS BIGINT) AS max_span_tokens,
          CAST(COALESCE(p.dw, 0) AS BIGINT) AS dup_windows
        FROM src LEFT JOIN (
          SELECT source, COUNT(*) AS dd, MAX(max_span) AS ms, SUM(dupw) AS dw
          FROM per_doc GROUP BY 1) p USING (source)
        ORDER BY source"""))
    ,

    // ---- overlapping passage chunking (the RAG chunk table) ---------------
    // 32-token windows every 24 tokens (8-token overlap), each chunk
    // addressed by (doc, chunk_idx, start_token, n_tokens) and
    // content-addressed by md5 — the table an embedding or retrieval
    // stage consumes, with offsets that cite every chunk back into its
    // document. Final partial windows survive only at >= 8 tokens.
    // Row-local end to end; scale notes on
    // [[graft.curation.Curation.passageChunks]].
    Q("q172_passage_chunks",
      (s, dir) => graft.curation.Curation.passageChunks(t(s, dir, "documents")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, $duckTokens AS w FROM documents),
        st AS (
          SELECT doc_id, w, len(w) AS n,
            unnest(generate_series(1, len(w), 24)) AS start
          FROM tok),
        ch AS (
          SELECT doc_id, (start - 1) // 24 AS chunk_idx, start,
            LEAST(32, n - start + 1) AS len, w
          FROM st)
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
          CAST(start AS BIGINT) AS start_token,
          CAST(len AS BIGINT) AS n_tokens,
          md5(array_to_string(w[start : start + len - 1], ' ')) AS chunk_md5
        FROM ch WHERE len >= 8 ORDER BY doc_id, chunk_idx"""))
    ,

    // ---- bigram-surprisal quality scoring (integer-exact self-LM) --------
    // The self-perplexity filter without the floats: each bigram scores
    // floor(log2(C(w1)/C(w1 w2))) bits via length(bin(cu div cb)) - 1 —
    // bit arithmetic instead of log2(), so the score is hash-identical
    // across engines while ranking docs exactly like -log2 P(w2|w1)
    // floored. Model counts aggregate over 60-bit gram hashes (text never
    // shuffles); report per language with a 3-bits/bigram high-surprisal
    // flag. Scale notes on [[graft.curation.Curation.surprisalReport]].
    Q("q168_surprisal",
      (s, dir) => graft.curation.Curation.surprisalReport(t(s, dir, "documents")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, lang, $duckTokens AS w FROM documents),
        bi AS (
          SELECT doc_id, lang,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
            CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
        bc AS (SELECT bh, COUNT(*) AS cb FROM bi GROUP BY 1),
        uc AS (SELECT uh, COUNT(*) AS cu FROM bi GROUP BY 1),
        per_doc AS (
          SELECT doc_id, lang, COUNT(*) AS nb,
            SUM(length(bin(cu // cb)) - 1) AS sb
          FROM bi JOIN bc USING (bh) JOIN uc USING (uh)
          GROUP BY 1, 2),
        lg AS (SELECT lang, COUNT(*) AS docs FROM documents GROUP BY 1)
        SELECT lg.lang, lg.docs,
          CAST(COALESCE(p.tb, 0) AS BIGINT) AS total_bigrams,
          CAST(COALESCE(p.tbits, 0) AS BIGINT) AS total_bits,
          CAST(COALESCE(p.hs, 0) AS BIGINT) AS high_surprisal_docs
        FROM lg LEFT JOIN (
          SELECT lang, SUM(nb) AS tb, SUM(sb) AS tbits,
            SUM(CASE WHEN sb > 3 * nb THEN 1 ELSE 0 END) AS hs
          FROM per_doc GROUP BY 1) p USING (lang)
        ORDER BY lg.lang"""))
    ,

    // ---- the dataset card: one release-ready datasheet per source ---------
    // The summary table a corpus RELEASE ships (the "datasheet for
    // datasets" habit): per source — documents, whitespace tokens,
    // distinct languages, exact-duplicate documents (normalized
    // fingerprint grain, q31's rule: occurrences beyond each
    // fingerprint's first), and benchmark-contaminated documents (exact
    // 8-gram overlap, q103's construction). One scan feeds the
    // doc/token/lang/fingerprint arms; the contamination arm re-reads
    // only to explode grams into a broadcast bench set. Everything
    // integer-exact; every column is an existing oracled metric, here
    // joined into the one table a consumer actually reads.
    Q("q175_dataset_card",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = split(trim(col("text")), "\\s+")
        val base = d.select(col("doc_id"), col("source"), col("lang"),
          size(toks).cast("long").as("n"),
          graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
        val dups = base
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("fp").orderBy("doc_id")))
          .filter(col("rk") > 1)
          .groupBy("source").agg(count(lit(1)).as("dup"))
        val bench = d.filter(col("doc_id") % 50 === 0)
          .select(array_join(
            slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("btext"))
          .select(explode(
            graft.text.TextSketch.wordShingles(col("btext"), 8)).as("gram"))
          .distinct()
        val cont = d.select(col("doc_id"), col("source"),
            explode(graft.text.TextSketch.wordShingles(col("text"), 8)).as("gram"))
          .join(broadcast(bench), Seq("gram"), "left_semi")
          .select("doc_id", "source").distinct()
          .groupBy("source").agg(count(lit(1)).as("cont"))
        base.groupBy("source")
          .agg(count(lit(1)).as("docs"), sum("n").as("tokens"),
            countDistinct("lang").as("langs"))
          .join(dups, Seq("source"), "left")
          .join(cont, Seq("source"), "left")
          .select(col("source"), col("docs"), col("tokens"), col("langs"),
            coalesce(col("dup"), lit(0L)).as("exact_dup_docs"),
            coalesce(col("cont"), lit(0L)).as("contaminated_docs"))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, lang, string_split_regex(trim(text), '\\s+') AS w,
            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents),
        dups AS (
          SELECT source, COUNT(*) AS dup FROM (
            SELECT source,
              ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
            FROM tok) WHERE rk > 1 GROUP BY 1),
        bench AS (
          SELECT w[3:] AS w FROM tok WHERE doc_id % 50 = 0),
        bg AS (SELECT DISTINCT g FROM bench, UNNEST($duck8gram) AS t(g)),
        cont AS (
          SELECT source, COUNT(DISTINCT doc_id) AS cont
          FROM (SELECT doc_id, source, g FROM tok, UNNEST($duck8gram) AS t(g))
          WHERE g IN (SELECT g FROM bg) GROUP BY 1),
        card AS (
          SELECT source, COUNT(*) AS docs,
            CAST(SUM(len(w)) AS BIGINT) AS tokens,
            CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs
          FROM tok GROUP BY 1)
        SELECT c.source, c.docs, c.tokens, c.langs,
          CAST(COALESCE(d.dup, 0) AS BIGINT) AS exact_dup_docs,
          CAST(COALESCE(n.cont, 0) AS BIGINT) AS contaminated_docs
        FROM card c
          LEFT JOIN dups d USING (source) LEFT JOIN cont n USING (source)
        ORDER BY c.source"""))
    ,

    // ---- chunk-grain decontamination: salvage instead of drop -------------
    // The finer tier above doc-level decon (q163/q173): a contaminated
    // 8-gram poisons only the CHUNKS whose token range contains it, so a
    // span-level pass drops those chunks and SALVAGES the rest of the
    // document — the difference between losing a whole book and losing a
    // quoted paragraph. Formulation: benchmark-matched gram POSITIONS per
    // doc (posexplode keeps the token index through the broadcast
    // semi-join), q172's chunk table, and a chunk is contaminated when a
    // matched gram starts inside [start, start + len - 8]. Report per
    // source: chunks, contaminated_chunks, contaminated_docs, and
    // tokens_salvaged — the tokens in CLEAN chunks of contaminated docs,
    // exactly what doc-level dropping would have burned.
    Q("q178_chunk_decon",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = split(trim(col("text")), "\\s+")
        val bench = d.filter(col("doc_id") % 50 === 0)
          .select(array_join(
            slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("btext"))
          .select(explode(
            graft.text.TextSketch.wordShingles(col("btext"), 8)).as("gram"))
          .distinct()
        // read twice (doc and chunk contamination): pinned and filled first
        val gpos = graft.util.Pins.leaf(d.select(col("doc_id"),
            posexplode(graft.text.TextSketch.wordShingles(col("text"), 8))
              .as(Seq("gi", "gram")))
          .join(broadcast(bench), Seq("gram"), "left_semi")
          // g_doc, not doc_id: the chunk side descends from the SAME scan,
          // and a same-name dataset self-join condition degenerates to a
          // trivially-true predicate (cross-doc contamination)
          .select(col("doc_id").as("g_doc"), (col("gi") + 1).cast("long").as("gpos")))
        val contDocs = gpos.select(col("g_doc").as("doc_id")).distinct()
          .withColumn("cont_doc", lit(1L))
        val ch = graft.curation.Curation.passageChunks(d)
          .join(t(s, dir, "documents").select("doc_id", "source"), Seq("doc_id"))
        val contCh = ch.join(gpos,
            col("doc_id") === col("g_doc") &&
              col("gpos") >= col("start_token") &&
              col("gpos") <= col("start_token") + col("n_tokens") - 8,
            "left_semi")
          .select(col("doc_id").as("c_doc"), col("chunk_idx").as("c_idx"))
          .withColumn("cont_ch", lit(1L))
        ch.join(contCh,
            col("doc_id") === col("c_doc") && col("chunk_idx") === col("c_idx"),
            "left")
          .join(contDocs, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("chunks"),
            sum(coalesce(col("cont_ch"), lit(0L))).as("contaminated_chunks"),
            countDistinct(when(col("cont_doc") === 1L, col("doc_id")))
              .as("contaminated_docs"),
            sum(when(col("cont_doc") === 1L && col("cont_ch").isNull,
              col("n_tokens")).otherwise(0L)).as("tokens_salvaged"))
          .orderBy("source")
      },
      Some {
        val gramAt = (0 until 8).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""
        WITH tok AS (
          SELECT doc_id, source, $duckTokens AS w FROM documents),
        bench AS (SELECT w[3:] AS w FROM tok WHERE doc_id % 50 = 0),
        bg AS (SELECT DISTINCT g FROM bench, UNNEST($duck8gram) AS t(g)),
        gp AS (
          SELECT doc_id, CAST(i AS BIGINT) AS gpos
          FROM tok, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
          WHERE ($gramAt) IN (SELECT g FROM bg)),
        cdocs AS (SELECT DISTINCT doc_id FROM gp),
        st AS (
          SELECT doc_id, source, len(w) AS n,
            unnest(generate_series(1, len(w), 24)) AS start
          FROM tok),
        ch AS (
          SELECT doc_id, source, (start - 1) // 24 AS chunk_idx,
            CAST(start AS BIGINT) AS start_token,
            CAST(LEAST(32, n - start + 1) AS BIGINT) AS n_tokens
          FROM st WHERE LEAST(32, n - start + 1) >= 8),
        cch AS (
          SELECT DISTINCT c.doc_id, c.chunk_idx
          FROM ch c JOIN gp g ON g.doc_id = c.doc_id
            AND g.gpos >= c.start_token
            AND g.gpos <= c.start_token + c.n_tokens - 8)
        SELECT c.source, COUNT(*) AS chunks,
          CAST(SUM(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS contaminated_chunks,
          CAST(COUNT(DISTINCT CASE WHEN d.doc_id IS NOT NULL
            THEN c.doc_id END) AS BIGINT) AS contaminated_docs,
          CAST(SUM(CASE WHEN d.doc_id IS NOT NULL AND x.doc_id IS NULL
            THEN c.n_tokens ELSE 0 END) AS BIGINT) AS tokens_salvaged
        FROM ch c
          LEFT JOIN cch x ON x.doc_id = c.doc_id AND x.chunk_idx = c.chunk_idx
          LEFT JOIN cdocs d ON d.doc_id = c.doc_id
        GROUP BY 1 ORDER BY 1"""
      })
    ,

    // ---- vocabulary coverage: sizing the tokenizer vocab ------------------
    // The tokenizer-vocab precursor: top-40 corpus tokens by frequency
    // with each rank's CUMULATIVE share of all token occurrences — the
    // curve a vocab-size decision reads (where coverage flattens, stop).
    // One explode + one count aggregate; the rank window runs over the
    // top-40 rows only (TakeOrderedAndProject prunes first), and the
    // share is one exact-integer division crossed to double once.
    Q("q176_vocab_coverage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents")
        val counts = d.select(
            explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum("cnt").as("total"))
        val top = counts.orderBy(desc("cnt"), col("tok")).limit(40)
        val w = Window.orderBy(desc("cnt"), col("tok"))
          .rowsBetween(Window.unboundedPreceding, 0)
        top.withColumn("rank", row_number().over(
            Window.orderBy(desc("cnt"), col("tok"))).cast("long"))
          .withColumn("cum", sum("cnt").over(w))
          .crossJoin(broadcast(total))
          .select(col("rank"), col("tok"), col("cnt"),
            (col("cum").cast("double") / col("total")).as("coverage"))
          .orderBy("rank")
      },
      Some(s"""
        WITH tok AS (
          SELECT unnest($duckTokens) AS tok FROM documents),
        counts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
        top AS (
          SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 40),
        ranked AS (
          SELECT tok, cnt,
            CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank,
            CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM top)
        SELECT rank, tok, cnt, CAST(cum AS DOUBLE) / total AS coverage
        FROM ranked, total ORDER BY rank"""))
    ,

    // ---- snapshot diff: what changed between two corpus releases ----------
    // The release-delta op: the NEW snapshot is derived from the current
    // corpus deterministically (every 7th doc removed; every remaining
    // 5th doc edited by dropping its first token; every 11th doc also
    // re-issued under a new id — the 'added' arm), and the diff is taken
    // at (doc_id, fingerprint) grain: added / removed / changed /
    // unchanged counts per source. Full-outer join of two narrow
    // (id, source, fp) frames — text reduces to fingerprints in each
    // snapshot's scan stage, so the diff exchanges 32-char hashes however
    // large the corpora.
    Q("q177_snapshot_diff",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val fp = graft.text.TextFunctions.fingerprint(col("text"))
        val ref = d.select(col("doc_id"), col("source"), fp.as("fp_ref"))
        val toks = split(trim(col("text")), "\\s+")
        val edited = d.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text2",
            when(col("doc_id") % 5 === 0,
              array_join(slice(toks, lit(2),
                greatest(size(toks) - 1, lit(0))), " "))
              .otherwise(col("text")))
        val nw = edited
          .select(col("doc_id"), col("source"),
            graft.text.TextFunctions.fingerprint(col("text2")).as("fp_new"))
          .unionByName(edited.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
              graft.text.TextFunctions.fingerprint(col("text2")).as("fp_new")))
        ref.join(nw, Seq("doc_id", "source"), "full_outer")
          .select(col("source"),
            when(col("fp_ref").isNull, "added")
              .when(col("fp_new").isNull, "removed")
              .when(col("fp_ref") =!= col("fp_new"), "changed")
              .otherwise("unchanged").as("verdict"))
          .groupBy("source", "verdict")
          .agg(count(lit(1)).as("docs"))
          .orderBy("source", "verdict")
      },
      Some(s"""
        WITH ref AS (
          SELECT doc_id, source,
            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_ref
          FROM documents),
        edited AS (
          SELECT doc_id, source,
            CASE WHEN doc_id % 5 = 0 THEN
              array_to_string((string_split_regex(trim(text), '\\s+'))[2:], ' ')
            ELSE text END AS text2
          FROM documents WHERE doc_id % 7 <> 0),
        nw AS (
          SELECT doc_id, source,
            md5(regexp_replace(lower(trim(text2)), '\\s+', ' ', 'g')) AS fp_new
          FROM edited
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, source,
            md5(regexp_replace(lower(trim(text2)), '\\s+', ' ', 'g')) AS fp_new
          FROM edited WHERE doc_id % 11 = 0)
        SELECT COALESCE(r.source, n.source) AS source,
          CASE WHEN r.fp_ref IS NULL THEN 'added'
               WHEN n.fp_new IS NULL THEN 'removed'
               WHEN r.fp_ref <> n.fp_new THEN 'changed'
               ELSE 'unchanged' END AS verdict,
          COUNT(*) AS docs
        FROM ref r FULL JOIN nw n
          ON r.doc_id = n.doc_id AND r.source = n.source
        GROUP BY 1, 2 ORDER BY 1, 2"""))
    ,

    // ---- the whole curation pipeline, ONE declarative plan ----------------
    // The end-to-end composition a pipeline user actually runs: quality
    // cascade (q117's rules) -> keep-first exact dedup at normalized
    // fingerprint grain (q31's rule) -> per-language token budget (q161's
    // prefix rule, 4000 tokens) -> 256-token sequence packing (q160).
    // The report is the per-language survival ledger: docs at each stage,
    // then sequences produced and tokens packed. Text leaves the plan in
    // the SCAN stage: one narrow per-doc feature projection (id, lang,
    // token count, fingerprint) plus the funnel's token explode; every
    // later stage — dedup window, budget cumsum, packing, all the stage
    // counts — runs over those narrow frames, so NO exchange anywhere in
    // the chained plan carries a text column (plan-asserted), at any
    // broadcast-vs-shuffle join decision. The stages chain as ONE lazy
    // Catalyst plan — nothing materializes between them — with the
    // r10 caveat that the budget and packing cumsums each run one
    // bounded pass-1 job first (cumsumByStratum's per-(bucket, stratum)
    // partials: rows bounded by configuration, never by corpus), the
    // price of no stratum ever funneling through a single task.
    Q("q166_curation_e2e",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents")
        // the only text consumers: this projection + the funnel explode
        val narrow = d.select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n"),
          graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
        val k1 = narrow.join(
          graft.curation.Curation.funnelSurvivors(d).select("doc_id"),
          Seq("doc_id"), "left_semi")
        // keep-first exact dedup over (id, fp) pairs
        val keep2 = k1.select(col("doc_id"), col("fp"))
          .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
          .filter(col("doc_id") === col("keep_id")).select("doc_id")
        // persist the NARROW post-dedup frame (ids, lang, counts — no
        // text): the two cumsum stages below each run a bounded pass-1
        // job, and without this cache every pass-1 would replay the
        // whole funnel + dedup upstream (3x the corpus scan at scale).
        // Released by the harness's per-query clearCache, same contract
        // as q171's candidate frame.
        val k2 = k1.join(keep2, Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // per-language token budget over (id, lang, n) triples — the
        // distributed two-pass cumsum, not a per-stratum window (whose
        // one-task-per-language shape is the exact straggler this
        // pipeline's own packing stage was rebuilt to avoid)
        val k3 = graft.curation.Curation.cumsumByStratum(
            k2.select(col("doc_id"), col("lang"), col("n")),
            "lang", "doc_id", "n")
          .filter(col("cum") <= 4000)
        val packed = graft.curation.Curation.packSegments(
          k3.select("lang", "doc_id", "n"), seqTokens = 256)
        val seqStats = packed.groupBy("lang").agg(
          countDistinct("seq").as("sequences"),
          sum("seg_len").as("packed_tokens"))
        d.groupBy("lang").agg(count(lit(1)).as("docs_total"))
          .join(k1.groupBy("lang").agg(count(lit(1)).as("after_funnel")),
            Seq("lang"), "left")
          .join(k2.groupBy("lang").agg(count(lit(1)).as("after_dedup")),
            Seq("lang"), "left")
          .join(k3.groupBy("lang").agg(count(lit(1)).as("after_budget")),
            Seq("lang"), "left")
          .join(seqStats, Seq("lang"), "left")
          .select(col("lang"), col("docs_total"),
            coalesce(col("after_funnel"), lit(0L)).as("after_funnel"),
            coalesce(col("after_dedup"), lit(0L)).as("after_dedup"),
            coalesce(col("after_budget"), lit(0L)).as("after_budget"),
            coalesce(col("sequences"), lit(0L)).as("sequences"),
            coalesce(col("packed_tokens"), lit(0L)).as("packed_tokens"))
          .orderBy("lang")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
        tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        feats AS (
          SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS vocab, MAX(cnt) AS max_single,
            SUM(CASE WHEN tok IN ('the','a','of','and','in','to','is')
                THEN cnt ELSE 0 END) AS stop_cnt
          FROM tc GROUP BY 1),
        k1 AS (
          SELECT d.doc_id, d.lang, d.text
          FROM documents d JOIN feats f USING (doc_id)
          WHERE NOT (f.n < 15) AND NOT (f.n > 95)
            AND NOT (f.max_single * 5 > f.n)
            AND NOT (f.vocab * 5 < f.n * 2)
            AND NOT (f.stop_cnt * 50 < f.n)),
        k2 AS (
          SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
              MIN(doc_id) OVER (PARTITION BY
                md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS keep_id
            FROM k1) WHERE doc_id = keep_id),
        n3 AS (
          SELECT doc_id, lang, len($duckTokens) AS n FROM k2
          ),
        c3 AS (
          SELECT doc_id, lang, n,
            CAST(SUM(n) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM n3),
        k3 AS (SELECT doc_id, lang, n, cum FROM c3 WHERE cum <= 4000),
        seqs AS (
          SELECT lang, MAX((cum - 1) // 256) + 1 AS sequences,
            CAST(SUM(n) AS BIGINT) AS packed_tokens
          FROM k3 GROUP BY 1),
        c0 AS (SELECT lang, COUNT(*) AS docs_total FROM documents GROUP BY 1),
        cc1 AS (SELECT lang, COUNT(*) AS after_funnel FROM k1 GROUP BY 1),
        cc2 AS (SELECT lang, COUNT(*) AS after_dedup FROM k2 GROUP BY 1),
        cc3 AS (SELECT lang, COUNT(*) AS after_budget FROM k3 GROUP BY 1)
        SELECT c0.lang, c0.docs_total,
          CAST(COALESCE(after_funnel, 0) AS BIGINT) AS after_funnel,
          CAST(COALESCE(after_dedup, 0) AS BIGINT) AS after_dedup,
          CAST(COALESCE(after_budget, 0) AS BIGINT) AS after_budget,
          CAST(COALESCE(sequences, 0) AS BIGINT) AS sequences,
          CAST(COALESCE(packed_tokens, 0) AS BIGINT) AS packed_tokens
        FROM c0
          LEFT JOIN cc1 USING (lang) LEFT JOIN cc2 USING (lang)
          LEFT JOIN cc3 USING (lang) LEFT JOIN seqs USING (lang)
        ORDER BY c0.lang"""))
    ,

    // ---- dup-span REMOVAL: acting on q164's report ------------------------
    // q164 locates duplicated spans; this REMOVES them (Lee et al.'s
    // actual dedup step) over the perturbed corpus (base ∪ near-dups ∪
    // exact copies — the same derivation as the near-dup queries, so
    // there are real cross-doc spans to cut). A token drops when ANY
    // corpus-duplicated 10-token window covers it — the union of covered
    // ranges IS the span set, no island merge needed at removal grain.
    // Per-doc output (n_tokens, n_kept, md5 of the rewritten text): the
    // oracle recomputes window multiplicity, coverage, and the rewritten
    // string, so one wrongly-kept token flips that doc's hash.
    Q("q186_dup_span_removal",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "text")
        val toks = split(trim(col("text")), "\\s+")
        val nearDups = d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            array_join(slice(toks, lit(3),
              greatest(size(toks) - 2, lit(0))), " ").as("text"))
        val copies = d.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        val corpus = d.unionByName(nearDups).unionByName(copies)
        graft.curation.Curation.removeDupSpans(corpus)
          .select("doc_id", "n_tokens", "n_kept", "clean_md5")
          .orderBy("doc_id")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
            array_to_string(string_split_regex(trim(text), '\s+')[3:], ' ') AS text
          FROM documents WHERE doc_id % 25 = 0
          UNION ALL
          SELECT doc_id + 2000000 AS doc_id, text
          FROM documents WHERE doc_id % 40 = 0),
        tok AS MATERIALIZED (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
        winds AS (
          SELECT doc_id, i - 1 AS i,
            md5(array_to_string(w[i:i+9], ' ')) AS h
          FROM tok, UNNEST(generate_series(1, len(w) - 9)) AS t(i)),
        dups AS MATERIALIZED (
          SELECT doc_id, i FROM (
            SELECT doc_id, i, COUNT(*) OVER (PARTITION BY h) AS cnt
            FROM winds)
          WHERE cnt > 1),
        toksl AS (
          SELECT doc_id, p - 1 AS p, w[p] AS tk
          FROM tok, UNNEST(generate_series(1, len(w))) AS t(p)),
        cov AS (
          SELECT DISTINCT d.doc_id, c.p
          FROM dups d, UNNEST(generate_series(d.i, d.i + 9)) AS c(p)),
        keptl AS (
          SELECT t.doc_id, t.p, t.tk
          FROM toksl t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
          WHERE c.p IS NULL),
        clean AS (
          SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS ct,
            COUNT(*) AS n_after
          FROM keptl GROUP BY 1)
        SELECT t0.doc_id, CAST(len(t0.w) AS BIGINT) AS n_tokens,
          CAST(COALESCE(c.n_after, 0) AS BIGINT) AS n_kept,
          md5(COALESCE(c.ct, '')) AS clean_md5
        FROM tok t0 LEFT JOIN clean c USING (doc_id)
        ORDER BY t0.doc_id"""))
    ,

    // ---- CROSS-corpus surprisal: the CCNet-style reference-LM filter ------
    // q168 scores the corpus under a model trained on ITSELF; the
    // production filter trains on a curated REFERENCE (here the even
    // doc_ids) and scores the rest against it — "unlike the good data"
    // rather than "internally unusual". Integer-exact bits as in q168
    // (bit-length arithmetic, no transcendentals); bigrams unseen in the
    // reference pay a flat 20-bit OOV penalty (the deterministic backoff
    // surrogate — Katz/KN backoff is float-bound and engine-divergent,
    // a fixed penalty ranks identically for filtering). Per-source
    // report over the target half with OOV accounting. Scale notes on
    // [[graft.curation.Curation.crossSurprisalReport]].
    Q("q187_cross_surprisal",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.curation.Curation.crossSurprisalReport(
          d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0))
      },
      Some(s"""
        WITH $crossSurprisalCtes,
        tg AS (SELECT source, COUNT(*) AS docs FROM documents
               WHERE doc_id % 2 = 1 GROUP BY 1)
        SELECT tg.source, tg.docs,
          CAST(COALESCE(p.tb, 0) AS BIGINT) AS total_bigrams,
          CAST(COALESCE(p.tbits, 0) AS BIGINT) AS total_bits,
          CAST(COALESCE(p.tov, 0) AS BIGINT) AS oov_bigrams,
          CAST(COALESCE(p.hs, 0) AS BIGINT) AS high_surprisal_docs
        FROM tg LEFT JOIN (
          SELECT source, SUM(nb) AS tb, SUM(sb) AS tbits, SUM(ov) AS tov,
            SUM(CASE WHEN sb > 4 * nb THEN 1 ELSE 0 END) AS hs
          FROM per_doc GROUP BY 1) p USING (source)
        ORDER BY tg.source"""))
    ,

    // ---- the CCNet head/middle/tail split ---------------------------------
    // Acting on q187's scores the way CCNet does: per source, target docs
    // partition into surprisal TERCILES under the reference model — head
    // (closest to the reference: keep), middle, tail (drop/down-weight).
    // Per-doc score = milli-bits per bigram (integer division, no float
    // perplexity); thresholds are discrete quantiles over the
    // per-(source, score) HISTOGRAM (q162's machinery — the rank window
    // sees score cardinality, never corpus size), cross-multiplied
    // (cum*3 >= n) so both engines agree exactly. Bigram-less docs are
    // reported unscored, excluded from terciles (the CCNet convention).
    Q("q188_surprisal_terciles",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.curation.Curation.surprisalTerciles(
          d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0))
      },
      Some(s"""
        WITH $crossSurprisalCtes,
        scored AS (
          SELECT doc_id, source, (sb * 1000) // nb AS score FROM per_doc),
        hist AS (
          SELECT source, score, COUNT(*) AS cnt FROM scored GROUP BY 1, 2),
        hh AS (
          SELECT source, score, cnt,
            SUM(cnt) OVER (PARTITION BY source ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY source) AS n
          FROM hist),
        thr AS (
          SELECT source,
            MIN(CASE WHEN cum * 3 >= n THEN score END) AS t1,
            MIN(CASE WHEN cum * 3 >= 2 * n THEN score END) AS t2
          FROM hh GROUP BY 1),
        bk AS (
          SELECT s.source, COUNT(*) AS scored_docs,
            MAX(t.t1) AS t1, MAX(t.t2) AS t2,
            SUM(CASE WHEN s.score <= t.t1 THEN 1 ELSE 0 END) AS head_docs,
            SUM(CASE WHEN s.score > t.t1 AND s.score <= t.t2
                THEN 1 ELSE 0 END) AS middle_docs,
            SUM(CASE WHEN s.score > t.t2 THEN 1 ELSE 0 END) AS tail_docs
          FROM scored s JOIN thr t USING (source) GROUP BY 1),
        tg AS (SELECT source, COUNT(*) AS docs FROM documents
               WHERE doc_id % 2 = 1 GROUP BY 1)
        SELECT tg.source,
          CAST(COALESCE(bk.scored_docs, 0) AS BIGINT) AS scored_docs,
          CAST(tg.docs - COALESCE(bk.scored_docs, 0) AS BIGINT) AS unscored_docs,
          CAST(COALESCE(bk.t1, 0) AS BIGINT) AS t1_millibits,
          CAST(COALESCE(bk.t2, 0) AS BIGINT) AS t2_millibits,
          CAST(COALESCE(bk.head_docs, 0) AS BIGINT) AS head_docs,
          CAST(COALESCE(bk.middle_docs, 0) AS BIGINT) AS middle_docs,
          CAST(COALESCE(bk.tail_docs, 0) AS BIGINT) AS tail_docs
        FROM tg LEFT JOIN bk USING (source)
        ORDER BY tg.source"""))
    ,

    // ---- the FULL Lee/CCNet curation chain, ONE composed plan -------------
    // q166's funnel pipeline upgraded to the published recipe, chaining
    // every report→action closure end to end: Lee et al. dup-span
    // REMOVAL over the whole corpus (q186's action — tokens under any
    // corpus-duplicated 10-token window cut, text rewritten) → quality
    // funnel on the CLEANED text (q117's rules) → Bloom-prefiltered
    // exact decontamination at doc grain on the cleaned text (q163's
    // verdict, the survivors action) → CCNet surprisal terciles vs the
    // cleaned even-id reference, keeping HEAD+MIDDLE (q188's action;
    // thresholds computed over the decon SURVIVOR population, the
    // pipeline-order semantics) → per-language 4000-token budget (q161)
    // → 256-token packing (q160). Per-language ledger: target docs,
    // target tokens, tokens surviving span removal, then the doc funnel
    // through each stage, then sequences and packed tokens.
    //
    // 100 TB discipline, same contract as q166 (plan-asserted): the
    // cleaned corpus is persisted ONCE (the test-scale stand-in for the
    // corpus checkpoint a production run would land on storage between
    // the dedup and model stages — CCNet materializes exactly there);
    // every stage after it computes features/grams/scores ROW-LOCALLY
    // from that cache and exchanges only ids, hashes and counts — the
    // stage algebra is id semi/anti-joins on narrow frames, so no
    // exchange in the composed plan carries a text column, and every
    // window runs at (bucket, stratum) or histogram grain.
    Q("q191_ccnet_pipeline",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // the cleaned corpus, then the stage id-sets, each computed
        // scan-side off the cached corpus. Every id frame feeds TWO
        // consumers (the next stage's semi-join AND its ledger count),
        // and each is the result of a full gram/feature pass over the
        // cached text — pin the narrow ids (the q166 discipline; bytes
        // are trivial, the saved recompute is the pass itself). Each pin
        // is filled here and read as a plan leaf, so no later plan nests
        // the stages below it. Released by the harness's per-query
        // clearCache.
        import graft.util.Pins.{leaf => pin}
        val cleaned = pin(graft.curation.Curation.removeDupSpans(d)
          .join(d.select("doc_id", "lang"), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_kept"),
            col("clean_text").as("text")))
        val ref = cleaned.filter(col("doc_id") % 2 === 0)
        val tgt = cleaned.filter(col("doc_id") % 2 === 1)
        val funnelIds = pin(graft.curation.Curation.funnelSurvivors(tgt)
          .select("doc_id"))
        val toks0 = split(trim(col("text")), "\\s+")
        val bench = d.filter(col("doc_id") % 50 === 0)
          .select(array_join(
            slice(toks0, lit(3), greatest(size(toks0) - 2, lit(0))), " ").as("btext"))
        val deconIds = pin(graft.curation.Curation.bloomDecontaminateSurvivors(
            tgt.select("doc_id", "text"), bench, benchTextCol = "btext")
          .select("doc_id"))
        val surv12 = funnelIds.join(deconIds, Seq("doc_id"), "left_semi")
        // tercile thresholds over the SURVIVOR population (stage order
        // matters: the kept head+middle is relative to what remains)
        val scores12 = pin(graft.curation.Curation
          .crossSurprisalScores(tgt, ref, strataCol = "lang")
          .join(surv12, Seq("doc_id"), "left_semi"))
        val keepIds = pin(graft.curation.Curation.tercileKeepIds(scores12, "lang"))
        val counted = tgt.select(col("lang"), col("doc_id"),
            col("n_kept").as("n"))
          .join(keepIds, Seq("doc_id"), "left_semi")
          .filter(col("n") > 0)
        val k4 = pin(graft.curation.Curation.cumsumByStratum(
            counted, "lang", "doc_id", "n")
          .filter(col("cum") <= 4000))
        val packed = graft.curation.Curation.packSegments(
          k4.select("lang", "doc_id", "n"), seqTokens = 256)
        val seqStats = packed.groupBy("lang").agg(
          countDistinct("seq").as("sequences"),
          sum("seg_len").as("packed_tokens"))
        def stageCount(ids: org.apache.spark.sql.DataFrame, as: String) =
          tgt.join(ids, Seq("doc_id"), "left_semi")
            .groupBy("lang").agg(count(lit(1)).as(as))
        d.filter(col("doc_id") % 2 === 1).groupBy("lang")
          .agg(count(lit(1)).as("docs_total"),
            sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("tokens_total"))
          .join(tgt.groupBy("lang").agg(sum("n_kept").as("tokens_after_clean")),
            Seq("lang"), "left")
          .join(stageCount(funnelIds, "after_funnel"), Seq("lang"), "left")
          .join(stageCount(surv12, "after_decon"), Seq("lang"), "left")
          .join(stageCount(keepIds, "after_terciles"), Seq("lang"), "left")
          .join(k4.groupBy("lang").agg(count(lit(1)).as("after_budget")),
            Seq("lang"), "left")
          .join(seqStats, Seq("lang"), "left")
          .select(col("lang"), col("docs_total"), col("tokens_total"),
            coalesce(col("tokens_after_clean"), lit(0L)).as("tokens_after_clean"),
            coalesce(col("after_funnel"), lit(0L)).as("after_funnel"),
            coalesce(col("after_decon"), lit(0L)).as("after_decon"),
            coalesce(col("after_terciles"), lit(0L)).as("after_terciles"),
            coalesce(col("after_budget"), lit(0L)).as("after_budget"),
            coalesce(col("sequences"), lit(0L)).as("sequences"),
            coalesce(col("packed_tokens"), lit(0L)).as("packed_tokens"))
          .orderBy("lang")
      },
      Some(ccnetPipelineOracleSql))
    ,

    // ---- trigram stupid-backoff cross-surprisal ---------------------------
    // q187 at the upgraded model order (Brants et al. 2007): a trigram
    // seen in the reference scores floor(log2(C(ctx)/C(tri))) by
    // bit-length arithmetic; unseen trigrams whose (w2,w3) bigram IS
    // known back off to the bigram level at a fixed 2-bit penalty
    // (alpha = 1/4 as a power of two — "multiply by alpha" IS "add 2
    // bits", so the whole chain stays integer-exact where Katz/KN would
    // be float-bound); only fully-novel continuations pay the flat
    // 20-bit OOV. All four model tables (trigram, context bigram,
    // backoff bigram, middle unigram) count over the SAME reference
    // trigram event space, which is what makes every division >= 1 and
    // the bit arithmetic total. Report adds backoff_trigrams — the
    // fraction served by the backoff level is itself a model-fit signal.
    Q("q190_trigram_surprisal",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.curation.Curation.trigramCrossSurprisalReport(
          d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, $duckTokens AS w FROM documents),
        tri AS (
          SELECT doc_id, source,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS th,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS ch,
            CAST('0x' || substr(md5(w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS bh,
            CAST('0x' || substr(md5(w[i+1]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
        tc AS (SELECT th, COUNT(*) AS ct FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        cc AS (SELECT ch, COUNT(*) AS cctx FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        bc AS (SELECT bh, COUNT(*) AS cbo FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        uc AS (SELECT uh, COUNT(*) AS cuni FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        sc AS (
          SELECT tb.doc_id, tb.source,
            CASE WHEN tc.ct IS NOT NULL THEN length(bin(cc.cctx // tc.ct)) - 1
                 WHEN bc.cbo IS NOT NULL THEN 2 + length(bin(uc.cuni // bc.cbo)) - 1
                 ELSE 20 END AS bits,
            CASE WHEN tc.ct IS NULL AND bc.cbo IS NOT NULL THEN 1 ELSE 0 END AS bo,
            CASE WHEN tc.ct IS NULL AND bc.cbo IS NULL THEN 1 ELSE 0 END AS oov
          FROM (SELECT * FROM tri WHERE doc_id % 2 = 1) tb
          LEFT JOIN tc USING (th) LEFT JOIN cc USING (ch)
          LEFT JOIN bc USING (bh) LEFT JOIN uc USING (uh)),
        per_doc AS (
          SELECT doc_id, source, COUNT(*) AS nt, SUM(bits) AS sb,
            SUM(bo) AS bo, SUM(oov) AS ov
          FROM sc GROUP BY 1, 2),
        tg AS (SELECT source, COUNT(*) AS docs FROM documents
               WHERE doc_id % 2 = 1 GROUP BY 1)
        SELECT tg.source, tg.docs,
          CAST(COALESCE(p.tt, 0) AS BIGINT) AS total_trigrams,
          CAST(COALESCE(p.tbits, 0) AS BIGINT) AS total_bits,
          CAST(COALESCE(p.tbo, 0) AS BIGINT) AS backoff_trigrams,
          CAST(COALESCE(p.tov, 0) AS BIGINT) AS oov_trigrams,
          CAST(COALESCE(p.hs, 0) AS BIGINT) AS high_surprisal_docs
        FROM tg LEFT JOIN (
          SELECT source, SUM(nt) AS tt, SUM(sb) AS tbits, SUM(bo) AS tbo,
            SUM(ov) AS tov,
            SUM(CASE WHEN sb > 4 * nt THEN 1 ELSE 0 END) AS hs
          FROM per_doc GROUP BY 1) p USING (source)
        ORDER BY tg.source"""))
    ,

    // ---- deterministic importance DOWNSAMPLING ----------------------------
    // The down-WEIGHT alternative to q188's keep/drop: head keeps
    // everything, middle keeps 1/2, tail keeps 1/4 — exact dyadic rates
    // decided by each doc's own content address (top hash bits zero),
    // so the draw is RNG-free, reproducible across engines/runs/retries,
    // and the oracle replays every individual coin. The report shows
    // totals and kept counts per bucket per source.
    Q("q199_importance_downsample",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scores = graft.curation.Curation.crossSurprisalScores(
          d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0))
        graft.curation.Curation.tercileDownsample(scores, "source")
          .groupBy("source")
          .agg(count(lit(1)).as("scored_docs"),
            sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("head_docs"),
            sum(when(col("bucket") === "head" && col("kept"), 1L)
              .otherwise(0L)).as("head_kept"),
            sum(when(col("bucket") === "middle", 1L).otherwise(0L)).as("middle_docs"),
            sum(when(col("bucket") === "middle" && col("kept"), 1L)
              .otherwise(0L)).as("middle_kept"),
            sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("tail_docs"),
            sum(when(col("bucket") === "tail" && col("kept"), 1L)
              .otherwise(0L)).as("tail_kept"))
          .orderBy("source")
      },
      Some(s"""
        WITH $crossSurprisalCtes,
        scored AS (
          SELECT doc_id, source, (sb * 1000) // nb AS score FROM per_doc),
        hist AS (
          SELECT source, score, COUNT(*) AS cnt FROM scored GROUP BY 1, 2),
        hh AS (
          SELECT source, score, cnt,
            SUM(cnt) OVER (PARTITION BY source ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY source) AS n
          FROM hist),
        thr AS (
          SELECT source,
            MIN(CASE WHEN cum * 3 >= n THEN score END) AS t1,
            MIN(CASE WHEN cum * 3 >= 2 * n THEN score END) AS t2
          FROM hh GROUP BY 1),
        ds AS (
          SELECT s.doc_id, s.source,
            CASE WHEN s.score <= t.t1 THEN 'head'
                 WHEN s.score <= t.t2 THEN 'middle' ELSE 'tail' END AS bucket,
            (CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
              >> (60 - CASE WHEN s.score <= t.t1 THEN 0
                            WHEN s.score <= t.t2 THEN 1 ELSE 2 END)) = 0 AS kept
          FROM scored s JOIN thr t USING (source))
        SELECT source, COUNT(*) AS scored_docs,
          CAST(SUM(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS head_docs,
          CAST(SUM(CASE WHEN bucket = 'head' AND kept THEN 1 ELSE 0 END) AS BIGINT) AS head_kept,
          CAST(SUM(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS middle_docs,
          CAST(SUM(CASE WHEN bucket = 'middle' AND kept THEN 1 ELSE 0 END) AS BIGINT) AS middle_kept,
          CAST(SUM(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS tail_docs,
          CAST(SUM(CASE WHEN bucket = 'tail' AND kept THEN 1 ELSE 0 END) AS BIGINT) AS tail_kept
        FROM ds GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- the CCNet split at trigram order ---------------------------------
    // q188's head/middle/tail cut re-run under q190's trigram
    // stupid-backoff scores: same discrete-quantile machinery over the
    // per-(source, score) histogram, score = milli-bits per TRIGRAM. A
    // doc now needs >= 3 tokens to be scored, so unscored_docs can only
    // grow vs q188; the spec proves the split genuinely MOVES where
    // two-word context is the signal bigrams cannot see.
    Q("q195_trigram_terciles",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.curation.Curation.trigramSurprisalTerciles(
          d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, $duckTokens AS w FROM documents),
        tri AS (
          SELECT doc_id, source,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS th,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS ch,
            CAST('0x' || substr(md5(w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS bh,
            CAST('0x' || substr(md5(w[i+1]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
        tc AS (SELECT th, COUNT(*) AS ct FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        cc AS (SELECT ch, COUNT(*) AS cctx FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        bc AS (SELECT bh, COUNT(*) AS cbo FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        uc AS (SELECT uh, COUNT(*) AS cuni FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        sc AS (
          SELECT tb.doc_id, tb.source,
            CASE WHEN tc.ct IS NOT NULL THEN length(bin(cc.cctx // tc.ct)) - 1
                 WHEN bc.cbo IS NOT NULL THEN 2 + length(bin(uc.cuni // bc.cbo)) - 1
                 ELSE 20 END AS bits
          FROM (SELECT * FROM tri WHERE doc_id % 2 = 1) tb
          LEFT JOIN tc USING (th) LEFT JOIN cc USING (ch)
          LEFT JOIN bc USING (bh) LEFT JOIN uc USING (uh)),
        per_doc AS (
          SELECT doc_id, source, COUNT(*) AS nt, SUM(bits) AS sb
          FROM sc GROUP BY 1, 2),
        scored AS (
          SELECT doc_id, source, (sb * 1000) // nt AS score FROM per_doc),
        hist AS (
          SELECT source, score, COUNT(*) AS cnt FROM scored GROUP BY 1, 2),
        hh AS (
          SELECT source, score, cnt,
            SUM(cnt) OVER (PARTITION BY source ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY source) AS n
          FROM hist),
        thr AS (
          SELECT source,
            MIN(CASE WHEN cum * 3 >= n THEN score END) AS t1,
            MIN(CASE WHEN cum * 3 >= 2 * n THEN score END) AS t2
          FROM hh GROUP BY 1),
        bk AS (
          SELECT s.source, COUNT(*) AS scored_docs,
            MAX(t.t1) AS t1, MAX(t.t2) AS t2,
            SUM(CASE WHEN s.score <= t.t1 THEN 1 ELSE 0 END) AS head_docs,
            SUM(CASE WHEN s.score > t.t1 AND s.score <= t.t2
                THEN 1 ELSE 0 END) AS middle_docs,
            SUM(CASE WHEN s.score > t.t2 THEN 1 ELSE 0 END) AS tail_docs
          FROM scored s JOIN thr t USING (source) GROUP BY 1),
        tg AS (SELECT source, COUNT(*) AS docs FROM documents
               WHERE doc_id % 2 = 1 GROUP BY 1)
        SELECT tg.source,
          CAST(COALESCE(bk.scored_docs, 0) AS BIGINT) AS scored_docs,
          CAST(tg.docs - COALESCE(bk.scored_docs, 0) AS BIGINT) AS unscored_docs,
          CAST(COALESCE(bk.t1, 0) AS BIGINT) AS t1_millibits,
          CAST(COALESCE(bk.t2, 0) AS BIGINT) AS t2_millibits,
          CAST(COALESCE(bk.head_docs, 0) AS BIGINT) AS head_docs,
          CAST(COALESCE(bk.middle_docs, 0) AS BIGINT) AS middle_docs,
          CAST(COALESCE(bk.tail_docs, 0) AS BIGINT) AS tail_docs
        FROM tg LEFT JOIN bk USING (source)
        ORDER BY tg.source"""))
    ,

    // ---- dual-reference LM quality classifier ------------------------------
    // The likelihood-ratio form of the CCNet/GPT-3 quality filter: score
    // each target doc under a GOOD-reference bigram model (curated seed =
    // even-id English docs) and a BAD-reference model (rejected pool =
    // even-id non-English docs); predict good when the good model spends
    // no more bits. True label is the doc's lang, so the per-lang report
    // IS the confusion matrix: pred_good_docs ~ scored_docs on the 'en'
    // row and ~ 0 elsewhere measures the classifier. Integer-exact bits
    // (q187's discipline) — the margin replays to the bit in DuckDB.
    Q("q201_quality_classifier",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val even = d.filter(col("doc_id") % 2 === 0)
        graft.curation.Curation.dualSurprisalClassifier(
          d.filter(col("doc_id") % 2 === 1),
          even.filter(col("lang") === "en"),
          even.filter(col("lang") =!= "en"),
          strataCol = "lang")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, lang, $duckTokens AS w FROM documents),
        gbi AS (
          SELECT CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
                 CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE doc_id % 2 = 0 AND lang = 'en'),
        bbi AS (
          SELECT CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
                 CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE doc_id % 2 = 0 AND lang <> 'en'),
        gb AS (SELECT bh, COUNT(*) AS gcb FROM gbi GROUP BY 1),
        gu AS (SELECT uh, COUNT(*) AS gcu FROM gbi GROUP BY 1),
        bb AS (SELECT bh, COUNT(*) AS bcb FROM bbi GROUP BY 1),
        bu AS (SELECT uh, COUNT(*) AS bcu FROM bbi GROUP BY 1),
        tbi AS (
          SELECT doc_id, lang,
            CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT) AS bh,
            CAST('0x' || substr(md5(w[i]), 1, 15) AS BIGINT) AS uh
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE doc_id % 2 = 1),
        sc AS (
          SELECT tb.doc_id, tb.lang,
            CASE WHEN gb.gcb IS NULL THEN 20
                 ELSE length(bin(gu.gcu // gb.gcb)) - 1 END AS gbits,
            CASE WHEN bb.bcb IS NULL THEN 20
                 ELSE length(bin(bu.bcu // bb.bcb)) - 1 END AS bbits
          FROM tbi tb
          LEFT JOIN gb ON gb.bh = tb.bh
          LEFT JOIN gu ON gu.uh = tb.uh
          LEFT JOIN bb ON bb.bh = tb.bh
          LEFT JOIN bu ON bu.uh = tb.uh),
        per_doc AS (
          SELECT doc_id, lang, SUM(gbits) AS sg, SUM(bbits) AS sbad
          FROM sc GROUP BY 1, 2),
        rep AS (
          SELECT lang, COUNT(*) AS sd,
            SUM(CASE WHEN sg <= sbad THEN 1 ELSE 0 END) AS pg,
            SUM(sbad - sg) AS mb
          FROM per_doc GROUP BY 1),
        tg AS (SELECT lang, COUNT(*) AS docs FROM documents
               WHERE doc_id % 2 = 1 GROUP BY 1)
        SELECT tg.lang, tg.docs,
          CAST(COALESCE(rep.sd, 0) AS BIGINT) AS scored_docs,
          CAST(COALESCE(rep.pg, 0) AS BIGINT) AS pred_good_docs,
          CAST(COALESCE(rep.mb, 0) AS BIGINT) AS margin_bits
        FROM tg LEFT JOIN rep USING (lang)
        ORDER BY tg.lang"""))
    ,

    // ---- keep-first segment dedup with reassembly ---------------------------
    // The keep-ONE-copy counterpart of q186's drop-all dup-span removal
    // (RefinedWeb/MassiveText practice): 10-token aligned segments,
    // corpus-wide keeper = minimal (doc_id, seg) occurrence, every doc
    // rebuilt from its surviving segments. The oracle replays the keeper
    // election with the encoded doc_id*100000+seg min (identical ordering
    // to Spark's (id, seg) struct-min for non-negative ids and seg <
    // 100000) and reassembles via ordered string_agg — md5-compared per
    // doc, so a single token surviving or dropping wrongly fails the row.
    Q("q207_keepfirst_segment_dedup",
      (s, dir) => graft.curation.Curation
        .dedupSegmentsKeepFirst(t(s, dir, "documents"), segmentTokens = 10)
        .orderBy("doc_id"),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, $duckTokens AS w FROM documents),
        seg AS (
          SELECT doc_id, i AS seg,
            array_to_string(w[(i*10+1):(i*10+10)], ' ') AS s
          FROM tok, UNNEST(generate_series(0,
            CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS t(i)),
        hs AS (SELECT doc_id, seg, s, md5(s) AS h FROM seg),
        kp AS (SELECT h, MIN(doc_id * 100000 + seg) AS kk FROM hs GROUP BY 1),
        fl AS (
          SELECT hs.doc_id, hs.seg, hs.s,
            (hs.doc_id * 100000 + hs.seg = kp.kk) AS kept
          FROM hs JOIN kp USING (h)),
        agg AS (
          SELECT doc_id,
            COUNT(*) AS n_segments,
            SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
            md5(COALESCE(string_agg(CASE WHEN kept THEN s END, ' '
              ORDER BY seg), '')) AS clean_md5
          FROM fl GROUP BY 1)
        SELECT doc_id, CAST(n_segments AS BIGINT) AS n_segments,
          CAST(n_kept AS BIGINT) AS n_kept, clean_md5
        FROM agg ORDER BY doc_id"""))
    ,

    // ---- right-to-be-forgotten in the packed corpus -------------------------
    // The training-data half of q208's compliance story: pack the corpus,
    // forget every doc_id ≡ 3 (mod 10), and serve the post-forget
    // manifest through the gated loader (so the verification join runs in
    // the timed region too). Forget removes the docs' SEGMENTS without
    // repacking — sequences keep their surviving segments — so the oracle
    // replays q160's full-corpus packing, drops the forgotten docs'
    // segments, and aggregates per stratum.
    Q("q209_packed_corpus_forget",
      (s, dir) => {
        val base = graft.io.Scratch.dir("graft_packed_forget")
        val d = t(s, dir, "documents")
        graft.curation.Curation.writePackedCorpus(d, base)
        graft.curation.Curation.forgetFromPackedCorpus(s, base,
          d.filter(col("doc_id") % 10 === 3).select("doc_id"))
        val (manifest, _) = graft.curation.Curation.readPackedCorpus(s, base)
        manifest.orderBy("lang")
      },
      Some(s"""
        WITH d AS (
          SELECT lang, doc_id, len($duckTokens) AS n FROM documents),
        c AS (
          SELECT lang, doc_id, n,
            CAST(SUM(n) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM d WHERE n > 0),
        seg AS (
          SELECT lang, doc_id, cum, n,
            unnest(generate_series((cum - n) // 512, (cum - 1) // 512)) AS seq
          FROM c),
        segs AS (
          SELECT lang, seq, doc_id,
            LEAST((seq + 1) * 512, cum)
              - GREATEST(seq * 512, cum - n) AS seg_len
          FROM seg
          WHERE doc_id % 10 <> 3)
        SELECT lang, CAST(COUNT(DISTINCT seq) AS BIGINT) AS sequences,
          COUNT(*) AS segments, CAST(SUM(seg_len) AS BIGINT) AS tokens
        FROM segs GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- PERSISTED inverted index: build once, query by bucket pruning -----
    // q118 recomputes tf/df/stats per call; this is the serving split
    // (graft.text.InvertedIndex): build materializes term-bucketed
    // posting lists with df denormalized (immutable snapshot — the
    // Lucene segment model), query prunes to the terms' buckets (ids
    // computed driver-side from the same md5 math — no job) and reruns
    // bm25's exact arithmetic join-free. Bit-identical to the inline
    // form, so q118's oracle checks the round-tripped index; the spec
    // asserts the partition pruning and that no text column exists
    // anywhere in the layout.
    Q("q214_inverted_index_query",
      (s, dir) => {
        // session-scoped shared index (the ANN ensureIndex discipline):
        // this row measures SEARCH; the build is `text_index_build`'s row
        val path = ensureTextIndex(s, dir)
        graft.text.InvertedIndex.query(s, path, Seq("spark", "window", "hash"))
      },
      Some(s"""
        WITH tk AS (
          SELECT doc_id, len($duckTokens) AS dl,
            unnest(list_filter($duckTokens,
              t -> t IN ('spark', 'window', 'hash'))) AS term
          FROM documents),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        stats AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(len($duckTokens)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM documents),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT doc_id,
            CAST(((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
              AS DECIMAL(24,10)) AS c
          FROM tf JOIN df USING (term), stats)
        SELECT doc_id, COUNT(*) AS matched_terms, CAST(SUM(c) AS DOUBLE) AS score
        FROM contrib GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15"""))
    ,

    // ---- inverted-index SEGMENT MERGE ---------------------------------------
    // Incremental ingest for the immutable snapshot (the Lucene segment
    // model): the corpus halves are indexed as independent segments, the
    // merge adds per-term dfs and the integer (n, total_tokens) stats —
    // exact by construction for disjoint doc sets — and the merged
    // index must answer bit-identically to a full build, which is what
    // the full-corpus bm25 oracle checks here. TIMED-REGION ATTRIBUTION:
    // this row DELIBERATELY keeps its two segment builds + merge inside
    // the timed region — incremental ingest cost IS the operator; the
    // closing query is the cheap correctness probe. (q214/q217/q251
    // search a shared session index instead; see `text_index_build`.)
    Q("q215_inverted_index_merge",
      (s, dir) => {
        val base = graft.io.Scratch.dir("graft_inv_merge")
        val d = t(s, dir, "documents")
        graft.text.InvertedIndex.build(s,
          d.filter(col("doc_id") % 2 === 0), s"$base/a")
        graft.text.InvertedIndex.build(s,
          d.filter(col("doc_id") % 2 === 1), s"$base/b")
        graft.text.InvertedIndex.merge(s, s"$base/a", s"$base/b", s"$base/m")
        graft.text.InvertedIndex.query(s, s"$base/m",
          Seq("spark", "window", "hash"))
      },
      Some(s"""
        WITH tk AS (
          SELECT doc_id, len($duckTokens) AS dl,
            unnest(list_filter($duckTokens,
              t -> t IN ('spark', 'window', 'hash'))) AS term
          FROM documents),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        stats AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(len($duckTokens)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM documents),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT doc_id,
            CAST(((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
              AS DECIMAL(24,10)) AS c
          FROM tf JOIN df USING (term), stats)
        SELECT doc_id, COUNT(*) AS matched_terms, CAST(SUM(c) AS DOUBLE) AS score
        FROM contrib GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15"""))
    ,

    // ---- inverted-index FORGET: tombstones + exact compaction --------------
    // The third artifact of the right-to-be-forgotten story (q208 ANN
    // index, q209 packed corpus): tombstone every doc_id ≡ 3 (mod 10)
    // — queries hide them immediately via a broadcast anti-join while
    // df/stats stay stale (the Lucene trade) — then COMPACT: postings
    // dropped, df recounted over survivors, integer stats decremented
    // from the deleted docs' own posting rows (the source corpus is
    // never consulted), tombstones cleared, swapped through the
    // staged rename-rename. The oracle is a clean bm25 over the corpus
    // MINUS the forget set: compaction must equal the from-scratch
    // build bit-for-bit. TIMED-REGION ATTRIBUTION: the initial build +
    // delete + compact stay in the timed region on purpose — the
    // forget/compact lifecycle is the operator under test, and it needs
    // a private index it is allowed to mutate (never the shared one).
    Q("q216_inverted_index_forget",
      (s, dir) => {
        val base = graft.io.Scratch.dir("graft_inv_forget")
        val d = t(s, dir, "documents")
        graft.text.InvertedIndex.build(s, d, s"$base/idx")
        graft.text.InvertedIndex.delete(s, s"$base/idx",
          d.filter(col("doc_id") % 10 === 3).select("doc_id"))
        graft.text.InvertedIndex.compact(s, s"$base/idx")
        graft.text.InvertedIndex.query(s, s"$base/idx",
          Seq("spark", "window", "hash"))
      },
      Some(s"""
        WITH live AS (
          SELECT * FROM documents WHERE doc_id % 10 <> 3),
        tk AS (
          SELECT doc_id, len($duckTokens) AS dl,
            unnest(list_filter($duckTokens,
              t -> t IN ('spark', 'window', 'hash'))) AS term
          FROM live),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        stats AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(len($duckTokens)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM live),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT doc_id,
            CAST(((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
              AS DECIMAL(24,10)) AS c
          FROM tf JOIN df USING (term), stats)
        SELECT doc_id, COUNT(*) AS matched_terms, CAST(SUM(c) AS DOUBLE) AS score
        FROM contrib GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15"""))
    ,

    // ---- exact PHRASE search over positional postings -----------------------
    // The positions column earns its bytes: a doc matches "big table"
    // only at consecutive token offsets. Slots join on doc_id (the
    // candidate set after the first join is docs containing ALL terms),
    // the occurrence count is a row-local HOF over the first slot's
    // positions, and bucket pruning is the same as ranked queries'. The
    // oracle walks every adjacent token pair in DuckDB.
    Q("q217_phrase_search",
      (s, dir) => {
        // shared session index — this row measures pure phrase search
        val path = ensureTextIndex(s, dir)
        graft.text.InvertedIndex.phraseQuery(s, path, Seq("big", "table"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, $duckTokens AS w FROM documents),
        hits AS (
          SELECT doc_id, COUNT(*) AS hits
          FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE w[i] = 'big' AND w[i+1] = 'table'
          GROUP BY 1)
        SELECT doc_id, CAST(hits AS BIGINT) AS hits
        FROM hits WHERE hits > 0
        ORDER BY hits DESC, doc_id LIMIT 20"""))
    ,

    // ---- SQL surface, wave 2: SCD2 through spark.sql alone ------------------
    // q193 proves the TVF mechanism on the curation trio; this drives the
    // warehouse tier's headline operator — the same fromChangeLog logical
    // plan q203 oracles, reached with zero Scala. Same oracle, so the SQL
    // route is held to the identical hash gate.
    Q("q218_sql_scd2",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("graft_q218_orders")
        s.sql("""
          SELECT * FROM graft_scd2('graft_q218_orders', 'o_custkey',
            'o_orderdate', 'o_orderstatus,o_orderpriority', 'o_orderkey')
          ORDER BY o_custkey, version""")
      },
      Some("""
        WITH obs AS (
          SELECT o_custkey, o_orderdate, o_orderstatus, o_orderpriority,
            o_orderkey,
            lag(o_orderstatus) OVER w AS ps,
            lag(o_orderpriority) OVER w AS pp,
            row_number() OVER w AS rn
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        chg AS (
          SELECT * FROM obs
          WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM ps
             OR o_orderpriority IS DISTINCT FROM pp),
        v AS (
          SELECT o_custkey, o_orderstatus, o_orderpriority,
            o_orderdate AS valid_from,
            lead(o_orderdate) OVER w2 AS valid_to,
            CAST(row_number() OVER w2 AS INT) AS version
          FROM chg
          WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        SELECT o_custkey, o_orderstatus, o_orderpriority, valid_from, valid_to,
          (valid_to IS NULL) AS is_current, version
        FROM v ORDER BY o_custkey, version""")),

    // ---- best-fit-decreasing bin packing (Fewer Truncations, Ding 2024) ---
    // Documents pack WHOLE into capacity-128 bins, BFD order, inside 4
    // independent md5 buckets (the distributed approximation — bins never
    // span buckets). The oracle replays the greedy EXACTLY with a recursive
    // CTE that carries each bucket's bin-residual list through the
    // (n DESC, id ASC) item sequence — so the full per-doc bin ASSIGNMENT
    // is hash-verified, not just bin counts. Chain-packing (q120/q160)
    // splits documents across sequence boundaries; this is the
    // no-truncation alternative, trading a little fill for intact docs.
    Q("q229_bfd_pack",
      (s, dir) => graft.curation.Curation
        .packBinsBfd(t(s, dir, "documents"), capacity = 128L, buckets = 4)
        .orderBy("bucket", "bin", "doc_id"),
      Some(s"""
        WITH RECURSIVE base AS (
          SELECT CAST('0x' || substr(md5('bfd#' || CAST(doc_id AS VARCHAR)), 1, 2)
                   AS INTEGER) % 4 AS bucket,
                 doc_id, CAST(len($duckTokens) AS BIGINT) AS n
          FROM documents),
        d AS (
          SELECT bucket, doc_id, n,
            ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n DESC, doc_id) AS rk
          FROM base WHERE n > 0 AND n <= 128),
        steps AS (
          SELECT bucket, CAST(0 AS BIGINT) AS rk, CAST([] AS BIGINT[]) AS resid,
                 CAST([] AS BIGINT[]) AS bins, CAST([] AS BIGINT[]) AS ids
          FROM (SELECT DISTINCT bucket FROM d)
          UNION ALL
          SELECT s.bucket, d.rk,
            CASE WHEN list_min(list_filter(s.resid, r -> r >= d.n)) IS NULL
                 THEN list_append(s.resid, 128 - d.n)
                 ELSE list_transform(generate_series(1, len(s.resid)),
                   i -> CASE WHEN i = list_position(s.resid,
                          list_min(list_filter(s.resid, r -> r >= d.n)))
                        THEN s.resid[i] - d.n ELSE s.resid[i] END)
            END AS resid,
            list_append(s.bins,
              CASE WHEN list_min(list_filter(s.resid, r -> r >= d.n)) IS NULL
                   THEN len(s.resid) + 1
                   ELSE CAST(list_position(s.resid,
                     list_min(list_filter(s.resid, r -> r >= d.n))) AS BIGINT)
              END) AS bins,
            list_append(s.ids, d.doc_id) AS ids
          FROM steps s JOIN d ON d.bucket = s.bucket AND d.rk = s.rk + 1)
        SELECT s.bucket, unnest(s.ids) AS doc_id, unnest(s.bins) AS bin
        FROM steps s
        JOIN (SELECT bucket, MAX(rk) AS mr FROM steps GROUP BY 1) m
          ON s.bucket = m.bucket AND s.rk = m.mr
        ORDER BY 1, 3, 2""")),

    // ---- systematic PPS sampling (Madow): k=20 per lang, weight = chars ----
    // Exact probability-proportional-to-size draw with zero randomness
    // state: items lie on the cumulative-weight line in md5(id) order and
    // k midpoint grid points select them — inclusion probability exactly
    // k·w/Σw, multiplicity reported as `hits`. Pure integer grid counting
    // ((2k·x + T−1) div 2T), so both engines agree bit-for-bit.
    Q("q234_pps_sample",
      (s, dir) => graft.curation.Curation.systematicPpsSample(
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars").as("w")),
        k = 20, strataCol = "lang", idCol = "doc_id", wCol = "w")
        .orderBy("lang", "doc_id"),
      Some("""
        WITH d AS (
          SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w
          FROM documents WHERE n_chars > 0),
        c AS (
          SELECT lang, doc_id, w,
            SUM(w) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d),
        tt AS (SELECT lang, CAST(SUM(w) AS HUGEINT) AS tot FROM d GROUP BY 1),
        h AS (
          SELECT c.lang, c.doc_id, c.w,
            (2 * 20 * c.cum + tt.tot - 1) // (2 * tt.tot)
              - (2 * 20 * (c.cum - c.w) + tt.tot - 1) // (2 * tt.tot) AS hits
          FROM c JOIN tt ON c.lang = tt.lang)
        SELECT lang, doc_id, w, CAST(hits AS BIGINT) AS hits
        FROM h WHERE hits > 0 ORDER BY lang, doc_id""")),

    // ---- the new operators through spark.sql ONLY (q193's discipline) -----
    // graft_pps_sample is a registered table-valued function, so the SQL
    // route shares ONE code path (and therefore q234's oracle) with the
    // Scala entry point — same plan, same hash, zero duplication.
    Q("q236_sql_pps_sample",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars").as("w"))
          .createOrReplaceTempView("graft_q236_counted")
        s.sql("""SELECT * FROM graft_pps_sample('graft_q236_counted', 20)
                 ORDER BY lang, doc_id""")
      },
      Some("""
        WITH d AS (
          SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w
          FROM documents WHERE n_chars > 0),
        c AS (
          SELECT lang, doc_id, w,
            SUM(w) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d),
        tt AS (SELECT lang, CAST(SUM(w) AS HUGEINT) AS tot FROM d GROUP BY 1),
        h AS (
          SELECT c.lang, c.doc_id, c.w,
            (2 * 20 * c.cum + tt.tot - 1) // (2 * tt.tot)
              - (2 * 20 * (c.cum - c.w) + tt.tot - 1) // (2 * tt.tot) AS hits
          FROM c JOIN tt ON c.lang = tt.lang)
        SELECT lang, doc_id, w, CAST(hits AS BIGINT) AS hits
        FROM h WHERE hits > 0 ORDER BY lang, doc_id""")),

    // ---- text search through spark.sql ONLY (q193's discipline) -----------
    // graft_text_search is a registered table-valued function building
    // the EXACT InvertedIndex.query plan (bucket-pruned postings scan,
    // tombstone anti-join, bm25's order-independent decimal reduction),
    // so the SQL route shares one code path — and therefore q214's
    // full-corpus bm25 oracle — with the Scala entry point. Together
    // with q250 this makes both persisted serving artifacts reachable
    // without a line of Scala.
    Q("q251_sql_text_search",
      (s, dir) => {
        // shared session index — the SQL route searches the same
        // artifact the Scala route does; this row measures pure search
        val path = ensureTextIndex(s, dir)
        s.sql(s"""SELECT * FROM graft_text_search('$path', 'spark window hash', 15)
                  ORDER BY score DESC, doc_id""")
      },
      Some(s"""
        WITH tk AS (
          SELECT doc_id, len($duckTokens) AS dl,
            unnest(list_filter($duckTokens,
              t -> t IN ('spark', 'window', 'hash'))) AS term
          FROM documents),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        stats AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(len($duckTokens)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM documents),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT doc_id,
            CAST(((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
              AS DECIMAL(24,10)) AS c
          FROM tf JOIN df USING (term), stats)
        SELECT doc_id, COUNT(*) AS matched_terms, CAST(SUM(c) AS DOUBLE) AS score
        FROM contrib GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15""")),

    // ---- DoReMi-style domain reweighting (one exact MW round) -------------
    // Sources whose mean cross-surprisal exceeds the corpus mean are
    // under-modeled → their mixture weight doubles per stepMilli bucket of
    // excess (exact powers of two — no exp(), no libm), normalized to ppm
    // by floor division. The whole update is integer arithmetic over the
    // q187 score frame, so the oracle replays it to the bit.
    Q("q237_domain_reweight",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.curation.Curation.domainReweight(
          graft.curation.Curation.crossSurprisalScores(
            d.filter(col("doc_id") % 2 === 1),
            d.filter(col("doc_id") % 2 === 0)),
          strataCol = "source", stepMilli = 256, maxExp = 8)
          .orderBy("source")
      },
      Some(s"""
        WITH $crossSurprisalCtes,
        scored AS (
          SELECT doc_id, source, (sb * 1000) // nb AS score FROM per_doc),
        per AS (
          SELECT source, CAST(COUNT(*) AS HUGEINT) AS docs,
            CAST(SUM(score) AS HUGEINT) AS ssum
          FROM scored GROUP BY 1),
        tot AS (SELECT SUM(docs) AS tdocs, SUM(ssum) AS tsum FROM per),
        ex AS (
          SELECT source, docs, ssum // docs AS mean_milli,
            (ssum // docs) - (tot.tsum // tot.tdocs) AS excess_milli
          FROM per, tot),
        e2 AS (
          SELECT source, docs, mean_milli, excess_milli,
            GREATEST(-8, LEAST(8,
              ((excess_milli + 256 * 1048576) // 256) - 1048576)) AS exp2
          FROM ex),
        w AS (
          SELECT source, docs, mean_milli, excess_milli, exp2,
            CAST((CAST(1 AS BIGINT) << CAST(exp2 + 8 AS INTEGER)) AS HUGEINT)
              AS weight
          FROM e2),
        wt AS (SELECT SUM(weight) AS wsum FROM w)
        SELECT source, CAST(docs AS BIGINT) AS docs,
          CAST(mean_milli AS BIGINT) AS mean_milli,
          CAST(excess_milli AS BIGINT) AS excess_milli,
          CAST(exp2 AS BIGINT) AS exp2,
          CAST((1000000 * weight) // wt.wsum AS BIGINT) AS weight_ppm
        FROM w, wt ORDER BY source""")),

    // ---- mixture REALIZATION: act on q237's weights ------------------------
    // The report→action closure: each reweighted domain gets budget
    // floor(total·ppm/10^6) tokens and fills it with whole documents in
    // md5(id) order under the prefix rule (cum ≤ budget). End to end ONE
    // integer pipeline — surprisal scores → MW weights → budgets → the
    // cumsum draw — so the oracle replays the entire chain to the bit.
    Q("q239_mixture_realization",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val weights = graft.curation.Curation.domainReweight(
          graft.curation.Curation.crossSurprisalScores(
            d.filter(col("doc_id") % 2 === 1),
            d.filter(col("doc_id") % 2 === 0)),
          strataCol = "source", stepMilli = 256, maxExp = 8)
        graft.curation.Curation.realizeMixture(d, weights,
          totalTokens = 20000L).orderBy("source")
      },
      Some(s"""
        WITH $crossSurprisalCtes,
        scored AS (
          SELECT doc_id, source, (sb * 1000) // nb AS score FROM per_doc),
        per AS (
          SELECT source, CAST(COUNT(*) AS HUGEINT) AS docs,
            CAST(SUM(score) AS HUGEINT) AS ssum
          FROM scored GROUP BY 1),
        tot AS (SELECT SUM(docs) AS tdocs, SUM(ssum) AS tsum FROM per),
        ex AS (
          SELECT source, (ssum // docs) - (tot.tsum // tot.tdocs)
            AS excess_milli
          FROM per, tot),
        e2 AS (
          SELECT source, GREATEST(-8, LEAST(8,
              ((excess_milli + 256 * 1048576) // 256) - 1048576)) AS exp2
          FROM ex),
        w AS (
          SELECT source,
            CAST((CAST(1 AS BIGINT) << CAST(exp2 + 8 AS INTEGER)) AS HUGEINT)
              AS weight
          FROM e2),
        wt AS (SELECT SUM(weight) AS wsum FROM w),
        ppm AS (
          SELECT source,
            CAST((1000000 * weight) // wt.wsum AS BIGINT) AS weight_ppm
          FROM w, wt),
        budgets AS (
          SELECT source, weight_ppm,
            (20000 * weight_ppm) // 1000000 AS budget_tokens
          FROM ppm),
        counted AS (
          SELECT source, doc_id, CAST(len($duckTokens) AS BIGINT) AS n
          FROM documents),
        cum AS (
          SELECT source, doc_id, n,
            SUM(n) OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM counted WHERE n > 0)
        SELECT c.source, ANY_VALUE(b.weight_ppm) AS weight_ppm,
          CAST(ANY_VALUE(b.budget_tokens) AS BIGINT) AS budget_tokens,
          COUNT(*) AS docs_total,
          CAST(SUM(c.n) AS BIGINT) AS tokens_total,
          CAST(SUM(CASE WHEN c.cum <= b.budget_tokens THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
          CAST(SUM(CASE WHEN c.cum <= b.budget_tokens THEN c.n ELSE 0 END)
            AS BIGINT) AS tokens_kept
        FROM cum c JOIN budgets b ON c.source = b.source
        GROUP BY 1 ORDER BY 1""")),

    // ---- EXACT-proportion stratified split ---------------------------------
    // q30b's md5-Bernoulli split has binomial size jitter; this is the
    // exact-count form: per stratum, docs rank in content-addressed
    // md5(id) order (the distributed rankByStratum — no per-stratum
    // window) and the first floor(0.8n) are train, the next floor(0.9n)−
    // floor(0.8n) val, the rest test — cross-multiplied integer rank
    // tests, so split sizes are EXACT per stratum and the assignment is
    // reproducible across engines, runs and partitionings.
    Q("q246_exact_split",
      (s, dir) => {
        val ranked = graft.curation.Curation.rankByStratum(
          t(s, dir, "documents").select("lang", "doc_id"), "lang")
        val n = ranked.groupBy("lang").agg(count(lit(1)).as("n"))
        ranked.join(broadcast(n), "lang")
          .withColumn("split",
            when(col("rk") * 10 <= col("n") * 8, "train")
              .when(col("rk") * 10 <= col("n") * 9, "val")
              .otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("docs"), min("doc_id").as("first_id"))
          .orderBy("lang", "split")
      },
      Some("""
        WITH r AS (
          SELECT lang, doc_id,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
            COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents)
        SELECT lang,
          CASE WHEN rk * 10 <= n * 8 THEN 'train'
               WHEN rk * 10 <= n * 9 THEN 'val'
               ELSE 'test' END AS split,
          COUNT(*) AS docs, MIN(doc_id) AS first_id
        FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- streaming mixture-conformance MONITOR (batch replay) -------------
    // The DoReMi chain's third leg: report (q237) → action (q239) →
    // MONITOR. Per-domain cumulative token totals live in keyed stream
    // state (one long per domain); conformance compares each snapshot's
    // integer floor-share against the target ppm and alerts past a
    // tolerance. This row replays the SAME flatMapGroupsWithState body in
    // batch mode (q212's one-function discipline — the live two-batch
    // accumulation is spec-verified); all arithmetic is integer, so the
    // replay is hash-exact.
    Q("q245_mixture_monitor",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val weights = graft.curation.Curation.domainReweight(
          graft.curation.Curation.crossSurprisalScores(
            d.filter(col("doc_id") % 2 === 1),
            d.filter(col("doc_id") % 2 === 0)),
          strataCol = "source", stepMilli = 256, maxExp = 8)
        val totals = graft.streaming.MixtureMonitor.tokenTotals(
          d.select(col("source"),
            size(graft.text.TextFunctions.tokens(col("text")))
              .cast("long").as("n")))
        graft.streaming.MixtureMonitor.conformance(totals, weights,
          tolPpm = 20000L).orderBy("source")
      },
      Some(s"""
        WITH $crossSurprisalCtes,
        scored AS (
          SELECT doc_id, source, (sb * 1000) // nb AS score FROM per_doc),
        per AS (
          SELECT source, CAST(COUNT(*) AS HUGEINT) AS docs,
            CAST(SUM(score) AS HUGEINT) AS ssum
          FROM scored GROUP BY 1),
        tot AS (SELECT SUM(docs) AS tdocs, SUM(ssum) AS tsum FROM per),
        ex AS (
          SELECT source, (ssum // docs) - (tot.tsum // tot.tdocs)
            AS excess_milli
          FROM per, tot),
        e2 AS (
          SELECT source, GREATEST(-8, LEAST(8,
              ((excess_milli + 256 * 1048576) // 256) - 1048576)) AS exp2
          FROM ex),
        w AS (
          SELECT source,
            CAST((CAST(1 AS BIGINT) << CAST(exp2 + 8 AS INTEGER)) AS HUGEINT)
              AS weight
          FROM e2),
        wt AS (SELECT SUM(weight) AS wsum FROM w),
        ppm AS (
          SELECT source,
            CAST((1000000 * weight) // wt.wsum AS BIGINT) AS target_ppm
          FROM w, wt),
        totals AS (
          SELECT source,
            CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS HUGEINT)
              AS tokens_cum
          FROM documents GROUP BY 1),
        snap AS (SELECT SUM(tokens_cum) AS tot FROM totals)
        SELECT t.source, CAST(t.tokens_cum AS BIGINT) AS tokens_cum,
          CAST((1000000 * t.tokens_cum) // GREATEST(snap.tot, 1)
            AS BIGINT) AS realized_ppm,
          p.target_ppm,
          CAST((1000000 * t.tokens_cum) // GREATEST(snap.tot, 1)
            AS BIGINT) - p.target_ppm AS delta_ppm,
          ABS(CAST((1000000 * t.tokens_cum) // GREATEST(snap.tot, 1)
            AS BIGINT) - p.target_ppm) > 20000 AS alert
        FROM totals t JOIN ppm p ON t.source = p.source
        CROSS JOIN snap
        ORDER BY 1"""))
  )

  // stable under the per-JVM Scratch root (see SimilarityQueries
  // .annIndexPath for the residue rationale — same scheme)
  private def textIndexPath(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    graft.io.Scratch.stableDir(s"graft_text_index_$dirTag")
  }

  /** The search rows' SHARED persisted inverted index, built at most once
    * per (testdata dir, session) — the ANN family's `ensureIndex`
    * discipline applied to the text tier. q214/q217/q251 all build the
    * IDENTICAL index (full documents table, default analyzer) and
    * [[graft.text.InvertedIndex.build]] is deterministic (md5 term
    * buckets, integer stats, immutable snapshot), so reuse is
    * result-invisible: each query's rows are exactly what a fresh build
    * would return. The `_built_ok` marker commits only a COMPLETED
    * build; the path lives under the per-JVM Scratch root, so no state
    * survives the run. The bench times one explicit build as its own row
    * (`text_index_build`) — the search rows then measure pure search.
    * q215 (two builds + merge) and q216 (build + forget + compact) keep
    * their builds deliberately: the build IS their story.
    */
  private[graft] def ensureTextIndex(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val path = textIndexPath(s, dir)
    val marker = new java.io.File(s"$path/_built_ok")
    if (!marker.exists()) {
      graft.text.InvertedIndex.build(s, Qx.t(s, dir, "documents"), path)
      marker.createNewFile()
      ()
    }
    path
  }
}
