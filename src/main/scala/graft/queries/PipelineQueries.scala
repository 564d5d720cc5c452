package graft.queries

import org.apache.spark.sql.functions._
import Qx._

/** Training-data curation operators beyond dedup: benchmark
  * decontamination, repetition-based quality filtering (the published
  * Gopher-style rules), PII redaction, and deterministic domain-mix
  * sampling. Each is a first-class oracled query; each plan keeps the
  * corpus un-shuffled (broadcast the small side, aggregate map-side,
  * row-local text work inside the scan stage).
  */
object PipelineQueries {

  /** The 8-gram concat DuckDB mirror of WordShingles(n=8). */
  private val duck8gram: String = {
    val body = (0 until 8).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len(w) < 8 THEN [] ELSE list_transform(generate_series(1, len(w)-7), i -> $body) END"
  }

  /** DuckDB mirror of [[graft.ops.ZOrder.spread16]]: the same magic-number
    * shift/mask ladder as a nested SQL expression.
    */
  private def duckSpread(e: String): String = {
    val s0 = s"(($e) & 65535)"
    val s1 = s"(($s0 | ($s0 << 8)) & 16711935)"
    val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
    val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
    s"(($s3 | ($s3 << 1)) & 1431655765)"
  }

  val all: Seq[Q] = Seq(

    // ---- z-order layout key: Morton interleave as plain column math -------
    // The data-layout dial for multi-column pruning at 100 TB (see
    // ops/ZOrder + the bench skipping demo): here the code itself is
    // oracled — Spark's shift/mask Column ladder vs the identical ladder
    // in DuckDB SQL — plus a bucket profile proving range locality.
    Q("q107_zorder",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.select(
          graft.ops.ZOrder.zvalue(col("o_orderkey") % 4096, col("o_custkey") % 4096).as("z"))
          .groupBy((col("z") / 1048576).cast("long").as("zbucket"))
          .agg(count(lit(1)).as("n"), min("z").as("min_z"), max("z").as("max_z"))
          .orderBy("zbucket")
      },
      Some {
        val zx = duckSpread("o_orderkey % 4096")
        val zy = duckSpread("o_custkey % 4096")
        s"""
        WITH z AS (
          SELECT ($zx | ($zy << 1)) AS z FROM orders)
        SELECT CAST(z // 1048576 AS BIGINT) AS zbucket, COUNT(*) AS n,
          MIN(z) AS min_z, MAX(z) AS max_z
        FROM z GROUP BY 1 ORDER BY 1"""
      }),

    // ---- mergeable partial aggregates: two-level stats re-aggregation -----
    // The 100-TB maintenance pattern: per-ingest-partition summary rows
    // (count / decimal sum / decimal sum-of-squares / min / max) merge
    // into exact finals WITHOUT touching raw data again — the merge
    // algebra is associative because the moments are exact decimals.
    // The oracle computes the same stats in ONE level directly from the
    // raw table: hash-equality proves the re-aggregation is lossless.
    Q("q111_partial_merge",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val q = d12(col("l_quantity"))
        val partials = l
          .groupBy(col("l_returnflag").as("flag"),
            date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
          .agg(count(lit(1)).as("cnt"), sum(q).as("s1"), sum(q * q).as("s2"),
            min("l_quantity").as("mn"), max("l_quantity").as("mx"))
        partials.groupBy("flag")
          .agg(sum("cnt").as("n"),
            dbl(sum("s1")).as("sum_qty"),
            dbl(sum("s2")).as("sum_qty_sq"),
            min("mn").as("min_qty"), max("mx").as("max_qty"),
            count(lit(1)).as("n_partials"))
          .withColumn("mean_qty", col("sum_qty") / col("n"))
          .withColumn("var_qty",
            (col("sum_qty_sq") - col("sum_qty") * col("sum_qty") / col("n")) / col("n"))
          .orderBy("flag")
      },
      Some("""
        WITH direct AS (
          SELECT l_returnflag AS flag, COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
            CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty_sq,
            MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
            COUNT(DISTINCT strftime(l_shipdate, '%Y-%m')) AS n_partials
          FROM lineitem GROUP BY 1)
        SELECT flag, n, sum_qty, sum_qty_sq, min_qty, max_qty, n_partials,
          sum_qty / n AS mean_qty,
          (sum_qty_sq - sum_qty * sum_qty / n) / n AS var_qty
        FROM direct ORDER BY flag""")),

    // ---- benchmark decontamination: 8-gram overlap vs a held-out set ------
    // The "benchmark" is derived from every 50th doc with its first two
    // words dropped (a leaked test set is never byte-identical to its
    // training twin). A corpus doc is contaminated when it shares >= 5
    // distinct 8-grams with a benchmark item. Scale shape: the benchmark
    // gram set is tiny by nature and BROADCAST; corpus grams explode
    // map-side into the broadcast join, so nothing corpus-sized ever
    // shuffles — only matching grams reach the aggregation exchange.
    Q("q103_decontaminate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = split(trim(col("text")), "\\s+")
        val bench = d.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("bench_id"),
            array_join(slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("btext"))
        val benchGrams = bench
          .select(col("bench_id"),
            explode(graft.text.TextSketch.wordShingles(col("btext"), 8)).as("gram"))
          .distinct()
        val corpusGrams = d.select(col("doc_id"),
          explode(graft.text.TextSketch.wordShingles(col("text"), 8)).as("gram"))
        corpusGrams.join(broadcast(benchGrams), Seq("gram"))
          .groupBy("doc_id", "bench_id")
          .agg(countDistinct("gram").as("shared_8grams"))
          .filter(col("shared_8grams") >= 5)
          .orderBy("doc_id", "bench_id")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        bench AS (
          SELECT doc_id AS bench_id, w[3:] AS w FROM tok WHERE doc_id % 50 = 0),
        bg AS (
          SELECT DISTINCT bench_id, g
          FROM bench, UNNEST($duck8gram) AS t(g)),
        cg AS (
          SELECT doc_id, g FROM tok, UNNEST($duck8gram) AS t(g))
        SELECT c.doc_id, b.bench_id, COUNT(DISTINCT c.g) AS shared_8grams
        FROM cg c JOIN bg b ON c.g = b.g
        GROUP BY 1, 2 HAVING COUNT(DISTINCT c.g) >= 5
        ORDER BY 1, 2""")),

    // ---- Bloom-prefiltered exact decontamination (the 100-TB tier) --------
    // q103 broadcasts the EXACT benchmark gram set — right while it fits.
    // This is the tier above: broadcast a fixed 8 KiB Bloom BITSET of the
    // benchmark grams (64 Ki bits, k=4 double-hashed probes over the
    // stack's md5-60-bit gram hash), test every corpus gram ROW-LOCALLY,
    // and run the exact verification join only over bloom-positive
    // survivors. No false negatives, so the verdict is exact; the report
    // prices the prefilter with the measured per-source false-positive
    // count. The oracle replays Bloom membership bit-for-bit from the
    // same md5 probe math. Scale notes on
    // [[graft.curation.Curation.bloomDecontaminate]].
    Q("q163_bloom_decontaminate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = split(trim(col("text")), "\\s+")
        val bench = d.filter(col("doc_id") % 50 === 0)
          .select(array_join(
            slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("btext"))
        graft.curation.Curation.bloomDecontaminate(
          d, bench, benchTextCol = "btext")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        bench AS (SELECT w[3:] AS w FROM tok WHERE doc_id % 50 = 0),
        bg AS (
          SELECT DISTINCT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
          FROM bench, UNNEST($duck8gram) AS t(g)),
        bpos AS (
          SELECT DISTINCT
            ((h & 65535) + i * (((h >> 16) & 65535) | 1)) & 65535 AS pos
          FROM bg, UNNEST([0, 1, 2, 3]) AS t(i)),
        cg AS (
          SELECT DISTINCT doc_id, source,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
          FROM tok, UNNEST($duck8gram) AS t(g)),
        cpos AS (
          SELECT doc_id, h,
            ((h & 65535) + i * (((h >> 16) & 65535) | 1)) & 65535 AS pos
          FROM cg, UNNEST([0, 1, 2, 3]) AS t(i)),
        miss AS (
          SELECT DISTINCT doc_id, h FROM cpos
          WHERE pos NOT IN (SELECT pos FROM bpos)),
        chit AS (
          SELECT c.doc_id, c.source, c.h, (m.h IS NULL) AS bloom_hit
          FROM cg c LEFT JOIN miss m
            ON c.doc_id = m.doc_id AND c.h = m.h),
        perdoc AS (
          SELECT doc_id, source,
            MAX(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS bpos
          FROM chit GROUP BY 1, 2),
        cont AS (
          SELECT DISTINCT c.doc_id FROM chit c JOIN bg USING (h)
          WHERE c.bloom_hit),
        src AS (SELECT source, COUNT(*) AS docs FROM documents GROUP BY 1)
        SELECT src.source, src.docs,
          CAST(COALESCE(p.bp, 0) AS BIGINT) AS bloom_pos_docs,
          CAST(COALESCE(p.cd, 0) AS BIGINT) AS contaminated_docs,
          CAST(COALESCE(p.bp, 0) - COALESCE(p.cd, 0) AS BIGINT) AS bloom_fp_docs
        FROM src LEFT JOIN (
          SELECT pd.source, SUM(pd.bpos) AS bp,
            SUM(CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS cd
          FROM perdoc pd LEFT JOIN cont ct ON pd.doc_id = ct.doc_id
          GROUP BY 1) p USING (source)
        ORDER BY source""")),

    // ---- decontamination EFFECTIVENESS: residual overlap, proven zero -----
    // The check a decontamination run ships with (q153's leaked_pairs
    // discipline applied to q163): after dropping every doc that shares
    // an exact 8-gram with the benchmark, the kept corpus's residual
    // benchmark overlap is zero BY CONSTRUCTION — and this query proves
    // it by measuring, not asserting, alongside the counterfactual
    // (overlap had nothing been removed) that prices what the cleanup
    // prevented. Per source: docs_total, docs_kept, residual_overlap
    // (measured over the kept set; 0 on every row), counterfactual
    // contaminated count. Same broadcast-gram plan as q103: only
    // matching grams reach any exchange.
    Q("q173_decon_effect",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = split(trim(col("text")), "\\s+")
        val benchGrams = d.filter(col("doc_id") % 50 === 0)
          .select(array_join(
            slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " ").as("btext"))
          .select(explode(
            graft.text.TextSketch.wordShingles(col("btext"), 8)).as("gram"))
          .distinct()
        val hits = d.select(col("doc_id"),
            explode(graft.text.TextSketch.wordShingles(col("text"), 8)).as("gram"))
          .join(broadcast(benchGrams), Seq("gram"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("contaminated", lit(1L))
        val flagged = d.select("doc_id", "source")
          .join(hits, Seq("doc_id"), "left")
        val kept = flagged.filter(col("contaminated").isNull)
        // residual overlap RE-MEASURED over the kept set only
        val residual = d.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            explode(graft.text.TextSketch.wordShingles(col("text"), 8)).as("gram"))
          .join(broadcast(benchGrams), Seq("gram"), "left_semi")
          .select("doc_id").distinct()
          .join(d.select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source").agg(count(lit(1)).as("resid"))
        flagged.groupBy("source")
          .agg(count(lit(1)).as("docs_total"),
            sum(when(col("contaminated").isNull, 1L).otherwise(0L)).as("docs_kept"),
            sum(coalesce(col("contaminated"), lit(0L))).as("counterfactual_contaminated"))
          .join(residual, Seq("source"), "left")
          .select(col("source"), col("docs_total"), col("docs_kept"),
            coalesce(col("resid"), lit(0L)).as("residual_overlap"),
            col("counterfactual_contaminated"))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        bench AS (SELECT w[3:] AS w FROM tok WHERE doc_id % 50 = 0),
        bg AS (SELECT DISTINCT g FROM bench, UNNEST($duck8gram) AS t(g)),
        cg AS (SELECT doc_id, g FROM tok, UNNEST($duck8gram) AS t(g)),
        cont AS (
          SELECT DISTINCT doc_id FROM cg WHERE g IN (SELECT g FROM bg)),
        kept AS (
          SELECT t.doc_id, t.source FROM tok t
          LEFT JOIN cont c ON c.doc_id = t.doc_id WHERE c.doc_id IS NULL),
        resid AS (
          SELECT k.source, COUNT(DISTINCT c.doc_id) AS r
          FROM cont c JOIN kept k ON k.doc_id = c.doc_id GROUP BY 1)
        SELECT t.source, COUNT(*) AS docs_total,
          CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_kept,
          CAST(COALESCE(MAX(r.r), 0) AS BIGINT) AS residual_overlap,
          CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS counterfactual_contaminated
        FROM tok t
        LEFT JOIN cont c ON c.doc_id = t.doc_id
        LEFT JOIN resid r ON r.source = t.source
        GROUP BY t.source ORDER BY t.source"""))
    ,

    // ---- repetition filter: top-2-gram token fraction (Gopher-style) ------
    // One explode pass: per-(doc, gram) counts, then per-doc max; n_tokens
    // falls out of the same aggregation (sum of gram counts + 1), so the
    // text is scanned exactly once. Both shuffles carry narrow keyed longs.
    Q("q104_repetition_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val grams = d.select(col("doc_id"), col("lang"),
          explode(graft.text.TextSketch.wordShingles(col("text"), 2)).as("g"))
        val per = grams.groupBy("doc_id", "lang", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "lang")
          .agg(max("c").as("m2"), (sum("c") + 1).as("n_tokens"))
          .withColumn("rep2", lit(2.0) * col("m2") / col("n_tokens"))
        per.groupBy("lang")
          .agg(count(lit(1)).as("docs"),
            coalesce(sum(when(col("rep2") > 0.09, 1L)), lit(0L)).as("repetitive_docs"),
            dbl(sum(col("rep2").cast("decimal(14,6)"))).as("sum_rep2_6dp"))
          .orderBy("lang")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents),
        grams AS (
          SELECT doc_id, lang, g FROM tok,
            UNNEST(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS t(g)),
        cnt AS (SELECT doc_id, lang, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3),
        per AS (
          SELECT doc_id, lang, MAX(c) AS m2, SUM(c) + 1 AS n_tokens,
            2.0 * MAX(c) / (SUM(c) + 1) AS rep2
          FROM cnt GROUP BY 1, 2)
        SELECT lang, COUNT(*) AS docs,
          CAST(COALESCE(SUM(CASE WHEN rep2 > CAST(0.09 AS DOUBLE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS repetitive_docs,
          CAST(SUM(CAST(rep2 AS DECIMAL(14,6))) AS DOUBLE) AS sum_rep2_6dp
        FROM per GROUP BY 1 ORDER BY 1""")),

    // ---- PII redaction: pattern scrub + accounting ------------------------
    // Row-local regexp_replace chains inside whole-stage codegen; the only
    // shuffle is the final per-segment aggregate. Patterns kept to the
    // regex intersection both engines compile identically.
    Q("q105_pii_redact",
      (s, dir) => {
        // the testdata customer table carries no contact columns, so
        // phone/account strings are derived deterministically from the key
        // in BOTH engines — every fifth customer unlisted, every third
        // without an account number, so the redaction tallies vary
        val c = t(s, dir, "customer")
        val phone = concat(
          lpad(((col("c_custkey") % 90) + 10).cast("string"), 2, "0"), lit("-"),
          lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((col("c_custkey") * 7) % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((col("c_custkey") * 13) % 10000).cast("string"), 4, "0"))
        val contact = when(col("c_custkey") % 5 === 0, lit("unlisted")).otherwise(phone)
        val acct = when(col("c_custkey") % 3 === 0, lit("no-acct"))
          .otherwise((lit(10000) + col("c_custkey") * 37).cast("string"))
        val text = concat(lit("contact "), contact, lit(" acct "), acct,
          lit(" seg "), col("c_mktsegment"))
        val noPhone = regexp_replace(text, "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]")
        val clean = regexp_replace(noPhone, "[0-9]{5,}", "[NUM]")
        // redaction detection compares STRINGS, not lengths: a redacted
        // 5-digit run is replaced by the 5-char '[NUM]', so a length
        // proxy would silently miss it
        c.select(col("c_mktsegment"), text.as("t"), noPhone.as("np"), clean.as("cl"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("docs"),
            coalesce(sum(when(col("np") =!= col("t"), 1L)), lit(0L)).as("phone_redactions"),
            coalesce(sum(when(col("cl") =!= col("np"), 1L)), lit(0L)).as("numrun_redactions"),
            sum(length(col("t")) - length(col("cl"))).as("chars_delta"))
          .orderBy("c_mktsegment")
      },
      Some("""
        WITH base AS (
          SELECT c_mktsegment,
            'contact ' ||
            CASE WHEN c_custkey % 5 = 0 THEN 'unlisted' ELSE
              lpad(CAST((c_custkey % 90) + 10 AS VARCHAR), 2, '0') || '-' ||
              lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
              lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
              lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0') END ||
            ' acct ' ||
            CASE WHEN c_custkey % 3 = 0 THEN 'no-acct'
              ELSE CAST(10000 + c_custkey * 37 AS VARCHAR) END ||
            ' seg ' || c_mktsegment AS t
          FROM customer),
        r AS (
          SELECT c_mktsegment, t,
            regexp_replace(t, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS np
          FROM base),
        r2 AS (SELECT *, regexp_replace(np, '[0-9]{5,}', '[NUM]', 'g') AS cl FROM r)
        SELECT c_mktsegment, COUNT(*) AS docs,
          CAST(COALESCE(SUM(CASE WHEN np <> t THEN 1 ELSE 0 END), 0) AS BIGINT) AS phone_redactions,
          CAST(COALESCE(SUM(CASE WHEN cl <> np THEN 1 ELSE 0 END), 0) AS BIGINT) AS numrun_redactions,
          CAST(SUM(len(t) - len(cl)) AS BIGINT) AS chars_delta
        FROM r2 GROUP BY 1 ORDER BY 1""")),

    // ---- domain-mix sampling: per-source rates, engine-independent hash ---
    // The reweighting recipe of every large pretraining corpus: each
    // source gets a target per-mille rate and an epoch multiplier; doc
    // selection is a pure function of doc_id (md5 bucket, the q30b trick),
    // so any engine — and any re-run — draws the identical sample.
    Q("q106_domain_mix",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val srcNum = substring(col("source"), 4, 2).cast("int")
        val rate = lit(100) + lit(150) * (srcNum % 4)
        val epochs = lit(1) + (srcNum % 3)
        val bucket = graft.text.TextSketch.md5PrefixLong(
          concat(lit("mix#"), col("doc_id")), 4).cast("int") % 1000
        d.select(col("source"), rate.as("target_permille"), epochs.as("epochs"),
          (bucket < rate).as("keep"))
          .groupBy("source", "target_permille", "epochs")
          .agg(count(lit(1)).as("docs"),
            coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("sampled_docs"))
          .withColumn("weighted_docs", col("sampled_docs") * col("epochs"))
          .orderBy("source")
      },
      Some("""
        WITH m AS (
          SELECT source,
            100 + 150 * (CAST(substr(source, 4, 2) AS INT) % 4) AS target_permille,
            1 + (CAST(substr(source, 4, 2) AS INT) % 3) AS epochs,
            CAST('0x' || substr(md5('mix#' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 1000
              < 100 + 150 * (CAST(substr(source, 4, 2) AS INT) % 4) AS keep
          FROM documents)
        SELECT source, target_permille, epochs, COUNT(*) AS docs,
          CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS sampled_docs,
          CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0) * epochs AS BIGINT) AS weighted_docs
        FROM m GROUP BY 1, 2, 3 ORDER BY 1""")),

    // ---- declarative data-quality expectations -----------------------------
    // The validate-before-publish stage: every row-level rule folds into
    // ONE aggregate pass over the fact table (a (1 + #rules)-long state,
    // independent of rule count and row count), then unpivots to the
    // per-rule report; referential integrity — the one rule needing a
    // second relation — is a left-anti join against the distinct parent
    // keys. Thresholds here are chosen so some rules FAIL on real rows
    // (a validator whose fixtures can't produce violations tests
    // nothing), while price_positive and the RI check prove clean at 0.
    Q("q141_data_quality",
      (s, dir) => {
        import graft.ops.Expectations._
        val l = t(s, dir, "lineitem")
        val rowRules = report(l, Seq(
          Rule("discount_in_band", !col("l_discount").between(0.0, 0.05)),
          Rule("price_positive", col("l_extendedprice") <= 0.0),
          Rule("quantity_in_range", !col("l_quantity").between(1, 30)),
          Rule("shipdate_present", col("l_shipdate").isNull)))
        val riViol = refViolations(l, "l_orderkey", t(s, dir, "orders"), "o_orderkey")
          .agg(count(lit(1)).as("violations"))
        val riRow = l.agg(count(lit(1)).as("n_rows")).crossJoin(riViol)
          .select(lit("orderkey_refs_order").as("rule"), col("n_rows"),
            col("violations"),
            (col("violations").cast("double") / col("n_rows")).as("violation_rate"))
        rowRules.unionByName(riRow).orderBy("rule")
      },
      Some("""
        WITH base AS (
          -- COALESCE(..., TRUE): a NULL rule column counts as a violation,
          -- matching Expectations.report's unknown-is-not-a-pass default
          SELECT COUNT(*) AS n_rows,
            SUM(CASE WHEN COALESCE(NOT (l_discount BETWEEN 0.0 AND 0.05), TRUE)
                THEN 1 ELSE 0 END) AS v0,
            SUM(CASE WHEN COALESCE(l_extendedprice <= 0.0, TRUE)
                THEN 1 ELSE 0 END) AS v1,
            SUM(CASE WHEN COALESCE(NOT (l_quantity BETWEEN 1 AND 30), TRUE)
                THEN 1 ELSE 0 END) AS v2,
            SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v3
          FROM lineitem),
        ri AS (
          -- anti-join, not NOT IN: a NULL child key must count as an
          -- orphan (NOT IN would silently drop it), matching refViolations
          SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
            COUNT(*) AS v
          FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
            ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderkey IS NULL),
        rep AS (
          SELECT 'discount_in_band' AS rule, n_rows, v0 AS violations FROM base
          UNION ALL SELECT 'price_positive', n_rows, v1 FROM base
          UNION ALL SELECT 'quantity_in_range', n_rows, v2 FROM base
          UNION ALL SELECT 'shipdate_present', n_rows, v3 FROM base
          UNION ALL SELECT 'orderkey_refs_order', n_rows, v FROM ri)
        SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
          CAST(violations AS BIGINT) AS violations,
          CAST(violations AS DOUBLE) / n_rows AS violation_rate
        FROM rep ORDER BY rule""")),

    // ---- temperature-flattened source mixing -------------------------------
    // q106 samples at FIXED per-source rates; this is the other half of
    // the pretraining mix recipe: rates DERIVED from measured source
    // sizes, w_s ∝ n_s^alpha with alpha=1/2 (the flattening exponent),
    // so small sources are upsampled (epochs > 1) and large ones
    // downsampled. Exactness: n_s = Σ chars is an exact integer, the
    // alpha power is floor(sqrt(n_s)) (sqrt is correctly rounded in both
    // engines, exact integer result), and weight/epochs are each ONE
    // IEEE division of two exact integers — no accumulation-order float
    // sums anywhere. Per-doc repeat counts are floor(epochs) plus a
    // Bernoulli(frac) draw from an md5 bucket of doc_id (the q30b/q106
    // trick), so any engine draws the identical sample. Scale shape: two
    // column-pruned corpus scans (source+chars, then source+doc_id), a
    // #sources-row aggregate, and broadcast-only joins — the corpus
    // itself never shuffles.
    Q("q143_temperature_mix",
      (s, dir) => {
        val d = t(s, dir, "documents").select("source", "doc_id", "n_chars")
        val bySrc = d.groupBy("source")
          .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
          .withColumn("sq", floor(sqrt(col("chars").cast("double"))))
        val tot = bySrc.agg(sum("chars").as("b"), sum("sq").as("sqsum"))
        val mix = bySrc.crossJoin(broadcast(tot))
          .withColumn("weight",
            col("sq").cast("double") / col("sqsum").cast("double"))
          .withColumn("epochs",
            (col("b") * col("sq")).cast("double") /
              (col("sqsum") * col("chars")).cast("double"))
          .select("source", "docs", "chars", "weight", "epochs")
        val u = graft.text.TextSketch.md5PrefixLong(
          concat(lit("temp#"), col("doc_id")), 12)
          .cast("double") / lit(281474976710656.0) // 2^48
        val sampled = d
          .join(broadcast(mix.select("source", "epochs")), "source")
          .withColumn("reps", floor(col("epochs")) +
            when(u < (col("epochs") - floor(col("epochs"))), 1L).otherwise(0L))
          .groupBy("source").agg(sum("reps").as("sampled_docs"))
        mix.join(sampled, "source").orderBy("source")
      },
      Some("""
        WITH d AS (SELECT source, doc_id, n_chars FROM documents),
        n AS (SELECT source, COUNT(*) AS docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(FLOOR(SQRT(CAST(SUM(n_chars) AS DOUBLE))) AS BIGINT) AS sq
              FROM d GROUP BY 1),
        tot AS (SELECT CAST(SUM(chars) AS BIGINT) AS b,
                       CAST(SUM(sq) AS BIGINT) AS sqsum FROM n),
        mix AS (SELECT source, docs, chars,
                  CAST(sq AS DOUBLE) / CAST(sqsum AS DOUBLE) AS weight,
                  CAST(b * sq AS DOUBLE) / CAST(sqsum * chars AS DOUBLE) AS epochs
                FROM n, tot),
        r AS (SELECT d.source,
                CAST(FLOOR(m.epochs) AS BIGINT) + CASE WHEN
                  CAST(CAST('0x' || substr(md5('temp#' || CAST(d.doc_id AS VARCHAR)), 1, 12)
                       AS BIGINT) AS DOUBLE) / 281474976710656.0
                  < m.epochs - FLOOR(m.epochs) THEN 1 ELSE 0 END AS reps
              FROM d JOIN mix m ON d.source = m.source)
        SELECT m.source, m.docs, m.chars, m.weight, m.epochs, s.sampled_docs
        FROM mix m
        JOIN (SELECT source, CAST(SUM(reps) AS BIGINT) AS sampled_docs
              FROM r GROUP BY 1) s ON m.source = s.source
        ORDER BY m.source""")),

    // ---- distribution-drift report between two corpus snapshots -----------
    // The monitoring op a long-lived ingest pipeline runs on every refresh:
    // per-feature fixed-edge histograms of a reference snapshot vs the new
    // arrivals, with per-bin L1 and chi-square drift terms (a dashboard
    // sums l1_term/2 for total variation, chi2_term for the signal). Bins
    // have FIXED edges (no data-dependent quantiles), so the report is
    // deterministic and incremental — per-bin counts from two snapshots
    // merge by addition at any scale. The drift terms stay log-free BY
    // DESIGN (q118's BM25 discipline): each is one or two IEEE ops over
    // integer-derived doubles, so Spark and DuckDB produce bit-identical
    // doubles — PSI's ln() would hash-diverge across libm implementations
    // while ranking snapshots identically. No chi2 zero-guard needed: a
    // bin only exists because some row landed in it, so share_ref +
    // share_new > 0 on every output row.
    //
    // 100 TB shape: one narrow 2-rows-per-doc explode, one (feature, bin)
    // aggregate with ~40 groups of constant state, totals broadcast back.
    // The text column never shuffles; the payload of the exchange is two
    // longs per row.
    Q("q159_drift_report",
      (s, dir) => {
        val longf = t(s, dir, "documents").select(
            when(col("doc_id") % 2 === 0, "ref").otherwise("new").as("snap"),
            explode(graft.ops.Drift.binStructs(col("text"))).as("fb"))
          .select(col("snap"), col("fb.feature"), col("fb.bin"))
        val counts = longf.groupBy("feature", "bin").agg(
          sum(when(col("snap") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("snap") === "new", 1L).otherwise(0L)).as("n_new"))
        // the shared drift algebra — the STREAMING monitor
        // (ops/Drift.driftIngestStream) ends in the same function, so the
        // batch report and the live monitor cannot diverge
        graft.ops.Drift.report(counts)
      },
      Some("""
        WITH base AS (
          SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'new' END AS snap,
            length(text) AS chars,
            length(text) - length(replace(text, ' ', '')) AS spaces
          FROM documents),
        longf AS (
          SELECT snap, 'chars' AS feature, LEAST(chars // 32, 19) AS bin FROM base
          UNION ALL
          SELECT snap, 'spaces' AS feature, LEAST(spaces // 8, 19) AS bin FROM base),
        counts AS (
          SELECT feature, bin,
            CAST(SUM(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
            CAST(SUM(CASE WHEN snap = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
          FROM longf GROUP BY 1, 2),
        tot AS (
          SELECT feature, CAST(SUM(n_ref) AS BIGINT) AS t_ref,
            CAST(SUM(n_new) AS BIGINT) AS t_new
          FROM counts GROUP BY 1)
        SELECT c.feature, c.bin, c.n_ref, c.n_new,
          CAST(c.n_ref AS DOUBLE) / t_ref AS share_ref,
          CAST(c.n_new AS DOUBLE) / t_new AS share_new,
          abs(CAST(c.n_ref AS DOUBLE) / t_ref - CAST(c.n_new AS DOUBLE) / t_new) AS l1_term,
          (CAST(c.n_ref AS DOUBLE) / t_ref - CAST(c.n_new AS DOUBLE) / t_new)
            * (CAST(c.n_ref AS DOUBLE) / t_ref - CAST(c.n_new AS DOUBLE) / t_new)
            / (CAST(c.n_ref AS DOUBLE) / t_ref + CAST(c.n_new AS DOUBLE) / t_new) AS chi2_term
        FROM counts c JOIN tot USING (feature)
        ORDER BY 1, 2"""))
    ,

    // ---- drift report under a CUSTOM feature set --------------------------
    // q159's algebra with the monitored features supplied by the caller
    // (ops/Drift.DriftFeature — the round-10 parameterization): token
    // count at width 4 and vowel count at width 8, both integer-derived
    // in the scan stage. Everything downstream of binning is the SAME
    // report function q159 and the streaming monitor end in, so adding a
    // feature can never fork the algebra — this row proves the
    // parameterized path against the oracle, not just the default set.
    Q("q183_drift_custom_features",
      (s, dir) => {
        import graft.ops.Drift
        val feats = Seq(
          Drift.DriftFeature("n_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"), 4L),
          Drift.DriftFeature("vowels",
            (length(col("text"))
              - length(regexp_replace(col("text"), "[aeiou]", ""))).cast("long"), 8L))
        val longf = t(s, dir, "documents").select(
            when(col("doc_id") % 2 === 0, "ref").otherwise("new").as("snap"),
            explode(Drift.binStructsFor(feats)).as("fb"))
          .select(col("snap"), col("fb.feature"), col("fb.bin"))
        val counts = longf.groupBy("feature", "bin").agg(
          sum(when(col("snap") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("snap") === "new", 1L).otherwise(0L)).as("n_new"))
        Drift.report(counts)
      },
      Some("""
        WITH base AS (
          SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'new' END AS snap,
            len(string_split_regex(trim(text), '\s+')) AS n_tokens,
            length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS vowels
          FROM documents),
        longf AS (
          SELECT snap, 'n_tokens' AS feature, LEAST(n_tokens // 4, 19) AS bin FROM base
          UNION ALL
          SELECT snap, 'vowels' AS feature, LEAST(vowels // 8, 19) AS bin FROM base),
        counts AS (
          SELECT feature, bin,
            CAST(SUM(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
            CAST(SUM(CASE WHEN snap = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
          FROM longf GROUP BY 1, 2),
        tot AS (
          SELECT feature, CAST(SUM(n_ref) AS BIGINT) AS t_ref,
            CAST(SUM(n_new) AS BIGINT) AS t_new
          FROM counts GROUP BY 1)
        SELECT c.feature, c.bin, c.n_ref, c.n_new,
          CAST(c.n_ref AS DOUBLE) / t_ref AS share_ref,
          CAST(c.n_new AS DOUBLE) / t_new AS share_new,
          abs(CAST(c.n_ref AS DOUBLE) / t_ref - CAST(c.n_new AS DOUBLE) / t_new) AS l1_term,
          (CAST(c.n_ref AS DOUBLE) / t_ref - CAST(c.n_new AS DOUBLE) / t_new)
            * (CAST(c.n_ref AS DOUBLE) / t_ref - CAST(c.n_new AS DOUBLE) / t_new)
            / (CAST(c.n_ref AS DOUBLE) / t_ref + CAST(c.n_new AS DOUBLE) / t_new) AS chi2_term
        FROM counts c JOIN tot USING (feature)
        ORDER BY 1, 2"""))
    ,

    // ---- GRADED benchmark-overlap decontamination ---------------------------
    // q103's verdict is binary (>= 5 shared 8-grams with one bench item);
    // the published large-model recipe (GPT-3 appendix C / PaLM) GRADES
    // each doc by the fraction of its distinct 8-grams found anywhere in
    // the benchmark, then drops above a threshold. Integer milli-
    // fractions (matched*1000 div total) keep the grade engine-exact.
    // Report per source: docs, scored (>= 1 gram), clean (0), low
    // (<= 250 milli), mid (<= 500), dropped (> 500 — the action tier).
    // Same 100-TB shape as q103: the benchmark gram set is tiny and
    // BROADCAST; per-doc distinct grams collapse in the grain aggregate
    // before the fraction — nothing corpus-sized shuffles twice.
    Q("q213_graded_decontaminate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = split(trim(col("text")), "\\s+")
        val benchGrams = d.filter(col("doc_id") % 50 === 0)
          .select(explode(graft.text.TextSketch.wordShingles(
            array_join(slice(toks, lit(3), greatest(size(toks) - 2, lit(0))), " "),
            8)).as("g"))
          .distinct()
        val perDoc = d
          .select(col("doc_id"), col("source"),
            explode(graft.text.TextSketch.wordShingles(col("text"), 8)).as("g"))
          .groupBy("doc_id", "source", "g").agg(count(lit(1)).as("_k"))
          .join(broadcast(benchGrams.withColumn("_hit", lit(1L))), Seq("g"), "left")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("total"),
            sum(when(col("_hit") === 1L, 1L).otherwise(0L)).as("matched"))
          .withColumn("frac_milli", expr("(matched * 1000) div total"))
        t(s, dir, "documents").groupBy("source").agg(count(lit(1)).as("docs"))
          .join(perDoc.groupBy("source").agg(
              count(lit(1)).as("sc"),
              sum(when(col("frac_milli") === 0, 1L).otherwise(0L)).as("cl"),
              sum(when(col("frac_milli") > 0 && col("frac_milli") <= 250, 1L)
                .otherwise(0L)).as("lo"),
              sum(when(col("frac_milli") > 250 && col("frac_milli") <= 500, 1L)
                .otherwise(0L)).as("mid"),
              sum(when(col("frac_milli") > 500, 1L).otherwise(0L)).as("dr")),
            Seq("source"), "left")
          .select(col("source"), col("docs"),
            coalesce(col("sc"), lit(0L)).as("scored_docs"),
            coalesce(col("cl"), lit(0L)).as("clean_docs"),
            coalesce(col("lo"), lit(0L)).as("low_docs"),
            coalesce(col("mid"), lit(0L)).as("mid_docs"),
            coalesce(col("dr"), lit(0L)).as("dropped_docs"))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        bg AS (
          SELECT DISTINCT g
          FROM (SELECT w[3:] AS w FROM tok WHERE doc_id % 50 = 0),
            UNNEST($duck8gram) AS t(g)),
        cg AS (
          SELECT DISTINCT doc_id, source, g
          FROM tok, UNNEST($duck8gram) AS t(g)),
        per_doc AS (
          SELECT c.doc_id, c.source, COUNT(*) AS total,
            SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS matched
          FROM cg c LEFT JOIN bg b ON c.g = b.g
          GROUP BY 1, 2),
        graded AS (
          SELECT doc_id, source, (matched * 1000) // total AS frac_milli
          FROM per_doc),
        rep AS (
          SELECT source, COUNT(*) AS sc,
            SUM(CASE WHEN frac_milli = 0 THEN 1 ELSE 0 END) AS cl,
            SUM(CASE WHEN frac_milli > 0 AND frac_milli <= 250 THEN 1 ELSE 0 END) AS lo,
            SUM(CASE WHEN frac_milli > 250 AND frac_milli <= 500 THEN 1 ELSE 0 END) AS mid,
            SUM(CASE WHEN frac_milli > 500 THEN 1 ELSE 0 END) AS dr
          FROM graded GROUP BY 1),
        tg AS (SELECT source, COUNT(*) AS docs FROM documents GROUP BY 1)
        SELECT tg.source, tg.docs,
          CAST(COALESCE(rep.sc, 0) AS BIGINT) AS scored_docs,
          CAST(COALESCE(rep.cl, 0) AS BIGINT) AS clean_docs,
          CAST(COALESCE(rep.lo, 0) AS BIGINT) AS low_docs,
          CAST(COALESCE(rep.mid, 0) AS BIGINT) AS mid_docs,
          CAST(COALESCE(rep.dr, 0) AS BIGINT) AS dropped_docs
        FROM tg LEFT JOIN rep USING (source)
        ORDER BY tg.source"""))
  )
}
