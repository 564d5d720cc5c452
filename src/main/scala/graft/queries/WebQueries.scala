package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.WarcCodec
import graft.text.WebText
import Qx.t

/** The WEB-INGESTION tier — the CommonCrawl-shaped front of an LLM data
  * pipeline, which the engine's curation chain (CCNet/dedup/decon) so far
  * assumed away: WARC container parsing (q252), HTML boilerplate
  * extraction (q253), URL canonicalization (q254), and the composed
  * crawl-to-curation chain as one plan (q255). Container synthesis is
  * closed-form in doc_id (the q194 discipline), so every oracle either
  * predicts the facts without parsing a byte (q252) or replays the
  * EXACT extraction rules on the same source string (q253-q255) — the
  * regex chains are chosen for engine-identical semantics and the
  * Scala template constants are interpolated into BOTH faces so they
  * cannot drift.
  *
  * 100 TB shape: WARC files arrive as whole-file rows (Spark's
  * binaryFile source at scale); record framing, gzip member chaining,
  * HTTP splitting and text extraction all run ROW-LOCAL inside the scan
  * stage — payloads never shuffle; only (bucket, host, narrow counts)
  * rows reach an exchange. Extraction and canonicalization are built-in
  * expression chains (codegen'd, no UDF), so they ride whole-stage
  * codegen inside the same stage.
  */
object WebQueries {

  // the synthetic page template — interpolated into Spark AND DuckDB
  // faces (no apostrophes: the string embeds into SQL literals verbatim)
  private val PreA = "<html><head><title>Doc "
  private val PreB = "</title><style a=\"b\">body{color:#000}</style>" +
    "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
    "<body><nav><a href=\"/home\">Home</a> | <a href=\"/about\">About</a>" +
    "</nav><h1>Doc "
  private val PreC = "</h1><p>"
  // the footer plants one of each numeric-reference case: decimal
  // (&#233; = e-acute), hex 2-byte (&#x2014; em dash), hex 4-byte UTF-8
  // (&#x1F600; emoji), double-escaped (&amp;#65; stays literal &#65;),
  // out-of-range (&#1114112;) and surrogate (&#xD800;) pass-throughs
  private val Post = "</p><footer>&copy; 2026 Example &amp; Sons " +
    "&lt;contact&gt; r&#233;sum&#xE9; &#x2014; &#x1F600; &amp;#65; " +
    "&#1114112; &#xD800;</footer></body></html>"

  private def htmlOf(id: Long, text: String): String =
    PreA + id + PreB + id + PreC + text + Post

  /** The same page, built in DuckDB. */
  private val duckHtml =
    s"'$PreA' || doc_id || '$PreB' || doc_id || '$PreC' || text || '$Post'"

  /** The q253 extraction chain, replayed in DuckDB on expression `x` —
    * regex-for-regex identical to [[WebText.htmlText]] (explicit
    * whitespace class; ALL character references — numeric and named —
    * decode in ONE tokenize-transform-join pass over the shared
    * [[WebText.EntityToken]] pattern, so decoded output is never
    * rescanned and neither escape direction double-decodes:
    * `&amp;#65;` stays literal `&#65;`, `&#38;lt;` stays literal
    * `&lt;`).
    */
  private def duckExtract(x: String): String = {
    val noScript = s"regexp_replace($x, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    val noStyle = s"regexp_replace($noScript, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    val noTags = s"regexp_replace($noStyle, '<[^>]*>', ' ', 'g')"
    // character references: identical tokenization (shared pattern
    // constant), identical validity window, chr() where Spark spells
    // out the UTF-8 arithmetic — same decoded string either way; the
    // named six are spelled as literal CASE arms (the same table
    // HtmlEntities.Named holds)
    s"""trim(regexp_replace(array_to_string(list_transform(
        regexp_extract_all($noTags, '${graft.text.WebText.EntityToken}', 0),
        t -> CASE
             WHEN t = '&lt;' THEN '<'
             WHEN t = '&gt;' THEN '>'
             WHEN t = '&quot;' THEN '"'
             WHEN t = '&apos;' THEN ''''
             WHEN t = '&nbsp;' THEN ' '
             WHEN t = '&amp;' THEN '&'
             WHEN coalesce(CASE
               WHEN regexp_matches(t, '^&#[0-9]{1,7};$$') THEN CAST(t[3:-2] AS BIGINT)
               WHEN regexp_matches(t, '^&#[xX][0-9a-fA-F]{1,6};$$') THEN CAST('0x' || t[4:-2] AS BIGINT)
               END, 0) BETWEEN 1 AND 1114111
             AND coalesce(CASE
               WHEN regexp_matches(t, '^&#[0-9]{1,7};$$') THEN CAST(t[3:-2] AS BIGINT)
               WHEN regexp_matches(t, '^&#[xX][0-9a-fA-F]{1,6};$$') THEN CAST('0x' || t[4:-2] AS BIGINT)
               END, 0) NOT BETWEEN 55296 AND 57343
             THEN chr(CAST(CASE
               WHEN regexp_matches(t, '^&#[0-9]{1,7};$$') THEN CAST(t[3:-2] AS BIGINT)
               WHEN regexp_matches(t, '^&#[xX][0-9a-fA-F]{1,6};$$') THEN CAST('0x' || t[4:-2] AS BIGINT)
               END AS INTEGER))
             ELSE t END), ''), '[ \\t\\n\\r\\f]+', ' ', 'g'))"""
  }

  val all: Seq[Q] = Seq(

    // ---- WARC container ingest ---------------------------------------------
    // Documents are packed 25-per-file into real WARC/1.0 containers
    // (warcinfo + one HTTP-response record per page; odd buckets gzip
    // one member PER RECORD — the CommonCrawl layout, so gzip member
    // chaining is exercised by construction, not just by the spec).
    // Parsing honors Content-Length framing (bodies may contain
    // anything), and the oracle predicts every fact — record counts,
    // exact HTML byte totals, distinct hosts — in closed form from
    // doc_id without touching a byte of container.
    Q("q252_warc_ingest",
      (s, dir) => {
        import s.implicits._
        val files = t(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .groupByKey(_._1 / 25)
          .mapGroups { (bucket, it) =>
            val pages = it.toSeq.sortBy(_._1).map { case (id, text) =>
              (s"https://www.example${id % 7}.com/p/$id",
                htmlOf(id, text).getBytes("UTF-8"))
            }
            (bucket, WarcCodec.encode(pages, gzipped = bucket % 2 == 1))
          }
        files.flatMap { case (bucket, bytes) =>
          WarcCodec.records(bytes).map { r =>
            val bodyBytes =
              if (r.warcType == "response") WarcCodec.http(r.payload).body.length.toLong
              else 0L
            (bucket, r.warcType, bodyBytes, r.targetUri)
          }
        }.toDF("bucket", "wtype", "body_bytes", "uri")
          .groupBy("bucket")
          .agg(count(lit(1)).as("records"),
            sum(when(col("wtype") === "response", 1L).otherwise(0L)).as("responses"),
            sum("body_bytes").as("html_bytes"),
            countDistinct(when(col("wtype") === "response",
              regexp_extract(col("uri"), "://([^/]+)/", 1))).as("hosts"))
          .orderBy("bucket")
      },
      Some(s"""
        SELECT doc_id // 25 AS bucket,
          COUNT(*) + 1 AS records,
          COUNT(*) AS responses,
          CAST(SUM(strlen($duckHtml)) AS BIGINT) AS html_bytes,
          CAST(COUNT(DISTINCT doc_id % 7) AS BIGINT) AS hosts
        FROM documents GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- HTML boilerplate extraction ---------------------------------------
    // The first transform of every crawl-derived corpus: visible text
    // out of markup. Script/style subtrees drop, tags become spaces
    // (word boundaries preserved), the named entities decode (amp LAST —
    // the double-escape rule), whitespace collapses. Pure built-in
    // regexp_replace chain (codegen'd, constant depth); the oracle
    // replays the identical chain on the identical template, so one
    // divergent regex semantics flips every hash.
    Q("q253_html_extract",
      (s, dir) => {
        val html = concat(lit(PreA), col("doc_id").cast("string"), lit(PreB),
          col("doc_id").cast("string"), lit(PreC), col("text"), lit(Post))
        t(s, dir, "documents")
          .select(col("doc_id"), WebText.htmlText(html).as("x"))
          .select(col("doc_id"),
            length(col("x")).cast("long").as("n_chars"),
            md5(col("x")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id,
          CAST(length(${duckExtract(duckHtml)}) AS BIGINT) AS n_chars,
          md5(${duckExtract(duckHtml)}) AS text_md5
        FROM documents ORDER BY doc_id"""))
    ,

    // ---- URL canonicalization ----------------------------------------------
    // The dedup key for URL-level exact dedup: lowercase scheme/host,
    // scheme-conditional default-port drop (http:80 / https:443 — the
    // synthesis plants MISMATCHED pairs like https://...:80 that must
    // keep their port), utm_* trackers dropped, surviving params sorted,
    // fragment dropped, empty path -> '/', path case PRESERVED. Both
    // faces synthesize the same messy URL from doc_id and canonicalize
    // independently.
    Q("q254_url_canonicalize",
      (s, dir) => {
        val id = col("doc_id")
        val scheme = when(id % 2 === 0, "HTTP").otherwise("https")
        val port = when(id % 3 === 0, ":80")
          .when(id % 5 === 0, ":443").otherwise("")
        val path = when(id % 11 === 0, "")
          .otherwise(concat(lit("/P/"), id.cast("string")))
        val url = concat(scheme, lit("://WWW.Example"), (id % 7).cast("string"),
          lit(".COM"), port, path,
          lit("?b="), (id % 4).cast("string"),
          lit("&utm_source=feed&a="), (id % 3).cast("string"),
          lit("&utm_medium=x#sec"), (id % 2).cast("string"))
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"),
            WebText.canonicalUrl(url).as("canonical"))
          .orderBy("doc_id")
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
              || '://WWW.Example' || (doc_id % 7) || '.COM'
              || (CASE WHEN doc_id % 3 = 0 THEN ':80'
                       WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
              || (CASE WHEN doc_id % 11 = 0 THEN ''
                       ELSE '/P/' || doc_id END)
              || '?b=' || (doc_id % 4) || '&utm_source=feed&a='
              || (doc_id % 3) || '&utm_medium=x#sec' || (doc_id % 2) AS url
          FROM documents),
        parts AS (
          SELECT doc_id, url,
            lower(regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS scheme,
            lower(regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2)) AS hostport,
            regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3) AS path,
            regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS query
          FROM u),
        hp AS (
          SELECT *, string_split(hostport, ':') AS hpl FROM parts),
        norm AS (
          SELECT doc_id, url, scheme, path, query,
            hpl[1] AS host,
            CASE WHEN len(hpl) = 2 THEN hpl[2] ELSE '' END AS port
          FROM hp),
        q AS (
          SELECT *,
            array_to_string(list_sort(list_filter(string_split(query, '&'),
              p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&') AS sq
          FROM norm)
        SELECT doc_id, url,
          CASE WHEN scheme = '' OR host = '' THEN NULL
               ELSE scheme || '://' || host
                 || (CASE WHEN port <> ''
                          AND NOT (scheme = 'http' AND port = '80')
                          AND NOT (scheme = 'https' AND port = '443')
                     THEN ':' || port ELSE '' END)
                 || (CASE WHEN path = '' THEN '/' ELSE path END)
                 || (CASE WHEN sq = '' THEN '' ELSE '?' || sq END)
          END AS canonical
        FROM q ORDER BY doc_id"""))
    ,

    // ---- the composed crawl chain: WARC -> extract -> canonical host ------
    // One plan from container bytes to per-host curation stats — the
    // front half of the pipeline q191's CCNet chain starts AFTER. Every
    // stage is the already-oracled operator (q252 framing, q253
    // extraction, q254 canonicalization) composed row-local; only the
    // final (host, counts) rows shuffle. The oracle rebuilds the same
    // pages in SQL and replays extraction + host derivation.
    Q("q255_crawl_chain",
      (s, dir) => {
        import s.implicits._
        val files = t(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .groupByKey(_._1 / 25)
          .mapGroups { (bucket, it) =>
            val pages = it.toSeq.sortBy(_._1).map { case (id, text) =>
              (s"HTTPS://WWW.Example${id % 7}.COM:443/p/$id?utm_source=x&q=${id % 3}",
                htmlOf(id, text).getBytes("UTF-8"))
            }
            (bucket, WarcCodec.encode(pages, gzipped = bucket % 2 == 1))
          }
        val pages = files.flatMap { case (_, bytes) =>
          WarcCodec.records(bytes).collect {
            case r if r.warcType == "response" =>
              (r.targetUri, new String(WarcCodec.http(r.payload).body, "UTF-8"))
          }
        }.toDF("uri", "html")
        pages
          .select(
            regexp_extract(WebText.canonicalUrl(col("uri")),
              "^[a-z.+-]+://([^/:?#]+)", 1).as("host"),
            WebText.htmlText(col("html")).as("x"))
          .groupBy("host")
          .agg(count(lit(1)).as("docs"),
            sum(size(split(col("x"), " "))).cast("long").as("tokens"),
            sum(length(col("x"))).cast("long").as("chars"))
          .orderBy("host")
      },
      Some(s"""
        WITH x AS (
          SELECT 'www.example' || (doc_id % 7) || '.com' AS host,
            ${duckExtract(duckHtml)} AS x
          FROM documents)
        SELECT host, COUNT(*) AS docs,
          CAST(SUM(len(string_split(x, ' '))) AS BIGINT) AS tokens,
          CAST(SUM(length(x)) AS BIGINT) AS chars
        FROM x GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- robots.txt gate ----------------------------------------------------
    // The crawl-compliance operator (RFC 9309 subset): real robots.txt
    // TEXT is parsed row-local (group selection by User-agent, '*'
    // groups only here; empty Disallow = the RFC allow-all no-op;
    // comments and unknown directives skipped), then every corpus URL is
    // gated by its LONGEST matching rule prefix, Allow winning length
    // ties — a broadcast prefix-join + one max-struct aggregate, never a
    // window. The synthesized robots bodies plant a decoy GoodBot group
    // (must be ignored), a Crawl-delay line mid-group (must not close
    // it), and per-host rule differences; the oracle predicts every
    // verdict in closed form from the planted rules.
    Q("q256_robots_gate",
      (s, dir) => {
        import s.implicits._
        val robots = s.range(0, 7).as[Long].map { n =>
          val evenRule = if (n % 2 == 0) "Disallow: /p/\n" else ""
          (s"www.example$n.com",
            "# synthetic robots\n" +
              "User-agent: GoodBot\nDisallow: /never\n\n" +
              "User-agent: *\nCrawl-delay: 5\n" +
              "Disallow: /private\nAllow: /private/ok\nDisallow:\n" +
              evenRule + "Allow: /p/special\n")
        }
        val rules = graft.text.Robots.parseAll(robots)
        val id = col("doc_id")
        val urls = t(s, dir, "documents").select(
          id.as("id"),
          concat(lit("www.example"), (id % 7).cast("string"), lit(".com")).as("host"),
          when(id % 5 === 0, concat(lit("/p/"), id.cast("string")))
            .when(id % 5 === 1, concat(lit("/private/doc"), id.cast("string")))
            .when(id % 5 === 2, concat(lit("/private/ok/doc"), id.cast("string")))
            .when(id % 5 === 3, lit("/"))
            .otherwise(concat(lit("/p/special/"), id.cast("string"))).as("path"))
        graft.text.Robots.gate(urls, rules)
          .select(col("id").as("doc_id"), col("host"), col("path"),
            col("matched_len"), col("verdict"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
          'www.example' || (doc_id % 7) || '.com' AS host,
          CASE doc_id % 5
            WHEN 0 THEN '/p/' || doc_id
            WHEN 1 THEN '/private/doc' || doc_id
            WHEN 2 THEN '/private/ok/doc' || doc_id
            WHEN 3 THEN '/'
            ELSE '/p/special/' || doc_id END AS path,
          CAST(CASE doc_id % 5
            WHEN 0 THEN (CASE WHEN (doc_id % 7) % 2 = 0 THEN 3 ELSE 0 END)
            WHEN 1 THEN 8
            WHEN 2 THEN 11
            WHEN 3 THEN 0
            ELSE 10 END AS BIGINT) AS matched_len,
          CASE WHEN doc_id % 5 = 0 AND (doc_id % 7) % 2 = 0
               THEN 'disallowed'
               WHEN doc_id % 5 = 1 THEN 'disallowed'
               ELSE 'allowed' END AS verdict
        FROM documents ORDER BY doc_id"""))
    ,

    // ---- crawl ingest verdicts: the web member of the store family ---------
    // The q156/q179/q196/q122 replay at PAGE grain, two dedup axes:
    // URL-exact (canonical URL already admitted — a re-crawl) and
    // content mirror (extracted-text md5 admitted under a DIFFERENT
    // canonical URL — a mirror site). Two arrival phases (even pages
    // first against an empty store); the stream and this batch replay
    // share ONE verdict function (CrawlIngest.crawlVerdicts), so the
    // oracle checks the stream's actual decision logic. Plants: every
    // 30th page re-crawls page-2's URL (same-phase url dup), every
    // (30k+15)th re-crawls page-1's URL (cross-phase, odd→even),
    // every 17th serves page-3's CONTENT under its own URL (a mirror —
    // odd ones land cross-phase, even ones point at a phase-2 id whose
    // content is not yet admitted and stay accepted, both faces agree).
    // The page→key maps are INJECTIVE (the uid rides in the canonical
    // path, the cid in the page template), so the oracle predicts every
    // verdict from (phase, uid, cid) without hashing a byte.
    Q("q257_crawl_ingest_verdicts",
      (s, dir) => {
        import graft.curation.CrawlIngest
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val id = col("doc_id")
        val m = d.select(id.as("page_id"),
          when(id > 1 && id % 30 === 0, id - 2)
            .when(id % 30 === 15, id - 1).otherwise(id).as("uid"),
          when(id > 3 && id % 17 === 0, id - 3).otherwise(id).as("cid"))
        val pages = m.join(
            d.select(col("doc_id").as("cid"), col("text").as("ctext")), "cid")
          .select(col("page_id"),
            concat(lit("HTTPS://WWW.Example"), (col("uid") % 7).cast("string"),
              lit(".COM:443/p/"), col("uid").cast("string"),
              lit("?utm_source=feed&v="), (col("uid") % 5).cast("string")).as("url"),
            concat(lit(PreA), col("cid").cast("string"), lit(PreB),
              col("cid").cast("string"), lit(PreC), col("ctext"), lit(Post)).as("html"))
        val keys = graft.util.Pins.leaf(CrawlIngest.pageKeys(pages))
        val k1 = keys.filter(col("page_id") % 2 === 0)
        val k2 = keys.filter(col("page_id") % 2 === 1)
        val v1 = graft.util.Pins.leaf(CrawlIngest.crawlVerdicts(k1, keys.limit(0)))
        val store = v1.filter(col("verdict") === "accepted")
          .select("page_id", "canon_url", "text_md5")
        val v2 = CrawlIngest.crawlVerdicts(k2, store)
        v1.withColumn("phase", lit(1L))
          .unionByName(v2.withColumn("phase", lit(2L)))
          .select("page_id", "phase", "verdict")
          .orderBy("page_id")
      },
      Some("""
        WITH m AS (
          SELECT doc_id AS page_id,
            CASE WHEN doc_id > 1 AND doc_id % 30 = 0 THEN doc_id - 2
                 WHEN doc_id % 30 = 15 THEN doc_id - 1
                 ELSE doc_id END AS uid,
            CASE WHEN doc_id > 3 AND doc_id % 17 = 0 THEN doc_id - 3
                 ELSE doc_id END AS cid
          FROM documents),
        p1 AS (
          SELECT page_id, uid, cid,
            MIN(page_id) OVER (PARTITION BY uid) AS umin,
            MIN(page_id) OVER (PARTITION BY cid) AS cmin
          FROM m WHERE page_id % 2 = 0),
        v1 AS (
          SELECT page_id, uid, cid,
            CASE WHEN page_id > umin THEN 'url_dup_in_batch'
                 WHEN page_id > cmin THEN 'mirror_in_batch'
                 ELSE 'accepted' END AS verdict
          FROM p1),
        acc1 AS (SELECT uid, cid FROM v1 WHERE verdict = 'accepted'),
        p2 AS (
          SELECT page_id, uid, cid,
            MIN(page_id) OVER (PARTITION BY uid) AS umin,
            MIN(page_id) OVER (PARTITION BY cid) AS cmin
          FROM m WHERE page_id % 2 = 1),
        v2 AS (
          SELECT page_id,
            CASE WHEN uid IN (SELECT uid FROM acc1) THEN 'url_dup_vs_history'
                 WHEN page_id > umin THEN 'url_dup_in_batch'
                 WHEN cid IN (SELECT cid FROM acc1) THEN 'mirror_vs_history'
                 WHEN page_id > cmin THEN 'mirror_in_batch'
                 ELSE 'accepted' END AS verdict
          FROM p2)
        SELECT page_id, CAST(1 AS BIGINT) AS phase, verdict FROM v1
        UNION ALL
        SELECT page_id, CAST(2 AS BIGINT) AS phase, verdict FROM v2
        ORDER BY page_id"""))
    ,

    // ---- politeness fetch schedule ------------------------------------------
    // The crawl-frontier operator: per-host fetch slots under per-host
    // crawl delays (the robots Crawl-delay contract, scheduled). Rank
    // within host is the DISTRIBUTED content-addressed rank
    // (Curation.rankByStratum — the two-pass cumsum, no per-host
    // window, so one hot host never funnels through a single task);
    // fetch_at_ms = (rank-1) x the host's delay. Deterministic across
    // engines, runs and cluster sizes by the md5-order contract.
    Q("q259_crawl_schedule",
      (s, dir) => {
        val id = col("doc_id")
        val urls = t(s, dir, "documents").select(id,
          concat(lit("www.example"), (id % 7).cast("string"), lit(".com")).as("host"),
          ((id % 7 % 3 + 1) * 1000).cast("long").as("delay_ms"))
        graft.curation.Curation.rankByStratum(urls, strataCol = "host")
          .select(col("doc_id"), col("host"), col("rk").cast("long").as("slot"),
            ((col("rk") - 1) * col("delay_ms")).cast("long").as("fetch_at_ms"))
          .orderBy("doc_id")
      },
      Some("""
        WITH u AS (
          SELECT doc_id, 'www.example' || (doc_id % 7) || '.com' AS host,
            ((doc_id % 7) % 3 + 1) * 1000 AS delay_ms
          FROM documents),
        r AS (
          SELECT doc_id, host, delay_ms,
            ROW_NUMBER() OVER (PARTITION BY host
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS slot
          FROM u)
        SELECT doc_id, host, CAST(slot AS BIGINT) AS slot,
          CAST((slot - 1) * delay_ms AS BIGINT) AS fetch_at_ms
        FROM r ORDER BY doc_id"""))
    ,

    // ---- redirect-chain resolution (pointer jumping) ------------------------
    // Every fetched URL maps to its final target through 3xx chains. The
    // plan is POINTER JUMPING: each round's self-join doubles the
    // resolved distance, so THREE rounds resolve the planted chains of
    // up to SEVEN hops (a per-hop loop would take seven) — the only
    // join-count shape that survives production chain lengths. A planted
    // 2-cycle (beyond the doc-id range) must terminate with
    // resolved = false, never loop. The oracle predicts final/hops in
    // closed form from the chain arithmetic.
    Q("q260_redirect_resolution",
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val edges = t(s, dir, "documents")
          .filter(id % 8 =!= 0)
          .select(id.as("src"), (id - 1).as("dst"))
          .unionByName(Seq((1000001L, 1000002L), (1000002L, 1000001L))
            .toDF("src", "dst"))
        graft.graph.Redirects.resolve(edges, rounds = 3)
          .orderBy("src")
      },
      Some("""
        SELECT doc_id AS src, doc_id - doc_id % 8 AS final,
          CAST(doc_id % 8 AS BIGINT) AS hops, TRUE AS resolved
        FROM documents WHERE doc_id % 8 <> 0
        UNION ALL
        SELECT 1000001 AS src, 1000001 AS final, CAST(8 AS BIGINT) AS hops,
          FALSE AS resolved
        UNION ALL
        SELECT 1000002 AS src, 1000002 AS final, CAST(8 AS BIGINT) AS hops,
          FALSE AS resolved
        ORDER BY src"""))
    ,

    // ---- HTML table extraction ----------------------------------------------
    // Structured data out of markup — the curation feed for table-QA /
    // tabular pretraining corpora: every <table> parses to rows of
    // visible-text cells (header th and data td alike, entity-decoded
    // through the q253 chain). One regexp_extract_all + transform chain,
    // row-local; posexplode flattens to (doc, table, row, col, cell)
    // rows. The planted per-doc table makes every cell closed-form in
    // doc_id, so the oracle writes the expected cells down directly —
    // end-to-end, no regex replay.
    Q("q262_html_tables",
      (s, dir) => {
        val id = col("doc_id")
        val html = concat(lit(PreA), id.cast("string"), lit(PreB),
          id.cast("string"), lit(PreC), col("text"),
          lit("</p><table class=\"t\"><tr><th>key</th><th>value</th></tr>" +
            "<tr><td>a</td><td>"), (id % 10).cast("string"),
          lit("</td></tr><tr><td>b &amp; c</td><td>"), (id % 7).cast("string"),
          lit("</td></tr></table><p>"), lit(Post))
        t(s, dir, "documents")
          .select(id, posexplode(graft.text.WebText.htmlTables(html))
            .as(Seq("tbl", "rows")))
          .select(id, col("tbl"), posexplode(col("rows")).as(Seq("row", "cells")))
          .select(id, col("tbl"), col("row"),
            posexplode(col("cells")).as(Seq("col", "cell")))
          .select(id, col("tbl").cast("long").as("tbl"),
            col("row").cast("long").as("row"),
            col("col").cast("long").as("col"), col("cell"))
          .orderBy("doc_id", "tbl", "row", "col")
      },
      Some("""
        SELECT doc_id, CAST(0 AS BIGINT) AS tbl,
          CAST(rc.r AS BIGINT) AS row, CAST(rc.c AS BIGINT) AS col,
          CASE WHEN rc.r = 0 AND rc.c = 0 THEN 'key'
               WHEN rc.r = 0 AND rc.c = 1 THEN 'value'
               WHEN rc.r = 1 AND rc.c = 0 THEN 'a'
               WHEN rc.r = 1 AND rc.c = 1 THEN CAST(doc_id % 10 AS VARCHAR)
               WHEN rc.r = 2 AND rc.c = 0 THEN 'b & c'
               ELSE CAST(doc_id % 7 AS VARCHAR) END AS cell
        FROM documents,
          (VALUES (0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)) rc(r, c)
        ORDER BY doc_id, tbl, row, col"""))
    ,

    // ---- link + anchor extraction -------------------------------------------
    // The link-graph feed: (href, anchor-text) pairs out of raw HTML —
    // one regex, two aligned capture groups zipped positionally, anchors
    // entity-decoded — then each href CANONICALIZED (q254's operator) and
    // its host derived, the exact rows LinkGraph's pagerank/anchor
    // operators consume. Three planted anchors per doc (messy scheme/
    // host case, default port, utm tracker) make every output column
    // closed-form in (doc_id, k).
    Q("q263_link_extract",
      (s, dir) => {
        import graft.text.WebText
        val id = col("doc_id")
        def anchor(k: Int) = concat(
          lit("<a class=\"l\" href=\"HTTPS://WWW.Example"),
          ((id + k) % 7).cast("string"),
          lit(".COM:443/p/"), ((id * 3 + k) % 1000).cast("string"),
          lit(s"""?utm_x=1&z=$k">go &amp; see $k</a> """))
        val html = concat(lit(PreA), id.cast("string"), lit(PreB),
          id.cast("string"), lit(PreC), col("text"), lit("</p>"),
          anchor(0), anchor(1), anchor(2), lit("<p>"), lit(Post))
        // the template's own nav anchors (/home, /about) are RELATIVE —
        // canonicalUrl's null sentinel gates them out, the exact quality
        // gate a link-graph feed applies (absolute out-links only);
        // their positions (0, 1) stay burned into the surviving pos
        t(s, dir, "documents")
          .select(id, posexplode(WebText.htmlLinks(html)).as(Seq("pos", "lk")))
          .select(id, col("pos").cast("long").as("pos"),
            WebText.canonicalUrl(col("lk.href")).as("canon"),
            regexp_extract(WebText.canonicalUrl(col("lk.href")),
              "^[a-z.+-]+://([^/:?#]+)", 1).as("host"),
            col("lk.anchor").as("anchor"))
          .filter(col("canon").isNotNull)
          .orderBy("doc_id", "pos")
      },
      Some("""
        SELECT doc_id, CAST(k + 2 AS BIGINT) AS pos,
          'https://www.example' || ((doc_id + k) % 7) || '.com/p/'
            || ((doc_id * 3 + k) % 1000) || '?z=' || k AS canon,
          'www.example' || ((doc_id + k) % 7) || '.com' AS host,
          'go & see ' || k AS anchor
        FROM documents, (SELECT unnest([0, 1, 2]) AS k)
        ORDER BY doc_id, pos"""))
    ,

    // ---- raw HTML to PageRank: the web-graph capstone ----------------------
    // The full front-to-rank composition in ONE plan: pages synthesize
    // with q263's planted anchors, htmlLinks extracts, canonicalUrl
    // gates and normalizes, the target page number lifts out of the
    // canonical path, and LinkGraph.pagerank (q224's integer-exact
    // fixed point) ranks the EXTRACTED graph — nothing but narrow
    // (src, dst) longs leaves the extraction stage. The oracle derives
    // the same closed-form edge set and unrolls the identical three
    // scaled-long rounds (the q224 replay pattern).
    Q("q264_web_pagerank",
      (s, dir) => {
        import graft.text.WebText
        val id = col("doc_id")
        def anchor(k: Int) = concat(
          lit("<a class=\"l\" href=\"HTTPS://WWW.Example"),
          ((id + k) % 7).cast("string"),
          lit(".COM:443/p/"), ((id * 3 + k) % 1000).cast("string"),
          lit(s"""?utm_x=1&z=$k">go &amp; see $k</a> """))
        val html = concat(lit(PreA), id.cast("string"), lit(PreB),
          id.cast("string"), lit(PreC), col("text"), lit("</p>"),
          anchor(0), anchor(1), anchor(2), lit("<p>"), lit(Post))
        val edges = t(s, dir, "documents")
          .select(id.as("src"), explode(WebText.htmlLinks(html)).as("lk"))
          .select(col("src"), WebText.canonicalUrl(col("lk.href")).as("canon"))
          .filter(col("canon").isNotNull)
          .select(col("src"),
            regexp_extract(col("canon"), "/p/([0-9]+)", 1).cast("long").as("dst"))
        graft.graph.LinkGraph.pagerank(edges, iters = 3, scale = 1000000L)
          .orderBy("node_id")
      },
      Some("""
        WITH e AS (
          SELECT doc_id AS src, (doc_id * 3 + k) % 1000 AS dst
          FROM documents, (SELECT unnest([0, 1, 2]) AS k)),
        nodes AS (SELECT DISTINCT src AS node_id FROM e
                  UNION SELECT dst FROM e),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        r1 AS (SELECT n.node_id,
                 150000 + (85 * COALESCE(x.in_sum, 0)) // 100 AS pr
               FROM nodes n LEFT JOIN (
                 SELECT e.dst, SUM(r.pr // d.outdeg) AS in_sum
                 FROM e JOIN deg d ON e.src = d.src
                        JOIN r0 r ON e.src = r.node_id
                 GROUP BY 1) x ON n.node_id = x.dst),
        r2 AS (SELECT n.node_id,
                 150000 + (85 * COALESCE(x.in_sum, 0)) // 100 AS pr
               FROM nodes n LEFT JOIN (
                 SELECT e.dst, SUM(r.pr // d.outdeg) AS in_sum
                 FROM e JOIN deg d ON e.src = d.src
                        JOIN r1 r ON e.src = r.node_id
                 GROUP BY 1) x ON n.node_id = x.dst),
        r3 AS (SELECT n.node_id,
                 150000 + (85 * COALESCE(x.in_sum, 0)) // 100 AS pr
               FROM nodes n LEFT JOIN (
                 SELECT e.dst, SUM(r.pr // d.outdeg) AS in_sum
                 FROM e JOIN deg d ON e.src = d.src
                        JOIN r2 r ON e.src = r.node_id
                 GROUP BY 1) x ON n.node_id = x.dst)
        SELECT node_id, CAST(pr AS BIGINT) AS pr
        FROM r3 ORDER BY 1"""))
  )
}
