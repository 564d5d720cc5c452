package graft.queries

import org.apache.spark.sql.functions._
import Qx._

/** Free-surface SQL operators the reference lacks but a complete engine
  * must expose (SURVEY.md §2.4 "not present", §2.6): correlated scalar
  * subqueries, date arithmetic, as-of joins, cube grouping sets.
  */
object ExtraQueries {

  val all: Seq[Q] = Seq(

    // ---- correlated scalar subquery (Catalyst decorrelation) --------------
    Q("q60_correlated_subquery",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""
          SELECT c_nationkey, COUNT(*) AS above_avg_customers
          FROM customer_v c
          WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
            FROM customer_v i WHERE i.c_nationkey = c.c_nationkey)
          GROUP BY c_nationkey ORDER BY c_nationkey""")
      },
      Some("""
        SELECT c_nationkey, COUNT(*) AS above_avg_customers
        FROM customer c
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          FROM customer i WHERE i.c_nationkey = c.c_nationkey)
        GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ---- date arithmetic: order -> last shipment lag ----------------------
    Q("q61_ship_lag",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.groupBy("l_orderkey").agg(max("l_shipdate").as("last_ship"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(datediff(col("last_ship"), col("o_orderdate")).as("lag_days"))
          .groupBy((col("lag_days") / 30).cast("int").as("lag_month_bucket"))
          .agg(count(lit(1)).as("orders"), max("lag_days").as("max_lag_days"))
          .orderBy("lag_month_bucket")
      },
      Some("""
        WITH lags AS (
          SELECT date_diff('day', o_orderdate, max(l_shipdate)) AS lag_days
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY l_orderkey, o_orderdate)
        SELECT CAST(trunc(CAST(lag_days AS DOUBLE) / 30) AS INTEGER) AS lag_month_bucket,
          COUNT(*) AS orders, CAST(MAX(lag_days) AS INTEGER) AS max_lag_days
        FROM lags GROUP BY 1 ORDER BY 1""")),

    // ---- as-of join: purchases matched to the latest preceding signup -----
    // Composed from a union + running last_value window (the idiomatic
    // Spark expression of an operator it lacks natively).
    Q("q62_asof_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "events")
        val relevant = e.filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withSignup = relevant.withColumn("last_signup_ts",
          last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
        withSignup.filter(col("event_type") === "purchase")
          .select(col("user_id"),
            (unix_millis(col("ts")) - unix_millis(col("last_signup_ts"))).as("lag_ms"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("purchases"),
            sum(when(col("lag_ms").isNotNull, 1L).otherwise(0L)).as("matched"),
            max("lag_ms").as("max_lag_ms"))
          .orderBy("user_id")
      },
      Some("""
        WITH relevant AS (
          SELECT user_id, event_type, ts, event_id FROM events
          WHERE event_type IN ('signup', 'purchase')),
        with_signup AS (
          SELECT user_id, event_type, ts,
            last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
          FROM relevant)
        SELECT user_id, COUNT(*) AS purchases,
          CAST(SUM(CASE WHEN last_signup_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched,
          CAST(MAX(epoch_ms(ts) - epoch_ms(last_signup_ts)) AS BIGINT) AS max_lag_ms
        FROM with_signup WHERE event_type = 'purchase'
        GROUP BY user_id ORDER BY user_id""")),

    // ---- language-ID: n-gram profile scoring + confusion matrix -----------
    // scores computed ONCE per row behind a Generate barrier (the
    // single-Column predict() nests when-trees and Catalyst duplicates
    // every regexp ~2^langs times — measured ~5x on this query)
    Q("q48_langid_confusion",
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), graft.text.LanguageId.scoresArray(col("text")).as("ss0"))
        .select(col("lang"), explode(array(col("ss0"))).as("ss"))
        .select(col("lang"), graft.text.LanguageId.pickFromScores(col("ss")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("docs"))
        .orderBy("lang", "predicted"),
      Some {
        val scoreExprs = graft.text.LanguageId.profiles.map { case (lang, grams) =>
          grams.map(g => s"len(regexp_extract_all(lower(text), '$g'))")
            .mkString(" + ") + s" AS s_$lang"
        }.mkString(",\n            ")
        val langs = graft.text.LanguageId.profiles.map(_._1)
        val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
        val pick = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
        s"""
        WITH scored AS (
          SELECT lang,
            $scoreExprs
          FROM documents),
        best AS (
          SELECT lang, $m AS m, * FROM scored)
        SELECT lang, CASE $pick END AS predicted, COUNT(*) AS docs
        FROM best GROUP BY 1, 2 ORDER BY 1, 2"""
      }),

    // ---- F22/JSONB surface: JSON field extraction over events.props -------
    Q("q49_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"))
        .orderBy("k_mod"),
      Some("""
        SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod,
          COUNT(*) AS cnt,
          CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- gap-based sessionization (lag window -> session ids -> stats) ----
    Q("q64_sessionize",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapMs = 30 * 60 * 1000L
        val sessions = e
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs, 1L).otherwise(0L))
          .withColumn("session_no", sum("new_session").over(w))
        sessions.groupBy("user_id", "session_no")
          .agg(count(lit(1)).as("events_in_session"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("sessions"),
            max("events_in_session").as("max_session_events"),
            sum("events_in_session").as("total_events"))
          .orderBy("user_id")
      },
      Some("""
        WITH marked AS (
          SELECT user_id, event_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
              THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessioned AS (
          SELECT user_id,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          FROM marked),
        per_session AS (
          SELECT user_id, session_no, COUNT(*) AS events_in_session
          FROM sessioned GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS sessions,
          CAST(MAX(events_in_session) AS BIGINT) AS max_session_events,
          CAST(SUM(events_in_session) AS BIGINT) AS total_events
        FROM per_session GROUP BY 1 ORDER BY 1""")),

    // ---- native session_window sessionization ------------------------------
    // The Spark-FIRST formulation of q64: `session_window` is the operator
    // Structured Streaming uses for stateful sessionization (state store +
    // watermark eviction in stream mode; identical semantics in batch, as
    // here). Boundary nuance mirrored exactly: session_window intervals
    // are half-open [start, last+gap), so an event arriving at EXACTLY
    // gap ms starts a NEW session — the oracle's gaps-and-islands uses >=
    // where q64's uses > . Agreement with q64's aggregates (modulo exact-
    // boundary events) cross-validates both formulations.
    Q("q114_session_window",
      (s, dir) => {
        val e = t(s, dir, "events")
        e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("events_in_session"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("sessions"),
            max("events_in_session").as("max_session_events"),
            sum("events_in_session").as("total_events"))
          .orderBy("user_id")
      },
      Some("""
        WITH marked AS (
          SELECT user_id, event_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
              THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessioned AS (
          SELECT user_id,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          FROM marked),
        per_session AS (
          SELECT user_id, session_no, COUNT(*) AS events_in_session
          FROM sessioned GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS sessions,
          CAST(MAX(events_in_session) AS BIGINT) AS max_session_events,
          CAST(SUM(events_in_session) AS BIGINT) AS total_events
        FROM per_session GROUP BY 1 ORDER BY 1""")),

    // ---- approximate aggregates, tolerance-banded oracle ------------------
    // Sketch values are engine-specific (HLL++ / KLL registers), so raw
    // approx columns can never hash-match DuckDB. The banded check makes the
    // row REAL anyway: Spark computes BOTH the sketch and the exact value,
    // and emits in-band booleans; the oracle emits the same exact values and
    // literal TRUE. A sketch drifting outside its documented bound flips the
    // boolean and fails the driver's hash compare.
    // Bands: approx_count_distinct at rsd=0.05 must land within ±15% of
    // exact (3σ of the configured relative standard deviation);
    // percentile_approx at accuracy=1000 guarantees rank error ≤ 0.1% — the
    // band accepts values between the exact 49th and 51st percentiles (10×
    // the guarantee, still tight enough to catch a broken sketch).
    // The exact aggregates exist to CHECK the sketches — production callers
    // use the approximate columns alone at a fraction of the cost.
    Q("q65_approx_aggs",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.05).as("ac"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("am"),
          countDistinct(col("o_custkey")).as("exact_customers"),
          // one buffer for both band edges, not two sort-based aggs
          percentile(col("o_totalprice"), array(lit(0.49), lit(0.51))).as("qs"),
          count(lit(1)).as("cnt"))
        .select(
          col("o_orderpriority"),
          col("exact_customers"),
          col("cnt"),
          (col("ac") >= col("exact_customers") * 0.85 &&
            col("ac") <= col("exact_customers") * 1.15).as("approx_customers_in_band"),
          (col("am") >= element_at(col("qs"), 1) &&
            col("am") <= element_at(col("qs"), 2)).as("approx_median_in_band"))
        .orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority,
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
          CAST(COUNT(*) AS BIGINT) AS cnt,
          TRUE AS approx_customers_in_band,
          TRUE AS approx_median_in_band
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- analytic-window suite: rank/dense_rank/ntile/lead/lag + frames ---
    Q("q66_window_suite",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = t(s, dir, "orders")
        val byCust = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
        val byCustTs = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val running = byCustTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        o.select(col("o_custkey"), col("o_orderkey"),
          rank().over(byCust).as("price_rank"),
          dense_rank().over(byCust).as("price_dense_rank"),
          ntile(4).over(byCust).as("price_quartile"),
          lead(col("o_orderkey"), 1).over(byCustTs).as("next_order"),
          lag(col("o_orderkey"), 1).over(byCustTs).as("prev_order"),
          dbl(sum(d12(col("o_totalprice"))).over(running)).as("running_spend"))
          .filter(col("o_custkey") < 100)
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          CAST(RANK() OVER wp AS INTEGER) AS price_rank,
          CAST(DENSE_RANK() OVER wp AS INTEGER) AS price_dense_rank,
          CAST(NTILE(4) OVER wp AS INTEGER) AS price_quartile,
          LEAD(o_orderkey, 1) OVER wt AS next_order,
          LAG(o_orderkey, 1) OVER wt AS prev_order,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        FROM orders
        WHERE o_custkey < 100
        WINDOW
          wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
          wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- typed Aggregator: top-k per group without a window sort ----------
    // Bounded k-buffer combining map-side (the window row_number form sorts
    // each group's full row set on a single task); oracle mirrors with the
    // window formulation — identical output, different physical strategy.
    Q("q67_topk_aggregator",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        val topk = new graft.ops.TopKPerGroup(3).toColumn
        o.select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .as[(String, Double, Long)]
          .groupByKey(_._1)
          .mapValues(x => (x._2, x._3))
          .agg(topk.name("top"))
          .flatMap { case (prio, top) => top.map(x => (prio, x._1, x._2)) }
          .toDF("o_orderpriority", "o_totalprice", "o_orderkey")
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""
        SELECT o_orderpriority, o_totalprice, o_orderkey FROM (
          SELECT o_orderpriority, o_totalprice, o_orderkey,
            ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
        ORDER BY o_orderpriority, o_orderkey""")),

    // ---- pivot: long -> wide (the inverse of the HMIS unpivot) ------------
    Q("q68_pivot",
      (s, dir) => t(s, dir, "events")
        .groupBy(dayofmonth(col("ts")).cast("int").as("event_day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("event_day"),
      Some("""
        SELECT CAST(day(ts) AS INTEGER) AS event_day,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- the streaming transform under the oracle (batch parity) ----------
    // EventStreams.windowedTypeStats is the SAME code that runs as a
    // readStream query (EventStreamsSpec drives it live); here its batch
    // output is oracle-checked against DuckDB's time_bucket.
    Q("q78_hourly_windows",
      (s, dir) => graft.streaming.EventStreams
        .windowedTypeStats(t(s, dir, "events"))
        .orderBy("window_start", "event_type"),
      Some("""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
          time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
          event_type, COUNT(*) AS events,
          CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""")),

    // ---- A5 map-shaped breakdowns as canonical JSON -----------------------
    // The reference stores value_counts() dicts as JSON text; both engines
    // serialize a sorted struct array to byte-identical compact JSON, so
    // the map surface is hash-checkable.
    Q("q79_histogram_json",
      (s, dir) => t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy("day")
        .agg(to_json(sort_array(collect_list(
          struct(col("event_type").as("k"), col("n"))))).as("type_breakdown"))
        .orderBy("day"),
      Some("""
        WITH counts AS (
          SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT day,
          to_json(list_sort(list(struct_pack(k := event_type, n := n)))) AS type_breakdown
        FROM counts GROUP BY 1 ORDER BY 1""")),

    // ---- null semantics: null-safe equality + null-aware aggregation ------
    // Nulls derived deterministically (events with value >= 190 get a null
    // bucket); <=> in Spark mirrors IS NOT DISTINCT FROM, and count/sum
    // null-skipping behavior is pinned cross-engine.
    Q("q80_null_semantics",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_type"),
            when(col("value") < 190, (col("value") / 50).cast("int")).as("bucket"),
            col("value"))
        val dim = e.sparkSession.range(0, 4)
          .select(col("id").cast("int").as("bucket"),
            concat(lit("B"), col("id")).as("bucket_name"))
          .unionByName(e.sparkSession.range(1).select(
            lit(null).cast("int").as("bucket"), lit("B_null").as("bucket_name")))
        e.join(dim, e("bucket") <=> dim("bucket")) // null-safe: null matches B_null
          .groupBy("bucket_name")
          .agg(count(lit(1)).as("rows_matched"),
            count(e("bucket")).as("non_null_buckets"),
            dbl(sum(d12(col("value")))).as("sum_value"))
          .orderBy("bucket_name")
      },
      Some("""
        WITH e AS (
          SELECT event_type,
            CASE WHEN value < 190 THEN CAST(trunc(value / 50) AS INTEGER) END AS bucket,
            value
          FROM events),
        dim AS (
          SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS bucket,
            'B' || CAST(unnest(generate_series(0, 3)) AS VARCHAR) AS bucket_name
          UNION ALL SELECT NULL, 'B_null')
        SELECT bucket_name, COUNT(*) AS rows_matched,
          COUNT(e.bucket) AS non_null_buckets,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM e JOIN dim ON e.bucket IS NOT DISTINCT FROM dim.bucket
        GROUP BY 1 ORDER BY 1""")),

    // ---- intersect / except (set-op surface the reference lacks) ----------
    Q("q81_intersect_except",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        val high = o.filter(col("o_orderpriority") === "2-HIGH").select("o_custkey")
        val both = urgent.intersect(high).agg(count(lit(1)).as("n"))
          .select(lit("both").as("set_op"), col("n"))
        val urgentOnly = urgent.except(high).agg(count(lit(1)).as("n"))
          .select(lit("urgent_only").as("set_op"), col("n"))
        both.unionByName(urgentOnly).orderBy("set_op")
      },
      Some("""
        WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        high AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        SELECT 'both' AS set_op,
          (SELECT COUNT(*) FROM (SELECT * FROM urgent INTERSECT SELECT * FROM high)) AS n
        UNION ALL
        SELECT 'urgent_only',
          (SELECT COUNT(*) FROM (SELECT * FROM urgent EXCEPT SELECT * FROM high))
        ORDER BY 1""")),

    // ---- cube grouping sets ------------------------------------------------
    Q("q63_cube",
      (s, dir) => t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("cnt"))
        .orderBy("o_orderstatus", "o_orderpriority"),
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
          COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
          COUNT(*) AS cnt
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY 1, 2""")),

    // ---- Delta-style MERGE / CDC apply ------------------------------------
    // Target = per-customer pre-1997 order stats; change batch = 1997+
    // stats with op D (cust % 10 < 2), else U — updates matched keys,
    // inserts new ones, deletes matched D keys. One full-outer join.
    Q("q91_merge_cdc",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val target = o.filter(year(col("o_orderdate")) < 1997)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"), dbl(sum(d12(col("o_totalprice")))).as("total"))
        val changes = o.filter(year(col("o_orderdate")) >= 1997)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"), dbl(sum(d12(col("o_totalprice")))).as("total"))
          .withColumn("op", when(col("o_custkey") % 10 < 2, "D").otherwise("U"))
        val (merged, _) = graft.io.MergeInto.applyCdc(target, changes, Seq("o_custkey"))
        merged.orderBy("o_custkey")
      },
      Some("""
        WITH target AS (
          SELECT o_custkey, COUNT(*) AS cnt,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
          FROM orders WHERE year(o_orderdate) < 1997 GROUP BY 1),
        changes AS (
          SELECT o_custkey, COUNT(*) AS cnt,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
            CASE WHEN o_custkey % 10 < 2 THEN 'D' ELSE 'U' END AS op
          FROM orders WHERE year(o_orderdate) >= 1997 GROUP BY 1)
        SELECT COALESCE(t.o_custkey, c.o_custkey) AS o_custkey,
          CASE WHEN c.o_custkey IS NOT NULL THEN c.cnt ELSE t.cnt END AS cnt,
          CASE WHEN c.o_custkey IS NOT NULL THEN c.total ELSE t.total END AS total
        FROM target t FULL OUTER JOIN changes c ON t.o_custkey = c.o_custkey
        WHERE (c.o_custkey IS NULL OR c.op <> 'D')
          AND (t.o_custkey IS NOT NULL OR c.op <> 'D')
        ORDER BY 1""")),

    // ---- S11 as a wire format: Elasticsearch _bulk line protocol ----------
    // The reference ships geo docs to ES via helpers.bulk; the engine's
    // job ends at the bulk payload (action line + canonical-JSON source
    // line per row) — byte-identical in both engines, so hash-checkable.
    Q("q93_es_bulk_format",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val doc = concat(
          lit("{\"nation\":\""), col("n_name"),
          lit("\",\"region\":"), col("n_regionkey").cast("string"), lit("}"))
        graft.io.Writers.esBulkLines(n, "graft_geo", "n_nationkey", doc)
          .orderBy("n_nationkey", "seq")
      },
      Some("""
        SELECT n_nationkey, 0 AS seq,
          '{"index":{"_index":"graft_geo","_id":"' || CAST(n_nationkey AS VARCHAR) || '"}}' AS line
        FROM nation
        UNION ALL
        SELECT n_nationkey, 1,
          '{"nation":"' || n_name || '","region":' || CAST(n_regionkey AS VARCHAR) || '}'
        FROM nation
        ORDER BY 1, 2""")),

    // ---- window-frame suite: ntile / percent_rank / cume_dist / RANGE -----
    // Unique (o_totalprice, o_orderkey) ordering pins tie behavior so
    // ntile's arbitrary-within-tie split is deterministic cross-engine;
    // the RANGE frame sums decimals over a value window, not a row window.
    Q("q94_window_frames",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = t(s, dir, "orders").filter(col("o_custkey") % 100 === 0)
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wr = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"))
          .rangeBetween(-1000L, 0L)
        o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            dbl(sum(d12(col("o_totalprice"))).over(wr)).as("range_sum"))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice,
          ntile(4) OVER w AS quartile,
          percent_rank() OVER w AS pct_rank,
          cume_dist() OVER w AS cume,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
            PARTITION BY o_orderstatus ORDER BY o_totalprice
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum
        FROM orders
        WHERE o_custkey % 100 = 0
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey""")),

    // ---- statistical aggregates from EXACT decimal moments ----------------
    // stddev/variance/correlation built from decimal moment sums (Σx, Σx²,
    // Σxy — exact, order-free) with the closing double arithmetic sequenced
    // identically on both engines. A native stddev_samp(double) would NOT
    // hash-match cross-engine (accumulation order changes the last bits);
    // moments make second-order statistics oracle-exact AND shuffle-narrow
    // (constant aggregation state, map-side partials).
    Q("q95_exact_moments",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val x = d12(col("l_extendedprice"))
        val y = d12(col("l_quantity"))
        l.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"),
            sum(x * y).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            // decimal -> double via STRING on both engines: DuckDB's direct
            // wide-decimal cast double-rounds (int128 -> double, then
            // x10^-scale) and is off by an ulp once the scaled value tops
            // 2^53; string parses are correctly rounded everywhere
            ((d2d(col("sxx")) - d2d(col("sx")) * d2d(col("sx")) / col("n"))
              / (col("n") - 1)).as("var_price"),
            sqrt((d2d(col("sxx")) - d2d(col("sx")) * d2d(col("sx")) / col("n"))
              / (col("n") - 1)).as("stddev_price"),
            ((d2d(col("sxy")) - d2d(col("sx")) * d2d(col("sy")) / col("n"))
              / sqrt((d2d(col("sxx")) - d2d(col("sx")) * d2d(col("sx")) / col("n"))
                * (d2d(col("syy")) - d2d(col("sy")) * d2d(col("sy")) / col("n"))))
              .as("corr_price_qty"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH m AS (
          SELECT l_returnflag, COUNT(*) AS n,
            SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sx,
            SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sy,
            SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxx,
            SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS syy,
            SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n,
          (CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n) / (n - 1) AS var_price,
          sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n) / (n - 1)) AS stddev_price,
          (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / n)
            / sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n)
              * (CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / n)) AS corr_price_qty
        FROM m ORDER BY 1""")),

    // ---- exact per-group quantiles via value histogram --------------------
    // The q14 median technique generalized: cumulative counts over DISTINCT
    // values only (no per-group sort of raw rows — a group's heaviest task
    // is O(distinct values), not O(rows)), then the type-1 quantile is the
    // first value whose cumulative count reaches ceil(p*n). Identical
    // arithmetic both engines; no approx_percentile (engine-specific
    // sketches can't hash-match).
    Q("q98_group_quantiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val l = t(s, dir, "lineitem")
        val hist = l.groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("l_returnflag")
        val cum = hist
          .withColumn("cum", sum("c").over(wCum))
          .withColumn("n", sum("c").over(wAll))
        def q(p: Double) = min(when(col("cum") >= ceil(lit(p) * col("n")), col("l_quantity")))
        cum.groupBy("l_returnflag")
          .agg(max("n").as("n"),
            q(0.5).as("p50"), q(0.9).as("p90"), q(0.99).as("p99"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH hist AS (
          SELECT l_returnflag, l_quantity, COUNT(*) AS c
          FROM lineitem GROUP BY 1, 2),
        cum AS (
          SELECT l_returnflag, l_quantity,
            SUM(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER (PARTITION BY l_returnflag) AS n
          FROM hist)
        SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
          MIN(CASE WHEN cum >= ceil(0.5 * n) THEN l_quantity END) AS p50,
          MIN(CASE WHEN cum >= ceil(0.9 * n) THEN l_quantity END) AS p90,
          MIN(CASE WHEN cum >= ceil(0.99 * n) THEN l_quantity END) AS p99
        FROM cum GROUP BY 1 ORDER BY 1""")),

    // ---- explicit GROUPING SETS + grouping() markers ----------------------
    // Beyond rollup (q30) and cube (q63): an arbitrary grouping-set list
    // with grouping() flags distinguishing "NULL value" from "aggregated
    // over" — identical ANSI SQL in both engines.
    Q("q99_grouping_sets",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""
          SELECT COALESCE(o_orderstatus, 'ALL') AS status,
            COALESCE(o_orderpriority, 'ALL') AS priority,
            CAST(grouping(o_orderstatus) AS INT) AS g_status,
            CAST(grouping(o_orderpriority) AS INT) AS g_priority,
            COUNT(*) AS cnt
          FROM orders_gs
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY 1, 2""")
      },
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          COALESCE(o_orderpriority, 'ALL') AS priority,
          CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
          CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
          COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY 1, 2""")),

    // ---- fuzzy matching via blocked edit distance -------------------------
    // The P4 fuzzy surface strengthened: distinct part names blocked by
    // their noun, pairs scored with levenshtein (same classic DP in both
    // engines — exact integers, no rounding concerns).
    Q("q100_fuzzy_levenshtein",
      (s, dir) => {
        val names = t(s, dir, "part")
          .select(col("p_name")).distinct()
          .select(col("p_name"),
            element_at(split(col("p_name"), " "), 2).as("noun"))
        val a = names.select(col("noun"), col("p_name").as("name_a"))
        val b = names.select(col("noun"), col("p_name").as("name_b"))
        a.join(b, Seq("noun"))
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .groupBy("noun")
          .agg(count(lit(1)).as("pairs"),
            sum(when(col("dist") <= 2, 1L).otherwise(0L)).as("close_pairs"),
            min("dist").as("min_dist"))
          .orderBy("noun")
      },
      Some("""
        WITH names AS (
          SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS noun FROM part),
        pairs AS (
          SELECT a.noun, levenshtein(a.p_name, b.p_name) AS dist
          FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name)
        SELECT noun, COUNT(*) AS pairs,
          CAST(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS close_pairs,
          CAST(MIN(dist) AS INTEGER) AS min_dist
        FROM pairs GROUP BY 1 ORDER BY 1""")),

    // ---- streaming dedup, batch-parity half -------------------------------
    // The same EventStreams.dedupById call is stateful watermark-bounded
    // dedup on a stream; here the batch path runs under the oracle
    // (duplicates derived deterministically: every 10th event re-appended).
    Q("q96_stream_dedup",
      (s, dir) => {
        val e = t(s, dir, "events")
        val corpus = e.unionByName(e.filter(col("event_id") % 10 === 0))
        graft.streaming.EventStreams.dedupById(corpus)
          .groupBy("event_type")
          .agg(count(lit(1)).as("events"),
            dbl(sum(d12(col("value")))).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        WITH corpus AS (
          SELECT * FROM events
          UNION ALL SELECT * FROM events WHERE event_id % 10 = 0),
        deduped AS (SELECT DISTINCT * FROM corpus)
        SELECT event_type, COUNT(*) AS events,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM deduped GROUP BY 1 ORDER BY 1""")),

    // ---- stream-stream interval join, batch-parity half -------------------
    // purchase←click attribution within 30 minutes per user: the range
    // predicate that bounds streaming join state IS the batch range join.
    Q("q97_interval_join",
      (s, dir) => {
        val e = t(s, dir, "events")
        graft.streaming.EventStreams.purchaseAttribution(
            e.filter(col("event_type") === "purchase"),
            e.filter(col("event_type") === "click"), 30)
          .groupBy("user_id")
          .agg(count(lit(1)).as("attributed_clicks"),
            dbl(sum(d12(col("purchase_value")))).as("sum_purchase"))
          .orderBy("user_id")
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts AS purchase_ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id AS c_user, ts AS click_ts
          FROM events WHERE event_type = 'click')
        SELECT user_id, COUNT(*) AS attributed_clicks,
          CAST(SUM(CAST(purchase_value AS DECIMAL(12,2))) AS DOUBLE) AS sum_purchase
        FROM p JOIN c ON user_id = c_user
          AND click_ts >= purchase_ts - INTERVAL 30 MINUTE
          AND click_ts <= purchase_ts
        GROUP BY 1 ORDER BY 1""")),

    // ---- ordered event funnel: view -> click -> purchase ------------------
    // The product-analytics staple: how many users progressed through the
    // funnel IN ORDER (each step strictly after the user's first
    // occurrence of the previous step). Three keyed min-aggregations
    // chained by per-user joins — each level shuffles only (user_id,
    // timestamp) pairs, so the plan is three narrow exchanges regardless
    // of event volume; per-user event history is never collected.
    Q("q123_event_funnel",
      (s, dir) => {
        val e = t(s, dir, "events")
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        v.agg(count(lit(1)).as("viewed"))
          .crossJoin(broadcast(c.agg(count(lit(1)).as("clicked_after_view"))))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("purchased_after_click"))))
      },
      Some("""
        WITH v AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        c AS (
          SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN v USING (user_id)
          WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
        p AS (
          SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
        SELECT (SELECT COUNT(*) FROM v) AS viewed,
          (SELECT COUNT(*) FROM c) AS clicked_after_view,
          (SELECT COUNT(*) FROM p) AS purchased_after_click""")),

    // ---- retention cohorts: signup day x activity-day offset --------------
    // The other analytics staple: users cohorted by first-signup DAY,
    // retention = distinct users active k days later (k = 0..7). All
    // integer/date math — day floors agree between Spark's micro and
    // DuckDB's nano timestamps, and the cohort day is emitted as a string
    // so the hash compare is type-stable. Shape: one distinct over
    // (user, day) — narrow — then a keyed join against the (tiny)
    // cohort frame and a two-key count-distinct aggregation.
    Q("q124_retention_cohorts",
      (s, dir) => {
        val e = t(s, dir, "events")
        val coh = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("cd"))
        val act = e.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val sz = coh.groupBy("cd").agg(count(lit(1)).as("cohort_size"))
        act.join(coh, "user_id")
          .withColumn("day_offset", datediff(col("d"), col("cd")).cast("long"))
          .filter(col("day_offset") >= 0 && col("day_offset") <= 7)
          .groupBy("cd", "day_offset")
          .agg(countDistinct("user_id").as("active_users"))
          .join(sz, "cd")
          .select(date_format(col("cd"), "yyyy-MM-dd").as("cohort"),
            col("day_offset"), col("active_users"), col("cohort_size"))
          .orderBy("cohort", "day_offset")
      },
      Some("""
        WITH coh AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS cd FROM events
          WHERE event_type = 'signup' GROUP BY 1),
        act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        sz AS (SELECT cd, COUNT(*) AS cohort_size FROM coh GROUP BY 1),
        r AS (
          SELECT cd, date_diff('day', cd, d) AS day_offset,
            COUNT(DISTINCT a.user_id) AS active_users
          FROM act a JOIN coh USING (user_id)
          WHERE date_diff('day', cd, d) BETWEEN 0 AND 7
          GROUP BY 1, 2)
        SELECT strftime(r.cd, '%Y-%m-%d') AS cohort,
          CAST(day_offset AS BIGINT) AS day_offset,
          CAST(active_users AS BIGINT) AS active_users,
          CAST(cohort_size AS BIGINT) AS cohort_size
        FROM r JOIN sz USING (cd) ORDER BY 1, 2"""))
    ,

    // ---- count-min sketch heavy hitters ------------------------------------
    // The skew-diagnosis sketch (Cormode & Muthukrishnan 2005): which join
    // keys are hot enough to salt? Keys are synthesized skewed the way the
    // bench's skew micros do it — 70% of orders collapse onto 8 hot keys
    // (~1300 rows each), the rest stay unique — so the 4x1024 sketch (noise
    // ~e/1024 * 15000 ~ 40) must surface exactly the hot 8 above the
    // rows/30 threshold. md5-bucket hashing and long counters make the
    // sketch replay bit-for-bit in DuckDB, including each key's
    // overestimate (est - exact, the collision mass in its min bucket).
    Q("q202_cms_heavy_hitters",
      (s, dir) => {
        val k = t(s, dir, "orders").select(
          when(col("o_orderkey") % 10 < 7, col("o_orderkey") % 8)
            .otherwise(col("o_orderkey")).cast("long").as("hotkey"))
        // scale-relative threshold (rows/30): each hot key carries ~8.75%
        // of rows, noise ~rows/1024 — the gap holds at every SF
        graft.ops.CountMin.heavyHitters(k, "hotkey", threshold = k.count() / 30,
          depth = 4, width = 1024)
      },
      Some("""
        WITH k AS (
          SELECT CASE WHEN o_orderkey % 10 < 7 THEN o_orderkey % 8
                      ELSE o_orderkey END AS hotkey
          FROM orders),
        ks AS (SELECT hotkey, CAST(hotkey AS VARCHAR) AS kstr FROM k),
        sk AS (
          SELECT s AS seed,
            CAST('0x' || substr(md5(CAST(s AS VARCHAR) || ':' || kstr), 1, 15)
              AS BIGINT) % 1024 AS bucket,
            COUNT(*) AS c
          FROM ks, UNNEST(generate_series(0, 3)) AS t(s)
          GROUP BY 1, 2),
        cand AS (
          SELECT hotkey, CAST(hotkey AS VARCHAR) AS kstr, COUNT(*) AS exact
          FROM k GROUP BY 1, 2),
        cb AS (
          SELECT c.hotkey, c.exact, s AS seed,
            CAST('0x' || substr(md5(CAST(s AS VARCHAR) || ':' || c.kstr), 1, 15)
              AS BIGINT) % 1024 AS bucket
          FROM cand c, UNNEST(generate_series(0, 3)) AS t(s)),
        est AS (
          SELECT cb.hotkey, cb.exact, MIN(sk.c) AS est
          FROM cb JOIN sk ON sk.seed = cb.seed AND sk.bucket = cb.bucket
          GROUP BY 1, 2)
        SELECT hotkey, CAST(est AS BIGINT) AS est,
          CAST(exact AS BIGINT) AS exact,
          CAST(est - exact AS BIGINT) AS overestimate
        FROM est WHERE est >= (SELECT COUNT(*) // 30 FROM orders)
        ORDER BY est DESC, hotkey"""))
    ,

    // ---- SCD2 history derivation --------------------------------------------
    // Kimball effective-dated dimension from a raw change log: orders as a
    // per-customer observation stream of (status, priority); consecutive
    // no-op observations collapse, each surviving version carries
    // [valid_from, valid_to) with the latest open-ended. Both engines run
    // the same two key-partitioned windows — DuckDB spells Spark's
    // !(struct <=> lag(struct)) as rn=1 OR any-attr IS DISTINCT FROM its
    // lag (equivalent on this data: the attrs are never NULL).
    Q("q203_scd2_history",
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_orderkey"))
        graft.ops.Scd2.fromChangeLog(o,
            keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
            attrCols = Seq("o_orderstatus", "o_orderpriority"),
            tieCols = Seq("o_orderkey"))
          .orderBy("o_custkey", "version")
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
        FROM v ORDER BY o_custkey, version"""))
    ,

    // ---- Unicode NFC canonicalization ---------------------------------------
    // The pre-hash cleaning step every published recipe runs (CCNet
    // normalizes before dedup): three renderings of the same appended
    // suffix — precomposed U+00E9, decomposed e+U+0301, and a zero-width-
    // space + doubled-whitespace variant — must collapse to ONE canonical
    // string. Per lang: 3x docs variants, 3x distinct raw hashes, exactly
    // docs distinct canonical hashes. Both engines run the same Unicode 15
    // NFC (java.text.Normalizer vs utf8proc) + the same strip/collapse
    // regexes, so md5(canon) matches byte-for-byte.
    Q("q204_nfc_canonicalize",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("lang"), col("text"))
        val variants = d.select(col("lang"),
            concat(col("text"), lit(" caf\u00e9")).as("v"))
          .unionAll(d.select(col("lang"),
            concat(col("text"), lit(" cafe\u0301")).as("v")))
          .unionAll(d.select(col("lang"),
            concat(col("text"), lit("\u200b  cafe\u0301")).as("v")))
        variants
          .withColumn("canon", graft.text.UnicodeNorm.canonicalizeText(col("v")))
          .groupBy("lang")
          .agg(count(lit(1)).as("variants"),
            countDistinct(md5(col("v"))).as("raw_distinct"),
            countDistinct(md5(col("canon"))).as("canon_distinct"))
          .orderBy("lang")
      },
      Some("""
        WITH va AS (
          SELECT lang, text || ' caf' || chr(233) AS v FROM documents
          UNION ALL SELECT lang, text || ' cafe' || chr(769) FROM documents
          UNION ALL SELECT lang, text || chr(8203) || '  cafe' || chr(769) FROM documents),
        c AS (
          SELECT lang, v,
            trim(regexp_replace(regexp_replace(nfc_normalize(v),
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}\x{200C}\x{200D}\x{FEFF}]',
              '', 'g'), '\s+', ' ', 'g')) AS canon
          FROM va)
        SELECT lang, COUNT(*) AS variants,
          CAST(COUNT(DISTINCT md5(v)) AS BIGINT) AS raw_distinct,
          CAST(COUNT(DISTINCT md5(canon)) AS BIGINT) AS canon_distinct
        FROM c GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- point-in-time join against the SCD2 dimension ---------------------
    // The query half of q203: each shipment (fact at l_shipdate) picks up
    // the customer-status version ACTIVE at ship time — valid_from <=
    // ship < valid_to, open-ended latest matches everything after. The
    // intervals chain disjointly by construction, so every fact matches
    // exactly one version; shipments always postdate their customer's
    // first order, so the join is inner. Plan shape: equi-join on the
    // dimension key with the interval predicate carried in the join
    // condition — per-key version counts are bounded, so the range scan
    // inside each key is, too.
    Q("q205_scd2_pointintime",
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_orderkey"))
        val dim = graft.ops.Scd2.fromChangeLog(o,
            keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
            attrCols = Seq("o_orderstatus", "o_orderpriority"),
            tieCols = Seq("o_orderkey"))
          .select(col("o_custkey"), col("o_orderstatus").as("dim_status"),
            col("valid_from"), col("valid_to"), col("version"))
        val facts = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_shipdate"))
        facts.join(dim,
            facts("o_custkey") === dim("o_custkey") &&
              col("valid_from") <= col("l_shipdate") &&
              (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
          .groupBy(col("dim_status"), col("version"))
          .agg(count(lit(1)).as("shipments"),
            countDistinct(dim("o_custkey")).as("customers"))
          .orderBy("dim_status", "version")
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
        dim AS (
          SELECT o_custkey, o_orderstatus AS dim_status,
            o_orderdate AS valid_from,
            lead(o_orderdate) OVER w2 AS valid_to,
            CAST(row_number() OVER w2 AS INT) AS version
          FROM chg
          WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        facts AS (
          SELECT o_custkey, l_shipdate
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        SELECT dim_status, version, COUNT(*) AS shipments,
          CAST(COUNT(DISTINCT dim.o_custkey) AS BIGINT) AS customers
        FROM facts JOIN dim ON facts.o_custkey = dim.o_custkey
          AND valid_from <= l_shipdate
          AND (valid_to IS NULL OR l_shipdate < valid_to)
        GROUP BY 1, 2 ORDER BY 1, 2"""))
    ,

    // ---- CMS-guided selective salted join -----------------------------------
    // The report->action wire for q202: the sketch diagnoses the hot keys,
    // selectiveSaltedInnerJoin salts ONLY those (cold keys pay zero
    // replication). Same skewed-key synthesis as q202; the oracle is the
    // PLAIN join — proving the hot/cold split + salting is row-identical
    // to the un-salted join it replaces.
    Q("q206_selective_salted_join",
      (s, dir) => {
        val k = t(s, dir, "orders").select(
          when(col("o_orderkey") % 10 < 7, col("o_orderkey") % 8)
            .otherwise(col("o_orderkey")).cast("long").as("hotkey"))
        val small = k.groupBy("hotkey")
          .agg(count(lit(1)).as("key_rows"))
          .withColumn("seg", pmod(col("hotkey"), lit(7L)))
        val hot = graft.ops.CountMin
          .heavyHitters(k, "hotkey", threshold = k.count() / 30,
            depth = 4, width = 1024)
          .select("hotkey")
        graft.ops.SkewJoin
          .selectiveSaltedInnerJoin(k, small, Seq("hotkey"), hot, saltFactor = 8)
          .groupBy("seg")
          .agg(count(lit(1)).as("fact_rows"),
            countDistinct(col("hotkey")).as("keys"),
            sum("key_rows").as("sum_key_rows"))
          .orderBy("seg")
      },
      Some("""
        WITH k AS (
          SELECT CASE WHEN o_orderkey % 10 < 7 THEN o_orderkey % 8
                      ELSE o_orderkey END AS hotkey
          FROM orders),
        small AS (
          SELECT hotkey, COUNT(*) AS key_rows, hotkey % 7 AS seg
          FROM k GROUP BY 1)
        SELECT seg, COUNT(*) AS fact_rows,
          CAST(COUNT(DISTINCT k.hotkey) AS BIGINT) AS keys,
          CAST(SUM(key_rows) AS BIGINT) AS sum_key_rows
        FROM k JOIN small USING (hotkey)
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- INCREMENTAL SCD2 merge ---------------------------------------------
    // The warehouse nightly: observations before 1997 are the existing
    // SCD2 table, the 1997+ tail arrives as an increment (a date-split
    // log is strictly-after per key by construction). The oracle is
    // q203's FULL recompute over the whole log — the exact equivalence
    // applyIncrement promises: closed history passes through, each
    // affected key's tail re-collapses against its current version, the
    // version sequence continues. Any drift in the incremental path
    // fails against the from-scratch derivation.
    Q("q211_scd2_increment",
      (s, dir) => {
        def obs(f: org.apache.spark.sql.DataFrame) = f.select(
          col("o_custkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_orderkey"))
        val o = t(s, dir, "orders")
        val existing = graft.ops.Scd2.fromChangeLog(
          obs(o.filter(col("o_orderdate") < "1997-01-01")),
          keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
          attrCols = Seq("o_orderstatus", "o_orderpriority"),
          tieCols = Seq("o_orderkey"))
        graft.ops.Scd2.applyIncrement(existing,
            obs(o.filter(col("o_orderdate") >= "1997-01-01")),
            keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
            attrCols = Seq("o_orderstatus", "o_orderpriority"),
            tieCols = Seq("o_orderkey"))
          .orderBy("o_custkey", "version")
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
        FROM v ORDER BY o_custkey, version"""))
    ,

    // ---- STREAMING SCD2 (batch replay of the CDC-feed operator) -------------
    // historyStream is the live form: closed versions append as they
    // close, currents live in per-key state (live two-batch behavior,
    // late-drop and no-op collapse are in Scd2StreamSpec). This row
    // oracles its batch replay — the identical flatMapGroupsWithState
    // plan — against the windowed derivation's CLOSED rows, string-cast
    // attrs and epoch-millis intervals exactly as the stream emits them.
    // attrs crosses the oracle boundary as canonical JSON text (the q79
    // convention) — raw LIST columns are unsortable in the compare harness.
    Q("q212_scd2_stream_replay",
      (s, dir) => {
        // the stream's tie compares on its STRING cast (documented
        // contract) — zero-pad so it orders like the oracle's numeric key
        val o = t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_orderpriority"),
          lpad(col("o_orderkey").cast("string"), 12, "0").as("tie_pad"))
        graft.ops.Scd2.historyStream(o, "o_custkey", "o_orderdate",
            Seq("o_orderstatus", "o_orderpriority"),
            Seq("tie_pad"))
          .withColumn("attrs", to_json(col("attrs")))
          .orderBy(col("k").cast("long"), col("version"))
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
        SELECT CAST(o_custkey AS VARCHAR) AS k,
          to_json([o_orderstatus, o_orderpriority]) AS attrs,
          epoch_ms(CAST(valid_from AS TIMESTAMP)) AS valid_from_ms,
          epoch_ms(CAST(valid_to AS TIMESTAMP)) AS valid_to_ms,
          version
        FROM v WHERE valid_to IS NOT NULL
        ORDER BY o_custkey, version"""))
    ,

    // ---- NEAREST as-of join with tolerance ----------------------------------
    // q62 is the classic backward as-of (latest preceding signup); the
    // time-series sibling is pandas' merge_asof(direction='nearest',
    // tolerance=...): each purchase matches its nearest signup in EITHER
    // direction, within a 6-hour gap, ties to the earlier (backward)
    // side. Same union + window composition — a running last_value
    // backward and a first_value over the reversed frame forward, then a
    // row-local pick — so there is never a per-pair join: the plan is
    // one user-partitioned sort shared by both windows.
    Q("q219_nearest_asof",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tol = 6L * 3600 * 1000
        val e = t(s, dir, "events")
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val sigTs = when(col("event_type") === "signup", col("ts"))
        val marked = e
          .withColumn("back_ts", last(sigTs, ignoreNulls = true).over(wb))
          .withColumn("fwd_ts", first(sigTs, ignoreNulls = true).over(wf))
        val p = marked.filter(col("event_type") === "purchase")
          .withColumn("back_gap",
            unix_millis(col("ts")) - unix_millis(col("back_ts")))
          .withColumn("fwd_gap",
            unix_millis(col("fwd_ts")) - unix_millis(col("ts")))
          .withColumn("pick",
            when(col("back_gap").isNotNull && col("back_gap") <= tol &&
                (col("fwd_gap").isNull || col("fwd_gap") > tol ||
                  col("back_gap") <= col("fwd_gap")), "backward")
              .when(col("fwd_gap").isNotNull && col("fwd_gap") <= tol, "forward")
              .otherwise("unmatched"))
        p.groupBy("user_id")
          .agg(count(lit(1)).as("purchases"),
            sum(when(col("pick") === "backward", 1L).otherwise(0L)).as("backward"),
            sum(when(col("pick") === "forward", 1L).otherwise(0L)).as("forward"),
            sum(when(col("pick") === "unmatched", 1L).otherwise(0L)).as("unmatched"),
            max(when(col("pick") === "backward", col("back_gap"))
              .when(col("pick") === "forward", col("fwd_gap"))).as("max_gap_ms"))
          .orderBy("user_id")
      },
      Some("""
        WITH relevant AS (
          SELECT user_id, event_type, ts, event_id FROM events
          WHERE event_type IN ('signup', 'purchase')),
        marked AS (
          SELECT user_id, event_type, ts,
            last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
            first_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts
          FROM relevant),
        p AS (
          SELECT user_id,
            epoch_ms(ts) - epoch_ms(back_ts) AS back_gap,
            epoch_ms(fwd_ts) - epoch_ms(ts) AS fwd_gap
          FROM marked WHERE event_type = 'purchase'),
        picked AS (
          SELECT user_id, back_gap, fwd_gap,
            CASE
              WHEN back_gap IS NOT NULL AND back_gap <= 21600000 AND
                (fwd_gap IS NULL OR fwd_gap > 21600000 OR back_gap <= fwd_gap)
                THEN 'backward'
              WHEN fwd_gap IS NOT NULL AND fwd_gap <= 21600000 THEN 'forward'
              ELSE 'unmatched' END AS pick
          FROM p)
        SELECT user_id, COUNT(*) AS purchases,
          CAST(SUM(CASE WHEN pick = 'backward' THEN 1 ELSE 0 END) AS BIGINT)
            AS backward,
          CAST(SUM(CASE WHEN pick = 'forward' THEN 1 ELSE 0 END) AS BIGINT)
            AS forward,
          CAST(SUM(CASE WHEN pick = 'unmatched' THEN 1 ELSE 0 END) AS BIGINT)
            AS unmatched,
          CAST(MAX(CASE WHEN pick = 'backward' THEN back_gap
                        WHEN pick = 'forward' THEN fwd_gap END) AS BIGINT)
            AS max_gap_ms
        FROM picked GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- time-weighted average (TWAP) over irregular observations -----------
    // The step-function mean every metering/pricing pipeline needs: per
    // user, each click's value holds until the next click, and the
    // average weighs each value by how long it held — NOT the row mean,
    // which a burst of short-lived readings would dominate. Weighted
    // sums accumulate as DECIMAL (order-independent, engine-exact) and
    // the mean reports at MICRO precision via integral division — fully
    // integer-exact, because decimal->double casts round differently
    // across engines at the last ulp (measured: Spark's correctly-
    // rounded BigDecimal vs a scaled double divide, 1e-14 apart). One
    // user-partitioned lead window.
    Q("q220_time_weighted_avg",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events").filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("next_ts", lead(col("ts"), 1).over(w))
          .filter(col("next_ts").isNotNull)
          .withColumn("dt_ms",
            unix_millis(col("next_ts")) - unix_millis(col("ts")))
          .groupBy("user_id")
          .agg(count(lit(1)).as("intervals"),
            sum("dt_ms").as("span_ms"),
            sum(col("value").cast("decimal(24,6)") * col("dt_ms"))
              .as("vms"))
          .withColumn("twap_micro",
            expr("CAST(vms * 1000000 AS DECIMAL(38,0)) div span_ms"))
          .drop("vms")
          .orderBy("user_id")
      },
      Some("""
        WITH c AS (
          SELECT user_id, ts, event_id, value,
            lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
          FROM events WHERE event_type = 'click'),
        iv AS (
          SELECT user_id, value,
            epoch_ms(next_ts) - epoch_ms(ts) AS dt_ms
          FROM c WHERE next_ts IS NOT NULL)
        SELECT user_id, COUNT(*) AS intervals,
          CAST(SUM(dt_ms) AS BIGINT) AS span_ms,
          CAST(CAST(SUM(CAST(value AS DECIMAL(24,6)) * dt_ms) * 1000000
            AS HUGEINT) // SUM(dt_ms) AS BIGINT) AS twap_micro
        FROM iv GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- resample + forward-fill to a regular grid --------------------------
    // The gap-fill sibling of q220: irregular click readings resampled to
    // DAY boundaries with last-observation-carried-forward — the regular
    // series a downstream model or dashboard consumes. Grid rows are
    // generated PER USER between their first and last observation (a
    // row-local sequence — no cross join against a calendar table),
    // unioned with the readings, and one running last_value window fills
    // each grid point from the latest reading at-or-before it; value
    // carried at micro precision (floor(value*1e6), IEEE-identical) so
    // the fill is hash-exact. Report per user: grid points, filled
    // points, distinct carried values, checksum of the filled series.
    Q("q221_resample_ffill",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val clicks = t(s, dir, "events").filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"),
            floor(col("value") * 1000000).cast("long").as("v_micro"))
        val grid = clicks.groupBy("user_id")
          .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("grid_date"))
          .select(col("user_id"),
            col("grid_date").cast("timestamp").as("ts"),
            lit(null).cast("long").as("event_id"),
            lit(null).cast("long").as("v_micro"),
            lit(1).as("is_grid"))
        // readings sort BEFORE a same-instant grid point (grid event_id
        // null-first would win otherwise) — order by (ts, is_grid, event_id):
        // a reading at exactly midnight fills that day's point
        val unioned = clicks.withColumn("is_grid", lit(0)).unionByName(grid)
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("is_grid"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("filled", last(col("v_micro"), ignoreNulls = true).over(w))
          .filter(col("is_grid") === 1)
          .groupBy("user_id")
          .agg(count(lit(1)).as("grid_points"),
            sum(when(col("filled").isNotNull, 1L).otherwise(0L)).as("filled_points"),
            countDistinct(col("filled")).as("distinct_values"),
            sum(col("filled")).as("series_checksum"))
          .orderBy("user_id")
      },
      Some("""
        WITH clicks AS (
          SELECT user_id, ts, event_id,
            CAST(floor(value * 1000000) AS BIGINT) AS v_micro
          FROM events WHERE event_type = 'click'),
        bounds AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
          FROM clicks GROUP BY 1),
        grid AS (
          SELECT user_id, CAST(g AS TIMESTAMP) AS ts,
            CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS v_micro,
            1 AS is_grid
          FROM bounds, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS t(g)),
        unioned AS (
          SELECT user_id, ts, event_id, v_micro, 0 AS is_grid FROM clicks
          UNION ALL SELECT * FROM grid),
        filled AS (
          SELECT user_id, is_grid,
            last_value(v_micro IGNORE NULLS) OVER (
              PARTITION BY user_id
              ORDER BY ts, is_grid, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          FROM unioned)
        SELECT user_id, COUNT(*) AS grid_points,
          CAST(SUM(CASE WHEN filled IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS filled_points,
          CAST(COUNT(DISTINCT filled) AS BIGINT) AS distinct_values,
          CAST(SUM(filled) AS BIGINT) AS series_checksum
        FROM filled WHERE is_grid = 1
        GROUP BY 1 ORDER BY 1""")),

    // ---- robust outlier report: median absolute deviation -----------------
    // Per event type: exact median, exact MAD, and the count of values more
    // than 3 MADs from the median — the robust z-score gate a curation
    // pipeline uses where mean/stddev would be dragged by the very outliers
    // it's hunting. All arithmetic is INTEGER-exact: values are scaled to
    // micros (the q221 convention), the median is carried DOUBLED (sum of
    // the two middle order statistics, so even-count medians stay integral),
    // and the MAD is carried 4× (doubled median of doubled deviations); the
    // 3-MAD test |x-m| > 3*MAD becomes 2*dev > 3*mad4/... precisely
    // 2*dev_i > 3*mad2 with dev_i = |2x_i - m2|. Scale: both medians run
    // over the per-(type, value) HISTOGRAM, never the raw rows — with
    // 2-decimal measures the histogram is bounded by the value domain, so
    // the order-statistic windows are tiny regardless of row count.
    Q("q223_mad_outliers",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") * 1000000L).cast("long").as("v"))
        def medianDoubled(hist: org.apache.spark.sql.DataFrame,
            valCol: String): org.apache.spark.sql.DataFrame = {
          // hist: (event_type, <valCol>, c) → (event_type, m2 = x_(k1)+x_(k2))
          val cnts = hist.groupBy("event_type").agg(sum("c").as("cnt"))
          val w = Window.partitionBy("event_type").orderBy(valCol)
          hist
            .withColumn("cum_end", sum("c").over(w))
            .withColumn("cum_start", col("cum_end") - col("c") + 1)
            .join(cnts, "event_type")
            .withColumn("k1", expr("(cnt + 1) div 2"))
            .withColumn("k2", expr("(cnt + 2) div 2"))
            .withColumn("hits",
              when(col("cum_start") <= col("k1") && col("k1") <= col("cum_end"), 1L).otherwise(0L) +
                when(col("cum_start") <= col("k2") && col("k2") <= col("cum_end"), 1L).otherwise(0L))
            .filter(col("hits") > 0)
            .groupBy("event_type")
            .agg(sum(col(valCol) * col("hits")).as("m2"))
        }
        // both histograms are pinned: each feeds >= 2 consumers
        // (medianDoubled alone reads its input twice — totals + main
        // chain), so un-materialized the events scan + histogram
        // aggregate re-ran up to 6x (guide §5: reused AND expensive; the
        // pinned rows are the value-domain-bounded histograms the
        // docstring's scale note already relies on). The result is
        // localCheckpoint'ed and both pins RELEASED before returning (the
        // LinkGraph.detach discipline) — a library-style caller outside
        // the harness no longer leaks two cached frames for the session.
        // Each pin is filled before its readers, whose concurrent stages
        // would otherwise each compute a not-yet-cached partition.
        def pin(df: org.apache.spark.sql.DataFrame) = {
          val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          p.count()
          p
        }
        val hist = pin(ev.groupBy("event_type", "v").agg(count(lit(1)).as("c")))
        val m2 = medianDoubled(hist, "v")
        val devHist = pin(hist.join(m2, "event_type")
          .withColumn("dev", abs(col("v") * 2 - col("m2")))
          .groupBy("event_type", "dev").agg(sum("c").as("c")))
        val mad2 = medianDoubled(devHist, "dev").withColumnRenamed("m2", "mad2")
        val out = hist.join(m2, "event_type").join(mad2, "event_type")
          .groupBy(col("event_type"), col("m2").as("median_x2"), col("mad2").as("mad_x2"))
          .agg(sum("c").as("n"),
            sum(when(abs(col("v") * 2 - col("m2")) * 2 > col("mad2") * 3, col("c"))
              .otherwise(0L)).as("n_outliers"))
          .select("event_type", "n", "median_x2", "mad_x2", "n_outliers")
          .orderBy("event_type")
          .localCheckpoint(eager = true)
        hist.unpersist()
        devHist.unpersist()
        out
      },
      Some("""
        WITH ev AS (
          SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v
          FROM events),
        med AS (
          SELECT event_type, SUM(v * hits) AS m2 FROM (
            SELECT event_type, v,
              (CASE WHEN cum_start <= k1 AND k1 <= cum_end THEN 1 ELSE 0 END)
              + (CASE WHEN cum_start <= k2 AND k2 <= cum_end THEN 1 ELSE 0 END)
                AS hits
            FROM (
              SELECT event_type, v, c,
                SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum_end,
                SUM(c) OVER (PARTITION BY event_type ORDER BY v) - c + 1
                  AS cum_start,
                (SUM(c) OVER (PARTITION BY event_type) + 1) // 2 AS k1,
                (SUM(c) OVER (PARTITION BY event_type) + 2) // 2 AS k2
              FROM (SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2)))
          WHERE hits > 0 GROUP BY 1),
        devh AS (
          SELECT ev.event_type, ABS(ev.v * 2 - med.m2) AS dev, COUNT(*) AS c
          FROM ev JOIN med ON ev.event_type = med.event_type
          GROUP BY 1, 2),
        mad AS (
          SELECT event_type, SUM(dev * hits) AS mad2 FROM (
            SELECT event_type, dev,
              (CASE WHEN cum_start <= k1 AND k1 <= cum_end THEN 1 ELSE 0 END)
              + (CASE WHEN cum_start <= k2 AND k2 <= cum_end THEN 1 ELSE 0 END)
                AS hits
            FROM (
              SELECT event_type, dev, c,
                SUM(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum_end,
                SUM(c) OVER (PARTITION BY event_type ORDER BY dev) - c + 1
                  AS cum_start,
                (SUM(c) OVER (PARTITION BY event_type) + 1) // 2 AS k1,
                (SUM(c) OVER (PARTITION BY event_type) + 2) // 2 AS k2
              FROM devh))
          WHERE hits > 0 GROUP BY 1)
        SELECT ev.event_type, COUNT(*) AS n,
          CAST(ANY_VALUE(med.m2) AS BIGINT) AS median_x2,
          CAST(ANY_VALUE(mad.mad2) AS BIGINT) AS mad_x2,
          CAST(SUM(CASE WHEN ABS(ev.v * 2 - med.m2) * 2 > mad.mad2 * 3
              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM ev JOIN med ON ev.event_type = med.event_type
                JOIN mad ON ev.event_type = mad.event_type
        GROUP BY 1 ORDER BY 1""")),

    // ---- per-group OLS trend line (exact normal equations) -----------------
    // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) per event type, x = epoch
    // day, y = micros. The moments accumulate as DECIMAL(38,0)/HUGEINT —
    // integer-exact and order-independent, so one distributed aggregate is
    // all the data movement — and only the FINAL ratio drops to double,
    // through the string round-trip both engines parse correctly-rounded
    // (the Qx.d2d discipline; a direct wide-decimal→double cast rounds
    // twice in DuckDB). r² derives from the same exact moments.
    Q("q231_ols_trend",
      (s, dir) => {
        val d38 = "decimal(38,0)"
        val ev = t(s, dir, "events").select(
          col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("value") * 1000000L).cast("long").as("y"))
        ev.groupBy("event_type")
          .agg(
            count(lit(1)).cast(d38).as("n"),
            sum(col("x").cast(d38)).as("sx"),
            sum(col("y").cast(d38)).as("sy"),
            sum((col("x") * col("y")).cast(d38)).as("sxy"),
            sum((col("x") * col("x")).cast(d38)).as("sxx"),
            sum((col("y").cast(d38) * col("y").cast(d38))).as("syy"))
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("deny", col("n") * col("syy") - col("sy") * col("sy"))
          .filter(col("den") =!= 0)
          .select(col("event_type"), col("n").cast("long").as("n"),
            (d2d(col("num")) / d2d(col("den"))).as("slope"),
            (d2d(col("num")) * d2d(col("num")) /
              (d2d(col("den")) * d2d(col("deny")))).as("r2"))
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type,
            CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
            CAST(floor(value * 1000000) AS BIGINT) AS y
          FROM events),
        m AS (
          SELECT event_type,
            CAST(COUNT(*) AS HUGEINT) AS n,
            CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
            CAST(SUM(x * y) AS HUGEINT) AS sxy,
            CAST(SUM(x * x) AS HUGEINT) AS sxx,
            SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
          FROM ev GROUP BY 1),
        t2 AS (
          SELECT event_type, n,
            n * sxy - sx * sy AS num,
            n * sxx - sx * sx AS den,
            n * syy - sy * sy AS deny
          FROM m)
        SELECT event_type, CAST(n AS BIGINT) AS n,
          CAST(CAST(num AS VARCHAR) AS DOUBLE)
            / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS slope,
          CAST(CAST(num AS VARCHAR) AS DOUBLE) * CAST(CAST(num AS VARCHAR) AS DOUBLE)
            / (CAST(CAST(den AS VARCHAR) AS DOUBLE)
               * CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS r2
        FROM t2 WHERE den <> 0 ORDER BY 1""")),

    // ---- winsorized mean: clamp at exact per-group percentiles -------------
    // The robust mean that tames tails without dropping rows: values clamp
    // at the discrete p5/p95 order statistics (smallest v whose cumulative
    // count reaches ceil(q·n) — the cross-multiplied integer rank test, no
    // float quantile-definition drift) and the mean is integral micros.
    // Scale: both thresholds come from the per-(type, value) HISTOGRAM
    // cumulative window (bounded by the value domain), the clamp is one
    // broadcast join back — raw rows never sort.
    Q("q244_winsorized_mean",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir, "events").select(col("event_type"),
          floor(col("value") * 1000000L).cast("long").as("v"))
        val hist = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.withColumn("cum", sum("c").over(w))
          .join(hist.groupBy("event_type").agg(sum("c").as("n")), "event_type")
        val thresholds = cum.groupBy("event_type")
          .agg(first("n").as("n"),
            min(when(col("cum") * 100 >= col("n") * 5, col("v"))).as("lo"),
            min(when(col("cum") * 100 >= col("n") * 95, col("v"))).as("hi"))
        hist.join(broadcast(thresholds), "event_type")
          .groupBy(col("event_type"), col("n"), col("lo"), col("hi"))
          .agg(sum(col("c") *
            greatest(col("lo"), least(col("hi"), col("v")))).as("wsum"))
          // FLOOR division: wsum can be negative (micros quantize negative
          // values), and Spark's div truncates where DuckDB's // floors —
          // subtracting the (always non-negative) pmod first makes the
          // quotient exact in both.
          .select(col("event_type"), col("n"), col("lo"), col("hi"),
            expr("(wsum - pmod(wsum, n)) div n").as("wmean_micro"))
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v
          FROM events),
        hist AS (SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        cum AS (
          SELECT event_type, v, c,
            SUM(c) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(c) OVER (PARTITION BY event_type) AS n
          FROM hist),
        th AS (
          SELECT event_type, ANY_VALUE(n) AS n,
            MIN(CASE WHEN cum * 100 >= n * 5 THEN v END) AS lo,
            MIN(CASE WHEN cum * 100 >= n * 95 THEN v END) AS hi
          FROM cum GROUP BY 1)
        SELECT h.event_type, CAST(th.n AS BIGINT) AS n, th.lo, th.hi,
          CAST(SUM(h.c * GREATEST(th.lo, LEAST(th.hi, h.v)))
            // ANY_VALUE(th.n) AS BIGINT) AS wmean_micro
        FROM hist h JOIN th ON h.event_type = th.event_type
        GROUP BY 1, 2, 3, 4 ORDER BY 1"""))
  )
}
