package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Events
import graft.sources.Tables
import Query.t
import RelationalQueries.gateAccuracy

/** SURVEY §2d: events and time series (windows, sessions, as-of
  * joins, outliers, resampling, patterns). */
object EventQueries {

  lazy val all: Seq[Query] = Seq(
    // deep semi-structured JSON: synthesize a nested document per
    // orders row (struct-in-struct, string array, array-of-struct) →
    // from_json with explicit schema → flatten + in-row array agg.
    // The oracle derives every expected value DIRECTLY from the base
    // columns, so any parse/extraction defect hash-mismatches. Item
    // prices use .5/.25 fractions — exact in binary, so the in-row
    // double sum is bit-stable across engines
    Query("json_roundtrip", (s, dir) => {
      val k = col("o_orderkey")
      // to_json owns quoting/escaping (a raw-concat synthesis is only
      // valid while the embedded strings happen to contain no quotes)
      val js = to_json(struct(
        k.as("id"),
        struct(col("o_custkey").as("key"),
          col("o_orderpriority").as("segment")).as("cust"),
        array(concat(lit("t"), (k % 7).cast("string")),
          concat(lit("t"), (k % 11).cast("string"))).as("tags"),
        array(
          struct(lit(1).as("n"), ((k % 50) + lit(0.5)).as("price")),
          struct(lit(2).as("n"), ((k % 30) + lit(0.25)).as("price"))).as("items")))
      val schema = "id BIGINT, cust STRUCT<key: BIGINT, segment: STRING>, " +
        "tags ARRAY<STRING>, items ARRAY<STRUCT<n: INT, price: DOUBLE>>"
      t(s, dir, "orders")
        .select(from_json(js, org.apache.spark.sql.types.StructType.fromDDL(schema)).as("j"))
        .select(
          col("j.id").as("id"),
          col("j.cust.key").as("cust_key"),
          col("j.cust.segment").as("segment"),
          size(col("j.tags")).as("n_tags"),
          col("j.tags")(0).as("tag_1"),
          size(col("j.items")).as("n_items"),
          aggregate(col("j.items"), lit(0.0),
            (acc, x) => acc + x.getField("price")).as("sum_price"))
    },
      """SELECT o_orderkey AS id,
                o_custkey AS cust_key,
                o_orderpriority AS segment,
                CAST(2 AS INTEGER) AS n_tags,
                't' || CAST(o_orderkey % 7 AS VARCHAR) AS tag_1,
                CAST(2 AS INTEGER) AS n_items,
                ((o_orderkey % 50) + 0.5) + ((o_orderkey % 30) + 0.25) AS sum_price
         FROM orders"""),

    // staged conversion funnel (signup → click → purchase, ordered,
    // ~28h conversion window per step)
    Query("q34_funnel", (s, dir) =>
      Events.funnelCounts(Tables.events(s, dir),
        Seq("signup", "click", "purchase"), maxGapSeconds = 100000),
      """WITH s AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS stage_ts
                    FROM events WHERE event_type = 'signup' GROUP BY 1),
              c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS stage_ts
                    FROM events e JOIN s ON e.user_id = s.user_id
                    WHERE e.event_type = 'click'
                      AND CAST(e.ts AS TIMESTAMP) >= s.stage_ts
                      AND epoch_us(CAST(e.ts AS TIMESTAMP))
                          <= epoch_us(s.stage_ts) + 100000000000 GROUP BY 1),
              p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS stage_ts
                    FROM events e JOIN c ON e.user_id = c.user_id
                    WHERE e.event_type = 'purchase'
                      AND CAST(e.ts AS TIMESTAMP) >= c.stage_ts
                      AND epoch_us(CAST(e.ts AS TIMESTAMP))
                          <= epoch_us(c.stage_ts) + 100000000000 GROUP BY 1)
         SELECT (SELECT count(*) FROM s) AS n_signup,
                (SELECT count(*) FROM c) AS n_click,
                (SELECT count(*) FROM p) AS n_purchase"""),

    // salted join of fact × dim, aggregated — the oracle proves the
    // manual skew mitigation is result-identical to the plain join
    Query("skew_salted_join", (s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"),
          xxhash64(col("l_orderkey"), col("l_linenumber")).as("__rid"))
      val dim = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(fact, dim, "suppkey", salts = 8, "__rid")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count("*").as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },
      """SELECT s_nationkey AS nationkey, count(*) AS n_items,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1"""),

    Query("q15_event_windows", (s, dir) => Events.hourlyByType(Tables.events(s, dir)),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2"""),

    Query("q16_sessionize", (s, dir) => Events.sessionize(Tables.events(s, dir), 1800.0),
      """WITH g AS (
           SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0
                     - lag(epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0) OVER w AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (
           SELECT *, CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END AS new_s
           FROM g),
         s AS (
           SELECT *, CAST(sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
           FROM f)
         SELECT user_id, session_seq, count(*) AS n_events,
                CAST(min(ts) AS TIMESTAMP) AS start_ts,
                CAST(max(ts) AS TIMESTAMP) AS end_ts,
                round(sum(value), 2) AS total_value
         FROM s GROUP BY 1, 2"""),

    Query("q17_json_extract", (s, dir) => Events.jsonPropAgg(Tables.events(s, dir)),
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
                  AS sum_k,
                round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
         FROM events GROUP BY 1"""),

    // sliding (hopping) windows: 1-hour windows every 15 minutes —
    // overlapping-window variant of q15, epoch-second window starts
    Query("q43_sliding_windows", (s, dir) =>
      Events.slidingCounts(Tables.events(s, dir), 3600, 900),
      // every event sits in exactly window/slide = 4 hopping windows:
      // starts (floor(us/slide) - k)*slide for k in 0..3 — integer µs
      // arithmetic, no timezone in play (epoch-second output)
      """WITH e AS (SELECT event_type, value,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS us
                    FROM events)
         SELECT (us // 900000000 - k.k) * 900 AS window_start_s,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
         GROUP BY 1, 2"""),

    // interval-overlap join: per error "episode" (event + value×10s
    // duration), how many same-user click episodes overlap it —
    // bucket-decomposed equi-join, not a per-key cross product
    Query("q50_interval_overlap", (s, dir) => {
      val ev = Tables.events(s, dir)
      def episodes(typ: String) = ev
        .filter(col("event_type") === typ)
        .select(col("event_id"), col("user_id"), col("ts").as("start_ts"),
          timestamp_micros(unix_micros(col("ts")) +
            round(col("value") * 10).cast("long") * 1000000L).as("end_ts"))
      Events.intervalOverlapCount(episodes("error"), episodes("click"),
          "user_id", "event_id", "event_id", "start_ts", "end_ts",
          bucketSeconds = 600)
        .select(col("event_id"), col("user_id"), col("n_overlaps"))
    },
      // closed-interval overlap (rs <= le AND ls <= re), µs integer
      // arithmetic; count DISTINCT right ids mirrors the operator's
      // bucket-dedup; LEFT JOIN keeps zero-overlap episodes at 0
      """WITH iv AS (
           SELECT event_id, user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                  epoch_us(CAST(ts AS TIMESTAMP))
                    + CAST(round(value * 10, 0) AS BIGINT) * 1000000 AS e
           FROM events)
         SELECT l.event_id AS event_id, l.user_id AS user_id,
                count(DISTINCT r.event_id) AS n_overlaps
         FROM (SELECT * FROM iv WHERE event_type = 'error') l
         LEFT JOIN (SELECT * FROM iv WHERE event_type = 'click') r
           ON r.user_id = l.user_id AND r.s <= l.e AND l.s <= r.e
         GROUP BY 1, 2"""),

    // weekly cohort retention triangle: users by first-seen week ×
    // week offset of activity
    Query("q44_cohort_retention", (s, dir) =>
      Events.cohortRetention(Tables.events(s, dir), "user_id", "ts"),
      """WITH fw AS (SELECT user_id,
                            date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cw
                     FROM events GROUP BY 1),
         act AS (SELECT DISTINCT user_id,
                        date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
                 FROM events)
         SELECT CAST(cw AS DATE) AS cohort_week,
                CAST((CAST(wk AS DATE) - CAST(cw AS DATE)) / 7 AS INTEGER)
                  AS week_offset,
                count(*) AS n_active
         FROM act JOIN fw USING (user_id)
         GROUP BY 1, 2"""),

    // z-score outliers: events > 2.5 sample stddevs from their
    // event_type mean — one broadcast moments agg, fact never shuffled
    Query("q45_zscore_outliers", (s, dir) =>
      Events.zscoreOutliers(Tables.events(s, dir), threshold = 2.5),
      """WITH st AS (SELECT event_type, avg(value) AS mu,
                            stddev_samp(value) AS sigma
                     FROM events GROUP BY 1)
         SELECT event_id, e.event_type AS event_type, value,
                round((value - mu) / sigma, 4) AS zscore
         FROM events e JOIN st USING (event_type)
         WHERE abs((value - mu) / sigma) > 2.5"""),

    // robust (median/MAD) outliers — the screen one wild value can't
    // blind, vs q45's moment-based z
    Query("q47_mad_outliers", (s, dir) =>
      Events.madOutliers(Tables.events(s, dir), threshold = 3.5),
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY 1),
         dev AS (SELECT event_id, e.event_type AS event_type, value, med,
                        abs(value - med) AS ad
                 FROM events e JOIN med USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT event_id, d.event_type AS event_type, value,
                round((value - med) / (1.4826 * mad), 4) AS robust_z
         FROM dev d JOIN mad USING (event_type)
         WHERE ad > 3.5 * 1.4826 * mad"""),

    // seasonality-aware z-screen: moments per (type, hour-of-day)
    // cell — the daily cycle stops flagging, off-hours anomalies start
    Query("q52_seasonal_outliers", (s, dir) =>
      Events.seasonalZscoreOutliers(Tables.events(s, dir), threshold = 2.5),
      """WITH e AS (SELECT event_id, event_type,
                           hour(CAST(ts AS TIMESTAMP)) AS hod, value
                    FROM events),
         st AS (SELECT event_type, hod, avg(value) AS mu,
                       stddev_samp(value) AS sigma, count(*) AS n
                FROM e GROUP BY 1, 2)
         SELECT event_id, e.event_type AS event_type,
                CAST(e.hod AS INTEGER) AS hod, value,
                round((value - mu) / sigma, 4) AS zscore
         FROM e JOIN st USING (event_type, hod)
         WHERE n >= 30 AND sigma > 0
           AND abs((value - mu) / sigma) > 2.5"""),

    // scale-default twin of q47: sketch medians (percentile_approx) —
    // fixed memory per group; exact rank selection at gate accuracy,
    // so the whole robust-z pipeline stays hash-gated
    Query("q47a_mad_sketch", (s, dir) =>
      Events.madOutliers(Tables.events(s, dir), threshold = 3.5,
        approxAccuracy = Some(gateAccuracy)),
      // sketch medians = rank-selection elements (see q21a note); the
      // rest of the robust-z pipeline is identical to q47
      """WITH m1 AS (SELECT event_type, value AS v,
                            row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                            count(*) OVER (PARTITION BY event_type) AS n
                     FROM events),
         med AS (SELECT event_type,
                        max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT) THEN v END) AS med
                 FROM m1 GROUP BY 1),
         dev AS (SELECT event_id, e.event_type AS event_type, value, med,
                        abs(value - med) AS ad
                 FROM events e JOIN med USING (event_type)),
         m2 AS (SELECT event_type, ad,
                       row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM dev),
         mad AS (SELECT event_type,
                        max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT) THEN ad END) AS mad
                 FROM m2 GROUP BY 1)
         SELECT event_id, d.event_type AS event_type, value,
                round((value - med) / (1.4826 * mad), 4) AS robust_z
         FROM dev d JOIN mad USING (event_type)
         WHERE ad > 3.5 * 1.4826 * mad"""),

    // interval containment via bucketed equi-join: purchases within
    // one hour after each signup, zero-counts kept
    Query("q24_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      Events.rangeJoinCount(
          ev.filter(col("event_type") === "signup")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts")),
          "user_id", "ts", "event_id", windowSeconds = 3600L)
        .select(col("event_id").as("signup_event_id"), col("user_id"),
          col("ts").as("signup_ts"), col("n_in_window").as("n_purchases_1h"))
    },
      """WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'signup'),
              p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase')
         SELECT s.event_id AS signup_event_id, s.user_id,
                s.ts AS signup_ts, count(p.user_id) AS n_purchases_1h
         FROM s LEFT JOIN p
           ON p.user_id = s.user_id
          AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
         GROUP BY 1, 2, 3"""),

    // point-in-time lookup: each purchase joined to the user's latest
    // signup at-or-before it (right side pre-deduped per (user, ts)
    // for a deterministic match)
    Query("q18_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("signup_event_id"))
        .select(col("user_id"), col("ts"), col("signup_event_id"),
          col("ts").as("signup_ts"))
      Events.asOfJoin(purchases, signups, "user_id", "ts",
          Seq("signup_event_id", "signup_ts"))
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("signup_event_id"), col("signup_ts"))
    },
      """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           max(event_id) AS signup_event_id
                    FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
              p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id,
                p.ts AS purchase_ts,
                s.signup_event_id,
                s.ts AS signup_ts
         FROM p ASOF LEFT JOIN s
           ON p.user_id = s.user_id AND p.ts >= s.ts"""),

    // FORWARD as-of: each click's next purchase at-or-after (the
    // attribution direction q18 can't answer); same one-shuffle
    // tagged-union plan, window traversing ts descending
    Query("q51_asof_next", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_event_id"))
        .select(col("user_id"), col("ts"), col("purchase_event_id"),
          col("ts").as("purchase_ts"))
      Events.asOfJoin(clicks, purchases, "user_id", "ts",
          Seq("purchase_event_id", "purchase_ts"), forward = true)
        .select(col("event_id"), col("user_id"),
          col("ts").as("click_ts"), col("purchase_event_id"), col("purchase_ts"))
    },
      // DuckDB's ASOF supports the <= direction natively — the forward
      // oracle is the backward one with the inequality flipped
      """WITH pu AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                            max(event_id) AS purchase_event_id
                     FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
              c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
                c.ts AS click_ts,
                pu.purchase_event_id,
                pu.ts AS purchase_ts
         FROM c ASOF LEFT JOIN pu
           ON c.user_id = pu.user_id AND c.ts <= pu.ts"""),

    // MATCH_RECOGNIZE-style sequence pattern (r11): every view whose
    // first strictly-later purchase lands within 30 min with no error
    // strictly between — two forward as-of passes on the same user
    // partitioning plus boundary filters; no per-key self-join
    Query("events_pattern", (s, dir) =>
      Events.sequenceMatch(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", startType = "view", endType = "purchase",
        blockType = "error", windowSeconds = 1800L)
        .select(col("user_id"), col("start_event_id"),
          col("end_event_id"), col("gap_us")),
      // first strictly-later purchase per view via QUALIFY row_number;
      // the no-error-between guard is a correlated NOT EXISTS — an
      // O(n²)-per-user replay the engine's two as-of passes avoid
      """WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                      min(event_id) AS event_id
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         np AS (SELECT v.user_id, v.event_id AS start_event_id,
                       v.ts AS start_ts, p.event_id AS end_event_id,
                       p.ts AS end_ts
                FROM v LEFT JOIN p
                  ON p.user_id = v.user_id AND p.ts > v.ts
                QUALIFY row_number() OVER (
                  PARTITION BY v.event_id ORDER BY p.ts) = 1)
         SELECT user_id, start_event_id, end_event_id,
                epoch_us(end_ts) - epoch_us(start_ts) AS gap_us
         FROM np
         WHERE end_ts IS NOT NULL
           AND epoch_us(end_ts) <= epoch_us(start_ts) + 1800 * 1000000
           AND NOT EXISTS (
             SELECT 1 FROM events e
             WHERE e.event_type = 'error' AND e.user_id = np.user_id
               AND CAST(e.ts AS TIMESTAMP) > np.start_ts
               AND CAST(e.ts AS TIMESTAMP) < np.end_ts)"""),

    // same point-in-time semantics through the whole-operator path:
    // custom LogicalPlan → strategy → sort-based AsOfJoinExec (each
    // side shuffles only its own columns; no null-padded union rows)
    Query("q28_asof_exec", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(round(max(col("value")), 2).as("purchase_value"))
        .select(col("user_id"), col("ts"), col("purchase_value"),
          col("ts").as("purchase_ts"))
      graft.plans.AsOf.join(clicks, purchases, "user_id", "ts",
          Seq("purchase_value", "purchase_ts"))
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"),
          col("purchase_value"), col("purchase_ts"))
    },
      """WITH pu AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                            round(max(value), 2) AS purchase_value
                     FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
              c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
                c.ts AS click_ts,
                pu.purchase_value,
                pu.ts AS purchase_ts
         FROM c ASOF LEFT JOIN pu
           ON c.user_id = pu.user_id AND c.ts >= pu.ts""")
  )
}
