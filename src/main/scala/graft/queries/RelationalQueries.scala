package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Events, Profile, Relational}
import graft.functions.Text
import graft.sources.Tables
import Query.t

/** SURVEY §2b: the relational core (TPC-H-shaped analytics, windows,
  * grouping sets, sketches, format round trips). */
object RelationalQueries {

  lazy val all: Seq[Query] = Seq(
    Query("q8_pricing_summary", (s, dir) =>
      Relational.pricingSummary(t(s, dir, "lineitem"), "1998-09-02"),
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_extendedprice), 4) AS avg_price,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2"""),

    Query("q9_top_revenue", (s, dir) =>
      Relational.topRevenueOrders(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), "BUILDING", "1998-01-01"),
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2
         ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
         LIMIT 10"""),

    Query("q10_nation_revenue", (s, dir) =>
      Relational.nationRevenue(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "supplier"),
        t(s, dir, "nation"), t(s, dir, "region"), "ASIA", 1998),
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND year(o_orderdate) = 1998
         GROUP BY 1"""),

    Query("q11_window_topn", (s, dir) =>
      Relational.topNPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc), 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          col("__rn").cast("int").as("rnk")),
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                CAST(rn AS INTEGER) AS rnk
         FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn <= 3"""),

    Query("q12_rollup", (s, dir) =>
      Relational.rollupAgg(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority",
        "o_totalprice"),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_value
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""),

    Query("q13_semi_anti", (s, dir) => {
      val o = t(s, dir, "orders")
      Relational.semiAnti(t(s, dir, "customer"),
          o.filter(col("o_orderstatus") === "F").select("o_custkey"),
          o.filter(col("o_orderstatus") === "P").select("o_custkey"),
          "c_custkey", "o_custkey")
        .select("c_custkey", "c_name")
    },
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')"""),

    Query("q14_conditional_agg", (s, dir) =>
      Relational.conditionalAgg(t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"), 150000.0),
      """SELECT n_name, count(*) AS n_orders,
                count(*) FILTER (WHERE o_totalprice > 150000) AS n_high,
                round(sum(CASE WHEN o_totalprice > 150000 THEN o_totalprice ELSE 0.0 END), 2)
                  AS high_revenue,
                round(avg(CASE WHEN o_totalprice > 150000 THEN 1.0 ELSE 0.0 END), 4)
                  AS high_share
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1"""),

    // revenue & volume per part brand — broadcast the part dim
    Query("q19_brand_margin", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_partkey", "l_extendedprice", "l_quantity")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"),
          round(sum(col("l_quantity") * col("p_retailprice")), 2).as("retail_value")),
      """SELECT p_brand, count(*) AS n_items,
                round(sum(l_extendedprice), 2) AS revenue,
                round(sum(l_quantity * p_retailprice), 2) AS retail_value
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1"""),

    // supplier account stats per nation
    Query("q20_supplier_stats", (s, dir) =>
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count("*").as("n_suppliers"),
          round(min(col("s_acctbal")), 2).as("min_bal"),
          round(max(col("s_acctbal")), 2).as("max_bal"),
          round(avg(col("s_acctbal")), 4).as("avg_bal")),
      """SELECT n_name, count(*) AS n_suppliers,
                round(min(s_acctbal), 2) AS min_bal,
                round(max(s_acctbal), 2) AS max_bal,
                round(avg(s_acctbal), 4) AS avg_bal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1"""),

    // full cube over (status, priority) — all 4 grouping sets
    Query("q22_cube", (s, dir) =>
      Relational.cubeAgg(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority",
        "o_totalprice"),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_value
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""),

    // TPC-H Q17-style correlated aggregate, decorrelated into one
    // threshold agg + one co-partitioned join
    Query("q23_below_avg", (s, dir) =>
      Relational.belowAvgQtyRevenue(t(s, dir, "lineitem")),
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem l
         JOIN (SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_thresh
               FROM lineitem GROUP BY 1) t
           ON l.l_partkey = t.t_partkey
         WHERE l.l_quantity < t.qty_thresh"""),

    // fixed-values pivot: one conditional-agg pass, no discovery job
    Query("q29_pivot", (s, dir) =>
      Relational.pivotPriorityCounts(t(s, dir, "orders")),
      """SELECT o_orderstatus,
                count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1_urgent,
                count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2_high,
                count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3_medium,
                count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4_not_specified,
                count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5_low
         FROM orders GROUP BY 1"""),

    // unpivot/melt: wide measures back to (flag, measure, value)
    Query("q30_unpivot", (s, dir) =>
      Relational.unpivotReturnFlagMeasures(t(s, dir, "lineitem")),
      """WITH a AS (SELECT l_returnflag,
                           round(sum(l_quantity), 2) AS sum_qty,
                           round(sum(l_extendedprice), 2) AS sum_price,
                           round(sum(l_discount), 2) AS sum_disc
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_disc', sum_disc FROM a"""),

    // full-outer on pre-aggregated daily series, zero-filled
    Query("q31_full_outer", (s, dir) =>
      Relational.fullOuterDailyActivity(t(s, dir, "orders"), t(s, dir, "lineitem")),
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
                    FROM orders GROUP BY 1),
              l AS (SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ships
                    FROM lineitem GROUP BY 1)
         SELECT COALESCE(o.day, l.day) AS day,
                COALESCE(n_orders, 0) AS n_orders,
                COALESCE(n_ships, 0) AS n_ships
         FROM o FULL OUTER JOIN l ON o.day = l.day"""),

    // lag window over pre-aggregated daily counts
    Query("q32_lag_delta", (s, dir) =>
      Relational.dailyOrderDeltas(t(s, dir, "orders")),
      """WITH d AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                           count(*) AS n_orders
                    FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, day, n_orders,
                n_orders - lag(n_orders, 1) OVER (
                  PARTITION BY o_orderpriority ORDER BY day) AS delta
         FROM d"""),

    // ntile quartiles per segment with deterministic total order
    Query("q33_ntile", (s, dir) =>
      Relational.customerBalanceQuartiles(t(s, dir, "customer")),
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                CAST(ntile(4) OVER (
                  PARTITION BY c_mktsegment
                  ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
         FROM customer"""),

    // single-pass moment aggregates (corr / covar / stddev)
    Query("q35_stats", (s, dir) =>
      Relational.statsByReturnFlag(t(s, dir, "lineitem")),
      """SELECT l_returnflag,
                round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
                round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
                round(stddev_samp(l_discount), 4) AS disc_stddev,
                count(*) AS n_rows
         FROM lineitem GROUP BY 1"""),

    // the engine's SQL-text surface: temp views + spark.sql — the
    // same Catalyst plan as the DataFrame form (broadcast dims, one
    // fact shuffle), driven entirely from ANSI SQL
    Query("q36_sql_surface", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      t(s, dir, "nation").createOrReplaceTempView("v_nation")
      s.sql("""
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        WHERE year(o.o_orderdate) = 1997
        GROUP BY n.n_name
      """)
    },
      """SELECT n.n_name AS nation,
                count(*) AS n_orders,
                round(sum(o.o_totalprice), 2) AS revenue
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE year(CAST(o.o_orderdate AS TIMESTAMP)) = 1997
         GROUP BY n.n_name"""),

    // fixed-size quantile sketch per group in its APPROXIMATE regime,
    // hash-gated via the accuracy INVARIANT: per-group within-±2ε·n
    // rank-error booleans (computed empirically in-plan) vs the
    // oracle's derivation of the same window from exact ranks — a
    // correct GK sketch never violates its own bound, so the booleans
    // are deterministic even though the sketch values are
    // merge-order-dependent (see Relational.approxPercentileBound)
    Query("approx_quantiles", (s, dir) =>
      Relational.approxPercentileBound(t(s, dir, "orders"), accuracy = 1000),
      // the GK sketch's ACCURACY INVARIANT replayed from exact ranks:
      // the oracle derives the same ±2ε·n ± 1 rank window from exact
      // group counts and emits its non-emptiness — the boolean the
      // Spark side computes empirically from the sketch output (a
      // correct sketch never violates its doubled bound, so both sides
      // agree deterministically; a broken sketch flips Spark to false).
      // The window constants interpolate the identical Scala doubles
      // the plan uses (Double.toString round-trips through DuckDB's
      // CAST AS DOUBLE), so both engines floor/ceil the same product.
      {
      val eps = 2.0 / 1000
      def okSql(p: Double): String = {
        val pLo = p - eps
        val pHi = p + eps
        s"""(greatest(1, CAST(floor(CAST($pLo AS DOUBLE) * count(*)) AS BIGINT) - 1)
             <= least(count(*), CAST(ceil(CAST($pHi AS DOUBLE) * count(*)) AS BIGINT) + 1))"""
      }
      s"""SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 ${okSql(0.5)} AS p50_ok,
                 ${okSql(0.9)} AS p90_ok,
                 ${okSql(0.99)} AS p99_ok
          FROM orders GROUP BY 1"""
    }),

    // explicit grouping sets: status-only and priority-only subtotals
    // in one Expand pass (no union of two aggregations)
    Query("q27_grouping_sets", (s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count("*").as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("total_value")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_value
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"""),

    // set operators: customers active in 1997 split by 1998 retention
    // (EXCEPT / INTERSECT — Catalyst plans them as anti/semi joins)
    Query("q26_set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      val y97 = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
      val y98 = o.filter(year(col("o_orderdate")) === 1998).select("o_custkey")
      y97.except(y98).withColumn("status", lit("lapsed"))
        .unionByName(y97.intersect(y98).withColumn("status", lit("retained")))
    },
      """WITH y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
              y98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
         SELECT o_custkey, 'lapsed' AS status
         FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
         UNION ALL
         SELECT o_custkey, 'retained' AS status
         FROM (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98)"""),

    // exact interpolated percentiles of order value per priority
    Query("q21_percentiles", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99")),
      """SELECT o_orderpriority,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                round(quantile_cont(o_totalprice, 0.99), 4) AS p99
         FROM orders GROUP BY 1"""),

    // the scale-default twin of q21: percentile_approx sketch (O(acc)
    // memory per agg buffer vs exact percentile's full multiset — the
    // 100 TB shape). At gate accuracy (acc > 2·|group|) the sketch is
    // exact rank selection — the element at 1-based rank ceil(p·n) —
    // which the oracle reproduces with a row_number window, so this
    // IS hash-gated. At 100 TB drop acc to ~1e4: same plan, fixed
    // memory, rank error ≤ n/acc.
    Query("q21a_percentiles_sketch", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr(s"percentile_approx(o_totalprice, 0.5, $gateAccuracy)").as("p50"),
          expr(s"percentile_approx(o_totalprice, 0.9, $gateAccuracy)").as("p90"),
          expr(s"percentile_approx(o_totalprice, 0.99, $gateAccuracy)").as("p99")),
      // percentile_approx at gate accuracy = exact rank selection: the
      // element at 1-based rank ceil(p·n) in ascending order (p and the
      // product both IEEE doubles — CAST forces DuckDB off its DECIMAL
      // literal so both engines ceil the same double)
      """WITH s AS (SELECT o_orderpriority, o_totalprice AS v,
                           row_number() OVER (PARTITION BY o_orderpriority
                                              ORDER BY o_totalprice) AS rn,
                           count(*) OVER (PARTITION BY o_orderpriority) AS n
                    FROM orders)
         SELECT o_orderpriority,
                max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT) THEN v END) AS p50,
                max(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * n) AS BIGINT) THEN v END) AS p90,
                max(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DOUBLE) * n) AS BIGINT) THEN v END) AS p99
         FROM s GROUP BY 1"""),

    // CMS heavy hitters: top-20 tokens by Count-Min estimate (native
    // CmsAgg/CmsEstimate), candidates from a 20% hash-sample.
    // Rows-gated: sketch internals are engine-specific; never-under-
    // count + bounded-overcount vs exact are spec-tested
    Query("approx_topk", (s, dir) =>
      Curation.approxTopTokens(t(s, dir, "documents"),
        Text.tokens(col("text")), col("text"),
        depth = 4, width = 2048, sampleBuckets = 10, takeBuckets = 2, k = 20),
      annCmsOracle),

    // TPC-H Q7-style bilateral trade volume: both nation roles
    // broadcast; the fact shuffles only on its key joins
    Query("q46_trade_volume", (s, dir) =>
      Relational.tradeVolume(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "supplier"), t(s, dir, "nation")),
      // revenue in exact decimal: double sums flip 2dp rounding at this
      // group count (order-dependent); decimal addition commutes
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                CAST(year(o_orderdate) AS INTEGER) AS year,
                count(*) AS n_items,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS volume
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3"""),

    // equi-depth histogram: percentile cutpoints broadcast, bucket
    // assignment in-row — the skew-proof distribution profile
    Query("q48_equidepth", (s, dir) =>
      graft.operators.Profile.equidepthHistogram(t(s, dir, "orders"),
        "o_totalprice", nBuckets = 10),
      """WITH cuts AS (SELECT quantile_cont(o_totalprice,
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
                       FROM orders),
         b AS (SELECT len(list_filter(cs, c -> o_totalprice > c)) AS bucket,
                      o_totalprice AS v
               FROM orders CROSS JOIN cuts)
         SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
                min(v) AS lo, max(v) AS hi
         FROM b GROUP BY 1"""),

    // scale-default twin of q48: sketch cuts (percentile_approx) —
    // the registered 100 TB plan; exact rank selection at gate
    // accuracy keeps it hash-gated
    Query("q48a_equidepth_sketch", (s, dir) =>
      graft.operators.Profile.equidepthHistogram(t(s, dir, "orders"),
        "o_totalprice", nBuckets = 10, approxAccuracy = Some(gateAccuracy)),
      // sketch cuts = rank-selection elements (see q21a note); bucketing
      // identical to q48
      """WITH s AS (SELECT o_totalprice AS v,
                           row_number() OVER (ORDER BY o_totalprice) AS rn
                    FROM orders),
         cnt AS (SELECT count(*) AS c FROM orders),
         ps AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS p),
         cuts AS (SELECT list(s.v ORDER BY ps.p) AS cs
                  FROM ps CROSS JOIN cnt
                  JOIN s ON s.rn = CAST(ceil(ps.p * cnt.c) AS BIGINT)),
         b AS (SELECT len(list_filter(cs, c -> o_totalprice > c)) AS bucket,
                      o_totalprice AS v
               FROM orders CROSS JOIN cuts)
         SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
                min(v) AS lo, max(v) AS hi
         FROM b GROUP BY 1"""),

    // navigation/frame/rank window families over ONE shuffle+sort
    Query("q49_window_suite", (s, dir) =>
      Events.windowSuite(Tables.events(s, dir)),
      """SELECT event_id, user_id, value,
                lag(value) OVER w AS prev_value,
                lead(value) OVER w AS next_value,
                first_value(value) OVER w AS first_value,
                max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS running_max,
                round(cume_dist() OVER w, 4) AS cume
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),

    // trailing 1-hour moving average per user — VALUE-bound window
    // frame (rangeBetween on truncated epoch seconds, mirrored in the
    // oracle), not a row-count frame
    Query("q25_moving_avg", (s, dir) =>
      Relational.movingAvg(Tables.events(s, dir), "user_id", "ts", "value", 3600L)
        .select(col("user_id"), col("ts"), col("value"),
          round(col("moving_avg"), 4).as("moving_avg")),
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                round(avg(value) OVER (
                  PARTITION BY user_id
                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS moving_avg
         FROM events"""),

    // per-column table profile (ANALYZE): one scan, melted in-row;
    // exact NDV here for the oracle — the 100 TB default is the HLL
    // path (exactNdv=false, single pass, no Expand)
    Query("table_profile", (s, dir) =>
      graft.operators.Profile.profile(
        t(s, dir, "orders").withColumn("o_orderdate", to_date(col("o_orderdate"))),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice", "o_orderdate"),
        exactNdv = true),
      """WITH t AS (
           SELECT o_custkey, o_orderstatus, o_orderpriority, o_totalprice,
                  CAST(o_orderdate AS DATE) AS o_orderdate
           FROM orders)
         SELECT 'o_custkey' AS "column", count(o_custkey) AS n_nonnull,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
                CAST(min(o_custkey) AS VARCHAR) AS min_value,
                CAST(max(o_custkey) AS VARCHAR) AS max_value FROM t
         UNION ALL
         SELECT 'o_orderstatus', count(o_orderstatus),
                CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                CAST(min(o_orderstatus) AS VARCHAR),
                CAST(max(o_orderstatus) AS VARCHAR) FROM t
         UNION ALL
         SELECT 'o_orderpriority', count(o_orderpriority),
                CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                CAST(min(o_orderpriority) AS VARCHAR),
                CAST(max(o_orderpriority) AS VARCHAR) FROM t
         UNION ALL
         SELECT 'o_totalprice', count(o_totalprice),
                CAST(count(DISTINCT o_totalprice) AS BIGINT),
                CAST(min(o_totalprice) AS VARCHAR),
                CAST(max(o_totalprice) AS VARCHAR) FROM t
         UNION ALL
         SELECT 'o_orderdate', count(o_orderdate),
                CAST(count(DISTINCT o_orderdate) AS BIGINT),
                CAST(min(o_orderdate) AS VARCHAR),
                CAST(max(o_orderdate) AS VARCHAR) FROM t"""),

    // equi-width histogram of extended price (distribution profiling)
    Query("q42_histogram", (s, dir) =>
      graft.operators.Profile.histogram(t(s, dir, "lineitem"),
        "l_extendedprice", lo = 0.0, width = 5000.0, nBins = 24),
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
                count(*) AS n
         FROM lineitem
         WHERE l_extendedprice >= 0 AND l_extendedprice < 120000
         GROUP BY 1"""),

    // gap-fill resample: hourly grid per user, forward-filled last
    // value + per-step observation count; grid generated in-row,
    // events collapsed to buckets before any shuffle
    Query("q39_resample", (s, dir) =>
      Events.resampleGrid(Tables.events(s, dir), "user_id", "ts", "value", 3600L),
      """WITH obs AS (
           SELECT user_id,
                  (epoch_us(CAST(ts AS TIMESTAMP)) + 3599999999) // 3600000000 AS b,
                  CAST(ts AS TIMESTAMP) AS ts, event_id, value
           FROM events),
         per_bucket AS (
           SELECT user_id, b, n_obs, value AS v FROM (
             SELECT user_id, b, value,
                    row_number() OVER (PARTITION BY user_id, b
                      ORDER BY ts DESC, event_id DESC) AS rn,
                    count(*) OVER (PARTITION BY user_id, b) AS n_obs
             FROM obs) WHERE rn = 1),
         grid AS (
           SELECT user_id, unnest(range(bmin, bmax + 1)) AS b
           FROM (SELECT user_id, min(b) AS bmin, max(b) AS bmax FROM obs GROUP BY 1)),
         joined AS (
           SELECT g.user_id, g.b, p.v, coalesce(p.n_obs, CAST(0 AS BIGINT)) AS n_obs
           FROM grid g LEFT JOIN per_bucket p ON g.user_id = p.user_id AND g.b = p.b)
         SELECT user_id, b * 3600 AS grid_epoch_s, n_obs,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         FROM joined"""),

    // growth accounting: first-seen day per user → daily new users →
    // running total; the cumulative window sees day rows only
    Query("q40_running_distinct", (s, dir) =>
      Events.runningDistinct(Tables.events(s, dir), "user_id", "ts"),
      """WITH fs AS (SELECT user_id, CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS day
                     FROM events GROUP BY 1),
              daily AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
         SELECT day, new_users,
                CAST(sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         FROM daily"""),

    // HLL-sketch distinct users per event type: the 100 TB shape for
    // cardinality (fixed 2^p registers, partial-max merge map-side —
    // exact distinct would shuffle every (type, user) pair). The
    // repo's own deterministic HLL (avalanche64 item hash, exact
    // integer harmonic sum) — unlike approx_count_distinct, the
    // entire register array replays in the oracle's HUGEINT SQL, so
    // this sketch is hash-gated like approx_topk; accuracy vs exact
    // is additionally spec-gated (≤5%)
    Query("approx_distinct", (s, dir) =>
      Profile.hllDistinct(Tables.events(s, dir), "user_id", "event_type")
        .select(col("event_type"), col("est_distinct").as("approx_users"),
          col("n_items").as("n_events")),
      hllOracleSql)
  )

  /** percentile_approx accuracy for the oracle-gated sketch twins
    * (q21a/q47a/q48a). Above 2·n the GK sketch never merges samples
    * and query() degenerates to exact rank selection (the element at
    * 1-based rank ceil(p·n)) — reproducible in the oracle with a
    * row_number window. Largest gate-scale input is orders at sf0.1
    * (150k rows), so 1e6 keeps the whole verify surface in the exact
    * regime; production would use ~1e4 (same plan, fixed memory). */
  private[queries] val gateAccuracy = 1000000

  /** approx_topk oracle: the ENTIRE Count-Min sketch reproduced in
    * HUGEINT mod-2^64 SQL — per-occurrence poly-31 token hashes, the
    * CmsHash per-row avalanche (same constants/stages as the bloom
    * oracle), counters as sum of colliding occurrence counts per
    * (row, slot), estimates as the min over depth probes, md5
    * hash-sample candidates, (est desc, token) top-k. Integer
    * end-to-end: even collision over-counts must match exactly.
    *
    * Domain note shared by EVERY hash oracle in this file
    * (minhash/simhash/bloom/rolling_fp too): the SQL folds ord(c)
    * codepoints, and since r4 the native JVM hashes ALSO fold
    * Unicode codepoints (in-place UTF-8 decode in RollingHash /
    * TokenHashing) — identical to the old byte fold on ASCII (gate
    * hashes unchanged) and now oracle-parity-correct on the full
    * Unicode plane (TextSpec proves é/日/𝄞 fold as single
    * codepoints). */
  private def annCmsOracle: String = {
    val (depth, width, sampleBuckets, takeBuckets, k) = (4, 2048, 10, 2, 20)
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & (T - 1)
    val M = u(-7046029254386353131L) // CmsHash row constant
    val mu1 = u(-49064778989728563L)
    val mu2 = u(-4265267296055464877L)
    val consts = (0 until depth).map(i =>
      u(i.toLong * -7046029254386353131L + 1442695040888963407L))
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val constRows = consts.zipWithIndex
      .map { case (c, i) => s"($i, $c::HUGEINT)" }.mkString(", ")
    s"""WITH occ AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents),
       |cnt AS (SELECT token, count(*) AS n FROM occ WHERE token <> '' GROUP BY 1),
       |th AS (
       |  SELECT token, n, list_reduce(
       |    list_prepend(1125899906842597::HUGEINT,
       |      list_transform(string_split(token, ''), c -> ord(c)::HUGEINT)),
       |    (a, b) -> (a * 31 + b) % $T::HUGEINT) AS h
       |  FROM cnt),
       |consts(i, c) AS (VALUES $constRows),
       |m0 AS (SELECT token, n, i, xor(h, c) AS x FROM th CROSS JOIN consts),
       |m1 AS (SELECT token, n, i, xor(x, x >> 33) AS x FROM m0),
       |m2 AS (SELECT token, n, i, ${mm("x", mu1)} AS x FROM m1),
       |m3 AS (SELECT token, n, i, xor(x, x >> 33) AS x FROM m2),
       |m4 AS (SELECT token, n, i, ${mm("x", mu2)} AS x FROM m3),
       |m5 AS (SELECT token, n, i, xor(x, x >> 33) AS x FROM m4),
       |slot AS (SELECT token, n, i,
       |         (x % 9223372036854775808::HUGEINT) % $width AS p FROM m5),
       |counters AS (SELECT i, p, sum(n) AS total FROM slot GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents
       |  WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % $sampleBuckets
       |          < $takeBuckets),
       |est AS (
       |  SELECT s.token, CAST(min(c.total) AS BIGINT) AS est_count
       |  FROM slot s
       |  JOIN cand ON s.token = cand.token
       |  JOIN counters c ON c.i = s.i AND c.p = s.p
       |  WHERE s.token <> ''
       |  GROUP BY 1)
       |SELECT token, est_count FROM est
       |ORDER BY est_count DESC, token LIMIT $k""".stripMargin
  }

  /** approx_distinct oracle: the ENTIRE deterministic-HLL register
    * pipeline replayed in HUGEINT mod-2^64 SQL — avalanche64 item
    * hash (same three xor-shift/multiply stages as every sketch
    * oracle here), register = low p bits, rho = trailing zeros of the
    * remaining word + 1 via `bit_count((w & -w) - 1)` (the word fits
    * BIGINT after the unsigned shift), per-register max, EXACT scaled
    * harmonic sum in HUGEINT, then the identical estimator constant
    * (one shared double literal from [[Profile.hllEstimatorConstant]])
    * divided by the exact integer — the one float op either engine
    * performs before the shared linear-counting branch. HLL registers
    * are order-independent (max), so unlike GK quantiles there is no
    * merge-order freedom to hide. */
  private def hllOracleSql: String = {
    val p = 10
    val m = 1 << p
    val rhoCap = 64 - p + 1
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & (T - 1)
    val mu1 = u(-49064778989728563L)
    val mu2 = u(-4265267296055464877L)
    def mm(x: String, mc: BigInt): String =
      s"((($x) % 4294967296) * $mc::HUGEINT + " +
        s"(((($x) >> 32) * $mc::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val c = Profile.hllEstimatorConstant(p)
    val scale = BigInt(1) << rhoCap
    s"""WITH h0 AS (
       |  SELECT event_type,
       |         (user_id::HUGEINT +
       |          CASE WHEN user_id < 0 THEN $T::HUGEINT ELSE 0 END) AS x
       |  FROM events WHERE user_id IS NOT NULL),
       |a1 AS (SELECT event_type, xor(x, x >> 33) AS x FROM h0),
       |a2 AS (SELECT event_type, ${mm("x", mu1)} AS x FROM a1),
       |a3 AS (SELECT event_type, xor(x, x >> 33) AS x FROM a2),
       |a4 AS (SELECT event_type, ${mm("x", mu2)} AS x FROM a3),
       |a5 AS (SELECT event_type, xor(x, x >> 33) AS x FROM a4),
       |rw AS (SELECT event_type, (x % $m)::BIGINT AS b,
       |              (x >> $p)::BIGINT AS w FROM a5),
       |rho AS (SELECT event_type, b,
       |        CASE WHEN w = 0 THEN $rhoCap
       |             ELSE bit_count((w & (-w)) - 1) + 1 END AS rho FROM rw),
       |regs AS (SELECT event_type, b, max(rho) AS mr, count(*) AS c
       |         FROM rho GROUP BY 1, 2),
       |agg AS (SELECT event_type, count(*) AS nb,
       |               sum((1::BIGINT << ($rhoCap - mr))::HUGEINT) AS s,
       |               CAST(sum(c) AS BIGINT) AS n_events
       |        FROM regs GROUP BY 1),
       |est AS (SELECT event_type, $m - nb AS v,
       |               (s + ($m - nb)::HUGEINT * $scale::HUGEINT) AS num,
       |               n_events
       |        FROM agg),
       |e AS (SELECT event_type, n_events,
       |             CASE WHEN ($c / num::DOUBLE) <= ${2.5 * m}
       |                    AND v > 0
       |                  THEN $m::DOUBLE * ln($m::DOUBLE / v)
       |                  ELSE $c / num::DOUBLE END AS est
       |      FROM est)
       |SELECT event_type, round(est, 2) AS approx_users, n_events FROM e""".stripMargin
  }
}
