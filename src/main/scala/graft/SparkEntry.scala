package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Clusters, Curation, Dedup, Events, Pipeline, Profile, Relational, Similarity}
import graft.functions.Text
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every operator the engine claims is wired here twice: a Spark
  * implementation in `queries` and (when SQL-expressible) a DuckDB
  * oracle in `oracleSql`. Column names/types match pairwise — the
  * driver sorts columns by name and hash-compares values.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** percentile_approx accuracy for the oracle-gated sketch twins
    * (q21a/q47a/q48a). Above 2·n the GK sketch never merges samples
    * and query() degenerates to exact rank selection (the element at
    * 1-based rank ceil(p·n)) — reproducible in the oracle with a
    * row_number window. Largest gate-scale input is orders at sf0.1
    * (150k rows), so 1e6 keeps the whole verify surface in the exact
    * regime; production would use ~1e4 (same plan, fixed memory). */
  private val gateAccuracy = 1000000

  /** Jelinek-Mercer mixture weight shared by the text_interp_lm plan
    * and its oracle (both coefficients interpolated from these exact
    * doubles). */
  private val interpLambda = 0.9

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Relational.nationRevenue(
      t(spark, dir, "lineitem"), t(spark, dir, "orders"),
      t(spark, dir, "customer"), t(spark, dir, "supplier"),
      t(spark, dir, "nation"), t(spark, dir, "region"),
      regionName = "ASIA", yr = 1998)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2a reference-derived pipeline operators ----
    "q1_agg" -> ((s, dir) =>
      Pipeline.countByYearCategory(t(s, dir, "orders"), "o_orderdate", "o_orderpriority")),

    "q2_pair_counts" -> ((s, dir) =>
      Pipeline.pairCounts(
          t(s, dir, "lineitem"), "l_orderkey", "l_suppkey",
          t(s, dir, "orders").select(col("o_orderkey"), year(col("o_orderdate")).as("year")),
          "o_orderkey")
        .select(col("year"), col("member_a").as("supp_a"),
          col("member_b").as("supp_b"), col("n_co").as("n_copubs"))),

    "q3_upsert_latest" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Pipeline.upsertLatest(
          o.filter(col("o_orderstatus") === "F"),
          o.filter(col("o_orderstatus") =!= "F"),
          Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("latest_date"),
          col("o_totalprice").as("totalprice"))
    }),

    // "seen" = keys appearing in the most recent batch window — stale
    // customers are the reference's is_seen=False delete set
    "q4_delete_detect" -> ((s, dir) =>
      Pipeline.deletedKeys(t(s, dir, "customer"),
          t(s, dir, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
            .select("o_custkey"),
          "c_custkey", "o_custkey")
        .select("c_custkey", "c_name")),

    "q5_volume_metrics" -> ((s, dir) =>
      Pipeline.volumeMetrics(t(s, dir, "orders"),
        col("o_orderstatus") === "O", "o_custkey")),

    "q6_explode_count" -> ((s, dir) =>
      Pipeline.explodeCount(t(s, dir, "documents"), Text.tokens(col("text")), 100)),

    "q7_member_roster" -> ((s, dir) =>
      Pipeline.memberRoster(t(s, dir, "lineitem"), "l_orderkey", "l_suppkey")),

    // ---- §2b relational core ----
    "q8_pricing_summary" -> ((s, dir) =>
      Relational.pricingSummary(t(s, dir, "lineitem"), "1998-09-02")),

    "q9_top_revenue" -> ((s, dir) =>
      Relational.topRevenueOrders(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), "BUILDING", "1998-01-01")),

    "q10_nation_revenue" -> ((s, dir) =>
      Relational.nationRevenue(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "supplier"),
        t(s, dir, "nation"), t(s, dir, "region"), "ASIA", 1998)),

    "q11_window_topn" -> ((s, dir) =>
      Relational.topNPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc), 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          col("__rn").cast("int").as("rnk"))),

    "q12_rollup" -> ((s, dir) =>
      Relational.rollupAgg(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority",
        "o_totalprice")),

    "q13_semi_anti" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Relational.semiAnti(t(s, dir, "customer"),
          o.filter(col("o_orderstatus") === "F").select("o_custkey"),
          o.filter(col("o_orderstatus") === "P").select("o_custkey"),
          "c_custkey", "o_custkey")
        .select("c_custkey", "c_name")
    }),

    "q14_conditional_agg" -> ((s, dir) =>
      Relational.conditionalAgg(t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"), 150000.0)),

    // revenue & volume per part brand — broadcast the part dim
    "q19_brand_margin" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_partkey", "l_extendedprice", "l_quantity")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"),
          round(sum(col("l_quantity") * col("p_retailprice")), 2).as("retail_value"))),

    // supplier account stats per nation
    "q20_supplier_stats" -> ((s, dir) =>
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count("*").as("n_suppliers"),
          round(min(col("s_acctbal")), 2).as("min_bal"),
          round(max(col("s_acctbal")), 2).as("max_bal"),
          round(avg(col("s_acctbal")), 4).as("avg_bal"))),

    // full cube over (status, priority) — all 4 grouping sets
    "q22_cube" -> ((s, dir) =>
      Relational.cubeAgg(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority",
        "o_totalprice")),

    // TPC-H Q17-style correlated aggregate, decorrelated into one
    // threshold agg + one co-partitioned join
    "q23_below_avg" -> ((s, dir) =>
      Relational.belowAvgQtyRevenue(t(s, dir, "lineitem"))),

    // fixed-values pivot: one conditional-agg pass, no discovery job
    "q29_pivot" -> ((s, dir) =>
      Relational.pivotPriorityCounts(t(s, dir, "orders"))),

    // unpivot/melt: wide measures back to (flag, measure, value)
    "q30_unpivot" -> ((s, dir) =>
      Relational.unpivotReturnFlagMeasures(t(s, dir, "lineitem"))),

    // full-outer on pre-aggregated daily series, zero-filled
    "q31_full_outer" -> ((s, dir) =>
      Relational.fullOuterDailyActivity(t(s, dir, "orders"), t(s, dir, "lineitem"))),

    // lag window over pre-aggregated daily counts
    "q32_lag_delta" -> ((s, dir) =>
      Relational.dailyOrderDeltas(t(s, dir, "orders"))),

    // ntile quartiles per segment with deterministic total order
    "q33_ntile" -> ((s, dir) =>
      Relational.customerBalanceQuartiles(t(s, dir, "customer"))),

    // single-pass moment aggregates (corr / covar / stddev)
    "q35_stats" -> ((s, dir) =>
      Relational.statsByReturnFlag(t(s, dir, "lineitem"))),

    // the reference's core transform, oracle-gated end-to-end:
    // synthesize a DBLP-shaped XML element per order row, parse it
    // with the pure-Column XmlPublication parser, and emit flat
    // fields — the oracle derives every expected value DIRECTLY from
    // the base columns, so any parser defect (including author
    // ordinal misalignment when pid/orcid is absent) hash-mismatches
    "xml_roundtrip" -> ((s, dir) => {
      import graft.functions.XmlPublication
      val k = col("o_orderkey").cast("string")
      val xml = concat(
        lit("<article key=\"conf/spark/o"), k,
        lit("\" mdate=\""), date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("\">"),
        lit("<author pid=\"p/P"), col("o_custkey").cast("string"),
        lit("\">Alice "), col("o_custkey").cast("string"), lit("</author>"),
        // second author has orcid but NO pid: its pid ordinal must be
        // an explicit null at position 2, never a shift
        lit("<author orcid=\"0000-"), (col("o_orderkey") % 1000).cast("string"),
        lit("\">Bob "), (col("o_orderkey") % 97).cast("string"), lit("</author>"),
        lit("<title>Order "), k, lit("</title>"),
        lit("<year>"), year(col("o_orderdate")).cast("string"), lit("</year>"),
        lit("<journal>J "), col("o_orderpriority"), lit("</journal>"),
        lit("<pages>1-"), ((col("o_orderkey") % 50) + 1).cast("string"), lit("</pages>"),
        lit("<ee>http://x/"), k, lit("</ee><ee>http://y/"), k, lit("</ee>"),
        lit("</article>"))
      t(s, dir, "orders").select(XmlPublication.parse(xml).as("p"))
        .select(
          col("p.paper_key").as("paper_key"),
          col("p.title").as("title"),
          col("p.year").as("year"),
          col("p.publication_type").as("publication_type"),
          col("p.category").as("category"),
          col("p.publisher").as("publisher"),
          col("p.authors_pids")(1).as("pid_1"),
          col("p.authors_pids")(2).as("pid_2"),
          col("p.authors_orcids")(1).as("orcid_1"),
          col("p.authors_orcids")(2).as("orcid_2"),
          col("p.authors_names")(1).as("name_1"),
          col("p.authors_names")(2).as("name_2"),
          col("p.position.pages").as("pages"),
          size(col("p.ee")).as("n_ee"),
          col("p.ee")(0).as("ee_1"),
          col("p.mdate").as("mdate"))
    }),

    // deep semi-structured JSON: synthesize a nested document per
    // orders row (struct-in-struct, string array, array-of-struct) →
    // from_json with explicit schema → flatten + in-row array agg.
    // The oracle derives every expected value DIRECTLY from the base
    // columns, so any parse/extraction defect hash-mismatches. Item
    // prices use .5/.25 fractions — exact in binary, so the in-row
    // double sum is bit-stable across engines
    "json_roundtrip" -> ((s, dir) => {
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
    }),

    // the engine's SQL-text surface: temp views + spark.sql — the
    // same Catalyst plan as the DataFrame form (broadcast dims, one
    // fact shuffle), driven entirely from ANSI SQL
    "q36_sql_surface" -> ((s, dir) => {
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
    }),

    // fixed-size quantile sketch per group in its APPROXIMATE regime,
    // hash-gated via the accuracy INVARIANT: per-group within-±2ε·n
    // rank-error booleans (computed empirically in-plan) vs the
    // oracle's derivation of the same window from exact ranks — a
    // correct GK sketch never violates its own bound, so the booleans
    // are deterministic even though the sketch values are
    // merge-order-dependent (see Relational.approxPercentileBound)
    "approx_quantiles" -> ((s, dir) =>
      Relational.approxPercentileBound(t(s, dir, "orders"), accuracy = 1000)),

    // staged conversion funnel (signup → click → purchase, ordered,
    // ~28h conversion window per step)
    "q34_funnel" -> ((s, dir) =>
      Events.funnelCounts(Tables.events(s, dir),
        Seq("signup", "click", "purchase"), maxGapSeconds = 100000)),

    // explicit grouping sets: status-only and priority-only subtotals
    // in one Expand pass (no union of two aggregations)
    "q27_grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count("*").as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("total_value"))),

    // set operators: customers active in 1997 split by 1998 retention
    // (EXCEPT / INTERSECT — Catalyst plans them as anti/semi joins)
    "q26_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val y97 = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
      val y98 = o.filter(year(col("o_orderdate")) === 1998).select("o_custkey")
      y97.except(y98).withColumn("status", lit("lapsed"))
        .unionByName(y97.intersect(y98).withColumn("status", lit("retained")))
    }),

    // exact interpolated percentiles of order value per priority
    "q21_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))),

    // the scale-default twin of q21: percentile_approx sketch (O(acc)
    // memory per agg buffer vs exact percentile's full multiset — the
    // 100 TB shape). At gate accuracy (acc > 2·|group|) the sketch is
    // exact rank selection — the element at 1-based rank ceil(p·n) —
    // which the oracle reproduces with a row_number window, so this
    // IS hash-gated. At 100 TB drop acc to ~1e4: same plan, fixed
    // memory, rank error ≤ n/acc.
    "q21a_percentiles_sketch" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr(s"percentile_approx(o_totalprice, 0.5, $gateAccuracy)").as("p50"),
          expr(s"percentile_approx(o_totalprice, 0.9, $gateAccuracy)").as("p90"),
          expr(s"percentile_approx(o_totalprice, 0.99, $gateAccuracy)").as("p99"))),

    // salted join of fact × dim, aggregated — the oracle proves the
    // manual skew mitigation is result-identical to the plain join
    "skew_salted_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"),
          xxhash64(col("l_orderkey"), col("l_linenumber")).as("__rid"))
      val dim = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(fact, dim, "suppkey", salts = 8, "__rid")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count("*").as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // ---- §2c LLM-data operators ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.6)),

    // directed containment (r10): |S_in intersect S_out| / |S_in| >= 0.8
    // catches NESTED duplication (a doc quoted whole inside a longer
    // one) that symmetric Jaccard under-scores by construction; both
    // directions derive from the same shared-count row, zero extra
    // shuffles over the Jaccard operator
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, tauC = 0.8)),

    // content-defined chunking (r11): Rabin-style boundaries at word
    // granularity (window w=4, expected chunk ≈ 8 words) — chunk
    // hashes survive the prefix/infix edits that shift every
    // fixed-stride window; no self-join, the groupBy on the 8-byte
    // chunk hash IS the candidate structure
    "dedup_cdc" -> ((s, dir) =>
      Dedup.cdcDuplicateChunks(t(s, dir, "documents"), "doc_id", "text",
        w = 4, modD = 8, minLen = 4)),

    // the doc-level CDC duplication profile: fraction of each doc
    // made of cross-document chunks — the thresholdable gate
    "dedup_cdc_docs" -> ((s, dir) =>
      Dedup.cdcDocStats(t(s, dir, "documents"), "doc_id", "text",
        w = 4, modD = 8, minLen = 4)),

    // incremental CDC: a 10% "incoming batch" probed against the
    // standing chunk index of the remaining 90% corpus — only the
    // batch is chunked, its hashes broadcast; the edit-robust twin of
    // dedup_incremental at passage granularity
    "dedup_cdc_inc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ix = graft.operators.CdcIndex.cdcIndexBuild(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3), "doc_id", "text",
        w = 4, modD = 8, minLen = 4)
      val out = graft.operators.CdcIndex.cdcProbeFromIndex(ix,
        d.filter(pmod(col("doc_id"), lit(10)) === 3), "doc_id", "text")
      ix.release()
      out
    }),

    // 64 perms / 16 bands (r=4): candidate recall at j=0.7 is
    // 1-(1-0.7^4)^16 ≈ 0.99 at half the signature cost of 128 perms
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, perms = 64, bands = 16, tau = 0.5)),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)),

    // incremental exact dedup: a 10% "incoming batch" probed against
    // the remaining 90% corpus — batch hashes broadcast, corpus
    // scanned but never shuffled; dup_of = lowest matching corpus id
    "dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.exactIncremental(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3),
        d.filter(pmod(col("doc_id"), lit(10)) === 3),
        "doc_id", "text")
    }),

    // incremental MinHash-LSH: the same batch/corpus split probed
    // through the banded index (batch bands broadcast); same sig
    // pipeline as dedup_minhash_lsh, pair sides corpus × batch
    "dedup_minhash_inc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashLshIncremental(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3),
        d.filter(pmod(col("doc_id"), lit(10)) === 3),
        "doc_id", "text", k = 3, perms = 64, bands = 16, tau = 0.5)
    }),

    // dedup-index-quality monitoring (the dedup-side ann_recall):
    // exact 3-gram Jaccard ≥ 0.6 pairs are ground truth, the
    // registered minhash-LSH pipeline the candidates — corpus-level
    // integer counts, so the gate is exact even though the index is
    // probabilistic. n_hit/n_true = pair recall.
    "dedup_recall" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // BOTH pipelines start from the identical k=3 shingle stream —
      // build the inverted index once, persist it, feed exact-Jaccard
      // truth AND the MinHash candidates from the cache (r20, guide
      // §1.2: the standalone operators each paid their own
      // scan+shingle pass; outputs are expression-identical, so the
      // declared results don't change). Both FromIndex forms return
      // filled boundaries, so the corpus-sized index is releasable
      // here and the final agg runs over the small cached pair frames.
      val cap = Dedup.autoCap(d)
      val sh = Boundary.stage(Dedup.shingleIndexOf(d, "doc_id", "text", k = 3))
      // NOTE (r20): submitting the two pipelines from two driver
      // threads (guide §2.6 back-fill) was A/B'd and measured WORSE —
      // 2.65-3.47 s wall / 4.9-7.3 s Σ executor run vs 2.40-2.47 s /
      // 3.4-3.9 s sequential over 7 quiet reps: at this SF each
      // pipeline's stages already fill all 32 cores, so concurrency
      // only adds scheduler/deserialize contention. Kept sequential.
      val truth = Dedup.ngramJaccardPairsFromIndex(sh, cap, tau = 0.6)
        .select("doc_a", "doc_b")
      val cand = Dedup.minhashLshPairsFromShingles(sh,
          perms = 64, bands = 16, tau = 0.5)
        .select("doc_a", "doc_b")
      Boundary.release(sh)
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      // ONE aggregate over a tagged union of the three (cached/
      // derived) pair sets, not three crossJoined 1-row aggregates
      // (r20, the CuratePipeline report finding): the crossJoin form
      // paid two BroadcastNestedLoopJoins plus a sequential AQE
      // micro-stage chain per term. count(when(tag)) ≡ per-source
      // count(*); values and schema unchanged.
      Seq(truth.select(lit("t").as("__t")), cand.select(lit("c").as("__t")),
          hit.select(lit("h").as("__t")))
        .reduce(_ unionByName _)
        .agg(count(when(col("__t") === "t", 1)).as("n_true"),
          count(when(col("__t") === "c", 1)).as("n_candidates"),
          count(when(col("__t") === "h", 1)).as("n_hit"))
    }),

    // synthetic embeddings top out at cos~0.51; tau=0.4 keeps the
    // operator's output non-trivial while staying a "near"-dup filter.
    // Blocking = seeded-hyperplane LSH buckets (bits × tables is an
    // index tunable, so bucket occupancy stays bounded as the corpus
    // grows — a label-column block would grow linearly and its
    // within-block all-pairs join quadratically); measured recall on
    // the gate corpus is ~8× the label-blocked form's (DedupSpec)
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4)),

    // multi-probe variant: 3 tables + Hamming-1 probing buys the
    // recall of ~8 exact-probe tables with 2.7x less signature
    // storage (the FALCONN trade); oracle expands the same probe list
    "dedup_embedding_mp" -> ((s, dir) =>
      Dedup.embeddingPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, bits = 4, tables = 3, seed = 42L, tau = 0.4,
        probeRadius = 1)),

    // embedding-index pair recall on a SAMPLED audit slice (the
    // production audit shape: exact ground truth is only ever
    // affordable for a sample — audit × corpus, never corpus²):
    // per-audit-vector integer counts of exact cosine-pairs vs the
    // registered LSH pipeline's candidates, zero-recall vecs kept
    "emb_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val audit = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val corpus = e.select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("pv"))
      val truth = corpus.crossJoin(broadcast(audit))
        .filter(col("qid") =!= col("pid") &&
          graft.functions.Vectors.cosine(col("qv"), col("pv")) >= 0.4)
        .select(col("qid"), least(col("qid"), col("pid")).as("vec_a"),
          greatest(col("qid"), col("pid")).as("vec_b"))
      val cand = Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
          dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("__hit"))
      // mark-join instead of a branched semi-join: the audit×corpus
      // cosine pass runs ONCE (truth is unbranched lineage — a
      // branch would re-scan and re-verify the corpus), the cand
      // side is the operator's eagerly-persisted pair result
      val cnt = truth.join(broadcast(cand), Seq("vec_a", "vec_b"), "left")
        .groupBy("qid").agg(count(lit(1)).as("n_true"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      audit.select(col("qid").as("vec_id"))
        .join(cnt.withColumnRenamed("qid", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    }),

    // SemDeDup-style semantic dedup end-to-end: embedding-cosine
    // pairs -> connected components -> keep min-id per cluster (the
    // composition of dedup_embedding + dedup_clusters + dedup_keep
    // over the vector space instead of the token space)
    "dedup_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val drop = Clusters.connectedComponents(
          Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
            dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4),
          "vec_a", "vec_b")
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("vec_id"))
      e.join(drop, Seq("vec_id"), "left_anti").select(col("vec_id"))
    }),

    // fuzzy near-dup by edit distance: prefix+length blocking (equi-
    // join, never n²), exact levenshtein verify on block-local pairs.
    // lenBucket = maxDist: edit distance bounds the length gap by
    // maxDist, so every within-threshold pair lands in the same or
    // adjacent bucket and the adjacent-bucket probe guarantees
    // recall. maxDist 32 (r4, was 64): bucket = maxDist means the
    // threshold ALSO sets block width — 64 doubled occupancy (pair
    // work ∝ |block|²) and the per-pair banded-DP cost for a looser
    // bound than ~1 KB near-dups need. maxBlock stays the explicit
    // gate constant the oracle mirrors (bs <= 1000); production
    // callers omit it and get the stats-derived autoCap default
    "dedup_edit" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 32, lenBucket = 32, maxBlock = Dedup.CapPolicy.Fixed(1000))),

    // pairwise near-dup output → dedup decisions: connected components
    // by min-label propagation; cluster_id = min doc id of the cluster
    "dedup_clusters" -> ((s, dir) =>
      Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.6),
          "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster_id"))),

    // INCREMENTAL connected components: the standing cluster state a
    // continuous-ingestion dedup keeps. Old labeling = CC over the
    // pairs internal to the standing corpus; new edges (any pair
    // touching a new doc) merge through the frontier-sized QUOTIENT
    // graph (labels as nodes) and a single remap join — never a full
    // recompute. r16 (verdict item 3): the standing state (labeling +
    // batch edges) is built ONCE per (session, dir) via
    // [[clustersIncStanding]] — in production both exist before the
    // fold, so the timed query is the OPERATOR (quotient CC + one
    // remap join), not the corpus pair derivation + from-scratch CC
    // the old entry re-ran per invocation. The oracle is UNCHANGED:
    // from-scratch recursive CC over ALL pairs in DuckDB, so every
    // gated run still proves incremental ≡ recompute on the emitted
    // labeling (old∪new = all pairs by construction).
    "dedup_clusters_inc" -> ((s, dir) => {
      val (labels, newEdges) = clustersIncStanding(s, dir)
      Clusters.incrementalComponents(labels, newEdges, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster_id"))
    }),

    // substring-level dedup: maximal duplicated 20-token spans across
    // docs (passage granularity whole-doc near-dup can't see)
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringDupSpans(t(s, dir, "documents"), "doc_id", "text", k = 20)),

    // the REMOVAL transform over the same spans: duplicated passages
    // dropped everywhere but their first-occurrence (min doc_id)
    // document — one surviving copy per passage corpus-wide
    "dedup_substring_remove" -> ((s, dir) =>
      Dedup.substringDupRemove(t(s, dir, "documents"), "doc_id", "text", k = 20)),

    // the dedup pipeline's end product: the corpus with every
    // non-representative cluster member removed (keep the min-id doc
    // per near-dup cluster, keep all singletons)
    "dedup_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val drop = Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6),
          "doc_a", "doc_b")
        .filter(col("node") =!= col("cluster_id"))
      docs.join(drop, docs("doc_id") === drop("node"), "left_anti")
        .select("doc_id")
    }),

    // deterministic 20% content-hash sample (train/val/test splitting
    // that survives task retries — no rand())
    "sample_hash" -> ((s, dir) =>
      Curation.hashSplit(t(s, dir, "documents"), col("text"), buckets = 100, takeBuckets = 20)
        .select(col("doc_id"), col("bucket"))),

    // LEAKAGE-FREE holdout: the 20% hash split hardened against
    // near-dup leakage — train docs sharing a jaccard≥0.6 cluster
    // with a test doc are quarantined as 'leaked' (a plain hash split
    // trains on near-copies of its own eval set)
    "sample_holdout" -> ((s, dir) =>
      Curation.holdoutSplit(t(s, dir, "documents"), "doc_id", "text",
        buckets = 100, testBuckets = 20, k = 3, tau = 0.6)),

    // per-stratum hash sampling: rebalance the corpus by keeping 10%
    // of English, 50% of every other language — stateless filter
    "sample_stratified" -> ((s, dir) =>
      Curation.stratifiedHashSample(t(s, dir, "documents"), "lang", col("text"),
          rates = Map("en" -> 0.1), defaultRate = 0.5)
        .select(col("doc_id"), col("lang"), col("bucket"))),

    // fixed-iteration PageRank over the supplier co-occurrence graph
    // (suppliers sharing an order, symmetrized) — the web-corpus
    // quality signal and the canonical iterative-join workload
    "graph_pagerank" -> ((s, dir) => {
      import graft.functions.expr.NativeFunctions.sorted_pairs
      // pre-repartition on the ~unique set key (the r15 q2 /
      // hotSupplierGraph finding, r20: 1.34-1.77 → 1.25-1.28 s;
      // OPTIMIZATION_r20.md §10): partial agg compresses nothing at ~4 rows per
      // order and its second hash-map build is real cost; the
      // exchange carries raw (key, member) rows and both collect_set
      // phases land in one stage
      val sets = t(s, dir, "lineitem")
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_suppkey"))).as("__ms"))
      val pairs = sets.select(explode(sorted_pairs(col("__ms"))).as("__p"))
        .select(col("__p.a").as("a"), col("__p.b").as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      // truncateEvery = iterations: one materialization barrier for
      // the whole 3-iteration run (plan depth stays ∝ 3 — bounded)
      graft.operators.Graph.pagerank(edges, "src", "dst", iterations = 3,
        truncateEvery = 3)
        .select(col("node").as("suppkey"), round(col("rank"), 6).as("pagerank"))
    }),

    // PageRank with dangling-mass redistribution, on the DIRECTED
    // pair graph (a < b, no symmetrization — the max supplier of each
    // order emits nothing: genuine danglers). Each iteration adds
    // d·D/N so mass sums to 1 exactly (conservation spec); oracle
    // unrolls the iterations with the dangling scalar per round
    "graph_pagerank_dangling" -> ((s, dir) => {
      import graft.functions.expr.NativeFunctions.sorted_pairs
      // pre-repartitioned set gather — same finding as
      // graph_pagerank above (OPTIMIZATION_r20.md §10)
      val sets = t(s, dir, "lineitem")
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_suppkey"))).as("__ms"))
      val edges = sets.select(explode(sorted_pairs(col("__ms"))).as("__p"))
        .select(col("__p.a").as("src"), col("__p.b").as("dst"))
        .distinct()
      graft.operators.Graph.pagerank(edges, "src", "dst", iterations = 3,
        truncateEvery = 3, danglingRedistribution = true)
        .select(col("node").as("suppkey"), round(col("rank"), 6).as("pagerank"))
    }),

    // triangle census + local clustering coefficient (r11) over the
    // HOT supplier co-occurrence graph: edges are pairs whose
    // co-occurrence count clears the p95 of the pair-count
    // distribution (the quantile is a 1-row agg collected to a
    // literal — the trained-model-as-literals convention; the raw
    // graph is near-complete on this synthetic corpus, and a triangle
    // census of K_n measures nothing). Degree orientation bounds the
    // wedge fan-out at O(m^1.5) — the plan survives hubs
    "graph_triangles" -> ((s, dir) =>
      graft.operators.Graph.triangleCensus(hotSupplierGraph(s, dir), "sa", "sb")),

    // deterministic synchronous label propagation (r11): community
    // detection over the SAME hot (p95-thresholded) supplier
    // co-occurrence graph the triangle census reads — 3 fixed rounds,
    // most-frequent-neighbor-label with min-label ties, every
    // per-round shuffle keyed on a node id (co-partitioned on a real
    // cluster). Oracle unrolls the 3 rounds as CTEs
    "graph_lpa" -> ((s, dir) =>
      graft.operators.Graph.labelPropagation(hotSupplierGraph(s, dir), "sa", "sb",
          iterations = 3)
        .select(col("node").as("suppkey"), col("community"))),

    // URL canonicalization dedup, oracle-gated end-to-end by the
    // synthesize-parse round trip (the xml_roundtrip pattern): build a
    // messy URL per order (case-jittered host, default port, tracking
    // params, trailing-slash jitter, fragment), canonicalize, group —
    // the oracle derives the expected canonical DIRECTLY from the base
    // columns, so any canonicalization defect hash-mismatches
    "dedup_url" -> ((s, dir) => {
      import graft.functions.Urls
      val even = col("o_orderkey") % 2 === 0
      val url = concat(
        when(even, lit("HTTPS://WWW.Shop")).otherwise(lit("https://www.shop")),
        (col("o_custkey") % 5).cast("string"),
        when(even, lit(".COM:443")).otherwise(lit(".com")),
        lit("/cat/"), lower(col("o_orderpriority")), lit("/"),
        (col("o_orderkey") % 200).cast("string"),
        when(col("o_orderkey") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&z=9&a="), (col("o_orderkey") % 7).cast("string"),
        lit("#sec"), col("o_orderkey").cast("string"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), Urls.canonicalize(url).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count("*").as("n_dups"), min(col("o_orderkey")).as("min_key"))
    }),

    // per-source quota: at most 20 docs per source, chosen by
    // deterministic hash order — the per-domain cap of a web corpus
    "sample_domain_cap" -> ((s, dir) =>
      Curation.stratumCap(t(s, dir, "documents"), "source", "doc_id", maxPerStratum = 20)
        .select(col("doc_id"), col("source"), col("cap_rank").cast("int").as("cap_rank"))),

    // mixture resampling: pull en down to a 25% share and de toward
    // 35%, leave unmapped languages at a flat 60% keep rate
    "sample_mixture" -> ((s, dir) =>
      Curation.mixtureSample(t(s, dir, "documents"), "lang", col("n_chars"),
          col("text"), targetShares = Map("en" -> 0.25, "de" -> 0.35),
          defaultRate = 0.6)
        .select(col("doc_id"), col("lang"))),

    // token-budget planner (r11): per-language available vs target
    // tokens under a 100k budget with a 4-epoch repetition ceiling —
    // one map-side-combined aggregate, shares as literal CASE
    "sample_token_budget" -> ((s, dir) =>
      Curation.tokenBudget(t(s, dir, "documents"), "lang",
        Text.tokens(col("text")),
        shares = Map("en" -> 0.3, "de" -> 0.2, "es" -> 0.2,
          "fr" -> 0.2, "zh" -> 0.1),
        totalBudget = 100000L, maxEpochs = 4.0)),

    // temperature-scaled mixture (alpha=0.5): output language shares
    // follow w^alpha normalization — low-resource languages
    // up-weighted, no stratum up-sampled, retention maximal
    "sample_temperature" -> ((s, dir) =>
      Curation.temperatureSample(t(s, dir, "documents"), "lang",
          col("n_chars"), col("text"), alpha = 0.5)
        .select(col("doc_id"), col("lang"))),

    // DSIR importance weights (Xie et al. 2023): per-doc hashed-bag
    // log likelihood ratio of the en target slice vs the raw corpus
    // over 32 poly-31 unigram buckets — the data-selection scorer;
    // model state is 32 log-ratios, corpus scanned twice, no shuffle
    "sample_dsir" -> ((s, dir) =>
      Curation.dsirWeights(t(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en", nBuckets = dsirBuckets)),

    // the DSIR draw: Gumbel-top-100 ∝ exp(logweight) with
    // deterministic hash-derived noise (retry/speculation-safe),
    // selection a distributed TakeOrdered — never a global sort
    "sample_dsir_select" -> ((s, dir) =>
      Curation.dsirSelect(t(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en", nBuckets = dsirBuckets, k = 100)),

    // data-recipe repeat factors (epochs): src0 pushed past the 4.0
    // clamp, src1 up-sampled ~3.5x, src2 slightly down-sampled,
    // everything else held at 1 epoch — budget is a factor of total
    // corpus tokens, so the recipe is scale-invariant
    "sample_epochs" -> ((s, dir) =>
      Curation.epochsSample(t(s, dir, "documents"), "source", "doc_id",
        Text.tokenCount(col("text")), epochShares,
        budgetFactor = 1.0, maxEpochs = 4.0)),

    // semantic decontamination: corpus embeddings probed against a
    // broadcast eval set (vec_id < 8 plays the benchmark) — the
    // paraphrase leakage n-gram/Bloom decon can't see
    "decon_embedding" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Curation.contaminationFlagsEmbedding(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", tau = 0.4)
    }),

    // k-anonymity suppression over the (lang, source) quasi-identifier
    // pair: rows in combinations seen < 25 times are dropped
    "privacy_kanon" -> ((s, dir) =>
      Curation.kAnonymize(t(s, dir, "documents"), Seq("lang", "source"), k = 25)
        .select(col("doc_id"), col("lang"), col("source"))),

    // l-diversity (r10): the homogeneity-attack guard k-anonymity
    // lacks — quasi-groups (source, size bucket) keep only if they
    // carry >= 3 distinct langs (the sensitive column here); the
    // gate suppresses a quarter of the corpus, so the arithmetic is
    // live, not vacuous
    "privacy_ldiv" -> ((s, dir) =>
      Curation.lDiversify(
        t(s, dir, "documents").withColumn("size_bucket",
          floor(col("n_chars") / lit(100.0)).cast("long")),
        Seq("source", "size_bucket"), "lang", l = 3)
        .select(col("doc_id"), col("source"), col("size_bucket"),
          col("lang"))),

    // t-closeness (r11): the skewness-attack guard — quasi-groups
    // whose lang distribution drifts more than TV = 1/4 from the
    // corpus distribution are suppressed; the gate is exact integer
    // arithmetic (no float threshold), the reported tv is display-
    // rounded. Live at both SFs (suppresses ~75% / ~1% of rows)
    "privacy_tclose" -> ((s, dir) =>
      Curation.tCloseness(
        t(s, dir, "documents").withColumn("size_bucket",
          floor(col("n_chars") / lit(100.0)).cast("long")),
        Seq("source", "size_bucket"), "lang", tNum = 1, tDen = 4)
        .select(col("doc_id"), col("source"), col("size_bucket"),
          col("lang"), col("tv"))),

    // C4-style cleaning flags: word-count bounds, >=2 sentences, no
    // curly braces / lorem-ipsum boilerplate
    "text_c4_filters" -> ((s, dir) =>
      Curation.c4Filters(t(s, dir, "documents"), "doc_id", "text",
        minWords = 10, maxWords = 50000, minSentences = 2)),

    // fastText-style classifier gate: logistic score over cheap text
    // features, literal weights, one codegen'd pass — keep = z > 0
    "quality_classifier" -> ((s, dir) =>
      Curation.qualityClassifier(t(s, dir, "documents"), "doc_id", "text",
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0)),

    // the composite gate a production corpus actually ships: C4
    // heuristics ∧ classifier logit ∧ repetition screen, with each
    // component flag kept for filter attribution; the two in-row
    // gates share one scan/projection, only repetition aggregates.
    // minSentences = 0 here: the synthetic corpus carries no
    // sentence punctuation, and a constant-false composite would
    // gate nothing — the word-bound, classifier and repetition
    // components all vary on this corpus
    "quality_ensemble" -> ((s, dir) =>
      Curation.qualityEnsemble(t(s, dir, "documents"), "doc_id", "text",
        minWords = 10, maxWords = 50000, minSentences = 0,
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0,
        maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05)),

    // the FUNNEL over the ensemble's attribution flags: how many
    // docs each gate kills (counted independently — gates overlap)
    // and how many survive everything — the one-row dashboard a
    // curation run publishes
    "quality_report" -> ((s, dir) =>
      Curation.qualityEnsemble(t(s, dir, "documents"), "doc_id", "text",
          minWords = 10, maxWords = 50000, minSentences = 0,
          bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
          wTokenLen = 0.1, wPunct = -4.0,
          maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("c4_keep"), 1L).otherwise(0L)).as("killed_c4"),
          sum(when(!col("clf_keep"), 1L).otherwise(0L)).as("killed_classifier"),
          sum(when(!col("rep_ok"), 1L).otherwise(0L)).as("killed_repetition"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("survivors"))
        .select(col("n_docs"), col("killed_c4"), col("killed_classifier"),
          col("killed_repetition"), col("survivors"),
          round(col("survivors") / col("n_docs").cast("double"), 4)
            .as("keep_rate"))),

    // PSI drift monitor (r11): Laplace-smoothed population-stability
    // index between the even and odd doc_id halves over fixed char-
    // and token-count buckets — the standing data-quality monitor;
    // shuffles move ≤ B rows per feature, totals are broadcast scalars
    "quality_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Profile.driftPsi(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        Seq(
          "chars" -> least(floor(col("n_chars") / lit(64)), lit(9)),
          "tokens" -> least(floor(size(Text.tokens(col("text"))) / lit(16)), lit(9))),
        nBuckets = 10)
    }),

    // benchmark decontamination: docs from sources src0/src1 act as the
    // held-out eval set; corpus docs sharing any word-5-gram are flagged
    "decon_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      Curation.contaminationFlags(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", k = 5)
    }),

    // the STANDING decon index's exact probe, driver-gated against
    // the SAME oracle as decon_ngram — the stored-tables path must
    // flag identically to the one-shot operator (index frames are
    // benchmark-sized localCheckpoints, released by the context
    // cleaner when the result frame drops)
    "decon_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      val ix = graft.operators.DeconIndex.deconIndexBuild(
        docs.filter(isBench), "doc_id", "text", n = 5)
      graft.operators.DeconIndex.deconProbeFromIndex(
        ix, docs.filter(!isBench), "doc_id", "text")
    }),

    // the INVERSE decon view: per benchmark doc, how much of it
    // leaked (distinct shingles + corpus docs carrying them,
    // zero-leak bench docs kept) — the compromised-eval report an
    // eval owner reads before trusting a score
    "decon_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      Curation.contaminationReport(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", k = 5)
    }),

    // Bloom-filter decontamination: benchmark compresses to a 512 KB
    // broadcast bit array; every corpus doc probed in-row (native
    // BloomAgg/BloomContainsAny) — the corpus is NEVER shuffled.
    // Oracle reproduces the exact bit pipeline in HUGEINT SQL, so
    // even the false positives must match
    "decon_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      Curation.contaminationFlagsBloom(
        docs.filter(!isBench), docs.filter(isBench),
        "doc_id", "text", n = 5, numBits = 1 << 22, kHashes = 3)
    }),

    // Gopher-style intra-doc repetition stats + keep flag
    "text_repetition" -> ((s, dir) =>
      Curation.repetitionStats(t(s, dir, "documents"), "doc_id", "text",
        maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05)),

    // cross-doc boilerplate: fraction of each doc's distinct
    // 3-grams appearing in >= 3 docs corpus-wide (template/header
    // text the within-doc repetition stats never see)
    "quality_boilerplate" -> ((s, dir) =>
      Curation.boilerplateStats(t(s, dir, "documents"), "doc_id", "text",
        k = 3, dfMin = 3L)),

    // distributed Lloyd k-means over embeddings (ids-only output).
    // Hash-gated: centroids round to 6dp at each iteration edge, which
    // makes the whole Lloyd trajectory engine-reproducible (unrounded,
    // distributed summation order leaves centroid ulps engine-
    // specific); the oracle unrolls all 3 iterations in SQL
    "emb_kmeans" -> ((s, dir) =>
      Similarity.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3, roundTo = Some(6))),

    // power-iteration PCA (r11): 3 unrolled iterations from the
    // uniform unit start, iteration-edge 6dp rounding (the emb_kmeans
    // trade), per-vector projection onto the dominant component as
    // dot(v, pc) − dot(μ, pc) — the two folds the oracle mirrors
    // term-for-term
    "emb_pca" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, pc, _) = Similarity.pcaTopComponent(e, "embedding", iters = 3)
      var muDot = 0.0
      var i = 0
      while (i < pc.length) { muDot += mu(i) * pc(i); i += 1 }
      e.select(col("vec_id"),
        round(graft.functions.Vectors.dot(col("embedding"),
          array(pc.map(lit).toIndexedSeq: _*)) - lit(muDot), 4).as("pc1"))
    }),

    // the PCA monitor's second readout (r11): per-vector residual —
    // what the dominant direction does NOT explain; low residual =
    // the vector lives on the rogue axis
    "emb_pca_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, pc, _) = Similarity.pcaTopComponent(e, "embedding", iters = 3)
      Similarity.pcaResiduals(e, "vec_id", "embedding", mu, pc)
    }),

    // k-center greedy coreset (r11 — farthest-point sampling,
    // Gonzalez '85 / Sener & Savarese '18): the diversity-selection
    // dial next to DSIR's importance dial; every vector labeled with
    // its nearest chosen center + exact squared distance
    "sample_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8)._2),

    // top-3 characteristic terms per document by smoothed TF-IDF
    "text_tfidf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.tfidfTopTerms(d, "doc_id", Text.tokens(col("text")), k = 3)
    }),

    // PMI collocations (r11): phrase-mining signal over unordered
    // token pairs within a 2-position window; pairs generated IN-ROW
    // (no positional self-join), min-count 5, corpus totals broadcast
    "text_pmi" -> ((s, dir) =>
      Curation.pmiCollocations(t(s, dir, "documents"), col("text"),
        window = 2, minCount = 5L)),

    // BM25 (Lucene idf form) top-20 docs for a literal query bag —
    // the retrieval scorer of CCNet-style domain mining / RAG corpus
    // building; corpus stats (df, N, avgdl) are one broadcast 1-row
    // agg, scoring is an in-row pass, selection a TakeOrdered
    "text_bm25" -> ((s, dir) =>
      Curation.bm25TopK(t(s, dir, "documents"), "doc_id", col("text"),
        terms = bm25Terms, k = 20)),

    // exact positional PHRASE search (r11): the retrieval primitive
    // bag-of-words BM25 cannot express — per-term postings filtered
    // BEFORE the (doc, pos+offset) chain joins
    "text_phrase_search" -> ((s, dir) =>
      Curation.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("row", "column", "sort"))),

    // proximity variant: all terms within an 8-token window, any
    // order — minimum span reported
    "text_phrase_prox" -> ((s, dir) =>
      Curation.proximitySearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("row", "column", "sort"), maxSpan = 8)),

    // CMS heavy hitters: top-20 tokens by Count-Min estimate (native
    // CmsAgg/CmsEstimate), candidates from a 20% hash-sample.
    // Rows-gated: sketch internals are engine-specific; never-under-
    // count + bounded-overcount vs exact are spec-tested
    "approx_topk" -> ((s, dir) =>
      Curation.approxTopTokens(t(s, dir, "documents"),
        Text.tokens(col("text")), col("text"),
        depth = 4, width = 2048, sampleBuckets = 10, takeBuckets = 2, k = 20)),

    // content-addressed manifest over an opaque binary payload column
    // (payload = the docs' UTF-8 bytes here; any media bytes in
    // production) — the upload-once/reference-everywhere dedup shape
    "mm_manifest" -> ((s, dir) =>
      graft.operators.Multimodal.contentManifest(
        t(s, dir, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload")),

    // REAL mp4 container metadata, gated end-to-end: skeleton
    // payloads (ftyp + moov/mvhd/trak/hdlr boxes) built per doc in
    // the plan, parsed back by the ISO-BMFF box walker; the oracle
    // derives the expected values arithmetically, so any framing or
    // header-offset bug in encode OR parse breaks the hash
    "mm_video_meta" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val durMs = 1000L + (id % 50) * 200L
          val handlers = if (id % 2 == 0) Seq("vide") else Seq("vide", "soun")
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.encodeMp4Skeleton(durMs, 600L, handlers),
            graft.operators.Multimodal.MediaMeta("video/mp4", 0, 0, durMs, "h264"))
        }
      graft.operators.Multimodal.videoMetadata(rows)
        .toDF().select(col("media_id"), col("major_brand"),
          col("duration_ms"), col("timescale"), col("n_tracks"))
    }),

    // 128-token chunks every 64 tokens (retrieval/embedding prep)
    "text_chunk" -> ((s, dir) =>
      Curation.chunkTokens(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), chunkLen = 128, stride = 64)),

    // corpus-unigram average log-likelihood per doc (quality signal)
    "text_logprob" -> ((s, dir) =>
      Curation.unigramLogProb(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")))),

    // conditional bigram LM score (CCNet direction): word ORDER now
    // matters, unlike the unigram signal
    "text_bigram_lm" -> ((s, dir) =>
      Curation.bigramLogProb(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")))),

    // interpolated (Jelinek-Mercer) bigram+unigram LM — the CCNet
    // shape: rare-prefix MLE overconfidence cushioned by the unigram
    // mixture; hash-keyed like bigramLogProb
    "text_interp_lm" -> ((s, dir) =>
      Curation.interpLogProb(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), lambda = interpLambda)),

    // CCNet-style perplexity triage (r10): head/middle/tail buckets
    // by interpolated-LM likelihood, cut at exact score quantiles —
    // two percentile scalars broadcast back over the scored corpus,
    // no global sort (the shape CCNet runs on Common Crawl)
    "quality_perplexity" -> ((s, dir) =>
      Curation.perplexityBuckets(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), lambda = interpLambda,
        headQ = 0.3, tailQ = 0.3)),

    // fixed-budget sequence packing per source shard (2048 tokens)
    "pack_sequences" -> ((s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "source", "doc_id",
        Text.tokenCount(col("text")), budget = 2048)),

    // packing EFFICIENCY readout: per-source pack count, token load
    // and fill fraction vs the 2048 budget — the waste monitor of
    // the sequence writer (fill well under 1 means the budget or the
    // doc-length mix needs retuning)
    "pack_eval" -> ((s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "source", "doc_id",
          Text.tokenCount(col("text")), budget = 2048)
        .groupBy(col("source"))
        .agg(countDistinct(col("pack_id")).as("n_packs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"))
        .select(col("source"), col("n_packs"), col("n_tokens"),
          round(col("n_tokens") / (col("n_packs") * lit(2048.0)), 4)
            .as("fill"))),

    // PII-style scrub: emails then number runs → typed placeholders;
    // output is counts + a fingerprint of the redacted text
    "text_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(Text.emailPattern), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Text.numberPattern), lit(0))).as("n_nums"),
        md5(Text.redact(col("text")).cast("binary")).as("redacted_fp"))),

    // per-source distribution gate: trim the 5% tails of n_chars
    "quality_gate" -> ((s, dir) =>
      Curation.percentileGate(t(s, dir, "documents"), "source", col("n_chars"),
          0.05, 0.95, col("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("pct_rank"), 4).as("pct_rank"))),

    "ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    }),

    // scalar-quantized (SQ8) top-k (r10): 1 byte/dim codes against
    // per-dimension corpus [min,max], queries rank exact cosine over
    // the DEQUANTIZED codes — the no-training compression point
    // between flat and PQ; oracle mirrors the quantize/dequantize
    // arithmetic term-for-term in list_transform
    "ann_sq8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    }),

    // hash-gated: the oracle rebuilds the identical seeded hyperplane
    // set as ±1 literals and replays signature -> bucket join ->
    // cosine rerank in SQL
    "ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, bits = 4, tables = 8, seed = 42L, k = 5)
    }),

    // recall@5 of the LSH index vs exact brute force — the
    // index-quality EVALUATION loop (at 100 TB you monitor recall
    // continuously and retune bits/tables when it sags); integer
    // per-query intersection counts, zero-recall queries kept at 0
    "ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 8)
      val queries = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      val lsh = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
          dim = 64, bits = 4, tables = 8, seed = 42L, k = 5)
        .select("query_id", "neighbor_id")
      val m = lsh.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_match"))
      exact.select("query_id").distinct()
        .join(m, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          lit(5).as("k"))
    }),

    "ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", nCentroids = 16, nprobe = 8, k = 5)
    }),

    // product-quantization ANN: corpus vectors as packed 8-byte codes
    // + exact norms (32× compression), per-candidate scoring = m table
    // lookups (native PqEncode/PqAdc); recall vs ann_topk spec-tested.
    // HASH-GATED (r4): codebook training is deterministic seeded
    // Lloyd with 6dp centroid rounding at each iteration edge, so the
    // oracle re-derives the identical codebook in SQL (unrolled
    // per-subspace iterations) and replays encode -> ADC shortlist ->
    // exact rerank; gate iterations = 3 (production raises iters —
    // identical plan, the trajectory just runs longer)
    "ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", m = 8, kCent = 32, k = 5,
        iters = 3, roundTo = Some(6))
    }),

    // IVF-PQ composite (the FAISS-shape 100 TB index): coarse lists
    // prune the scan to nprobe/nCentroids of the corpus, PQ codes
    // shrink what IS scanned to 16 bytes/vector, exact rerank only
    // the shortlist. HASH-GATED by composing the ann_ivf and ann_pq
    // oracles: both the coarse centroid set and the PQ codebook are
    // re-derived in SQL, and ADC scoring is replayed restricted to
    // the probed lists
    "ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", nCentroids = 16, nprobe = 8,
        m = 8, kCent = 32, k = 5, iters = 3, roundTo = Some(6))
    }),

    // BPE subword training, hash-gated end to end: 3 unrolled merge
    // rounds (the emb_kmeans gate pattern — production raises
    // nMerges; identical loop, longer trajectory). Each round = one
    // adjacent-pair aggregation over the word-frequency vocab with
    // deterministic (count desc, lhs, rhs) ties; the oracle re-runs
    // every round in SQL, replaying the shared fold-merge as a
    // recursive CTE, so the learned rules must match exactly
    "text_bpe" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Bpe.train(t(s, dir, "documents"), "text", nMerges = 3)
        .merges.toDF()
    }),

    // the learned rules APPLIED (r5 verdict item 7): every
    // (doc_id, word) occurrence encoded by the trained model — the
    // train→apply path under ONE gate. The oracle joins occurrences
    // to its fully-merged training vocab (which IS 3-rule encode of
    // every vocab word); subwords '|'-joined for engine-comparable
    // hashing
    "text_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, "text", nMerges = 3)
      graft.operators.Bpe.encodeWords(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("word"),
          concat_ws("|", col("subwords")).as("subwords"))
    }),

    // tokenizer EVALUATION: corpus-level fertility (subwords/word)
    // and compression (chars/subword) of the trained BPE — the
    // quality readout a tokenizer deployment monitors (a fertility
    // regression means the vocab no longer fits the corpus); one
    // aggregate over the same train→apply pipeline the encode gate
    // replays
    "text_bpe_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, "text", nMerges = 3)
      graft.operators.Bpe.encodeWords(docs, "doc_id", "text", model)
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("subwords"))).as("n_subwords"),
          sum(length(col("word"))).as("n_chars"))
        .select(col("n_words"), col("n_subwords"), col("n_chars"),
          round(col("n_subwords") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars") / col("n_subwords").cast("double"), 4)
            .as("chars_per_subword"))
    }),

    // unigram-LM subword tokenizer (SentencePiece's other half, Kudo
    // 2018), hash-gated end to end: substring-seeded piece table, 2
    // unrolled hard-EM rounds (Viterbi E-step via the native
    // UnigramEncode expression, exact-count M-step with prune), 6dp
    // log-probs at every iteration edge; the oracle replays the
    // Viterbi DP as a state-carrying recursive CTE (dp value + path
    // for the last maxLen positions ride in each row)
    "text_unigram" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Unigram.train(t(s, dir, "documents"), "text",
        iters = 2, maxLen = 3, seedTopK = 200).pieces.toDF()
    }),

    // the trained unigram model APPLIED: every (doc_id, word)
    // occurrence Viterbi-segmented under the fitted piece table — the
    // train→apply path under one gate (the text_bpe_encode shape);
    // pieces '|'-joined for engine-comparable hashing
    "text_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Unigram.train(docs, "text",
        iters = 2, maxLen = 3, seedTopK = 200)
      graft.operators.Unigram.encodeWords(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("word"),
          concat_ws("|", col("pieces")).as("pieces"))
    }),

    // unigram tokenizer EVALUATION: corpus fertility (pieces/word)
    // and compression (chars/piece) of the trained model — the same
    // quality readout text_bpe_eval gives BPE, so the two tokenizer
    // families are directly comparable on one corpus
    "text_unigram_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Unigram.train(docs, "text",
        iters = 2, maxLen = 3, seedTopK = 200)
      graft.operators.Unigram.encodeWords(docs, "doc_id", "text", model)
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("pieces"))).as("n_pieces"),
          sum(length(col("word"))).as("n_chars"))
        .select(col("n_words"), col("n_pieces"), col("n_chars"),
          round(col("n_pieces") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars") / col("n_pieces").cast("double"), 4)
            .as("chars_per_piece"))
    }),

    // WordPiece greedy encode (r11 — the THIRD tokenizer family next
    // to BPE's merge replay and unigram's Viterbi): longest-match-
    // first against a frequency-seeded vocab split by word-initial vs
    // ##-continuation role, BERT's all-or-nothing [UNK] rule; the
    // oracle replays the greedy loop as a recursive CTE
    "text_wordpiece_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = graft.operators.WordPiece.vocab(docs, "text",
        maxLen = 3, topK = 200)
      graft.operators.WordPiece.encodeWords(docs, "doc_id", "text", v)
        .select(col("doc_id"), col("word"),
          concat_ws("|", col("pieces")).as("pieces"))
    }),

    // WordPiece fertility/compression — directly comparable with
    // text_bpe_eval and text_unigram_eval on the same corpus: the
    // three-way tokenizer bake-off a data team actually runs
    "text_wordpiece_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = graft.operators.WordPiece.vocab(docs, "text",
        maxLen = 3, topK = 200)
      graft.operators.WordPiece.encodeWords(docs, "doc_id", "text", v)
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("pieces"))).as("n_pieces"),
          sum(length(col("word"))).as("n_chars"))
        .select(col("n_words"), col("n_pieces"), col("n_chars"),
          round(col("n_pieces") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars") / col("n_pieces").cast("double"), 4)
            .as("chars_per_piece"))
    }),

    // quality-classifier TRAINING, hash-gated end to end: 3 unrolled
    // gradient-descent iterations over exact/4dp-rounded text features
    // with a deterministic label (lang = 'en'); the mean gradient is
    // rounded 6dp at each iteration edge (the emb_kmeans trade), so
    // the learned weights are exact sums of decimals the oracle
    // re-derives bit-identically
    "quality_classifier_train" -> ((s, dir) => {
      import s.implicits._
      val w = graft.operators.Curation.logisticTrain(
        logregFeatures(t(s, dir, "documents")),
        "y", Seq("x0", "x1", "x2", "x3"), iters = 3)
      w.toSeq.zipWithIndex.map { case (wi, i) => (s"x$i", wi) }
        .toDF("feature", "weight")
        .select(col("feature"), round(col("weight"), 6).as("weight"))
    }),

    // the trained model EVALUATED on a deterministic held-out split
    // (md5 buckets ≥ 80): integer confusion matrix + accuracy —
    // train → apply → evaluate under one hash gate. 3 iterations is
    // the GATE trajectory (the emb_kmeans/text_bpe convention:
    // production raises iters — the spec proves the trainer separates
    // at 50); the gate proves the distributed fit + scoring pipeline
    // is engine-reproducible, not that 3 steps converge
    "quality_classifier_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      val w = graft.operators.Curation.logisticTrain(
        logregFeatures(docs.filter(bucket < 80)),
        "y", Seq("x0", "x1", "x2", "x3"), iters = 3)
      val z = Seq("x0", "x1", "x2", "x3").zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
      confusionMetrics(logregFeatures(docs.filter(bucket >= 80))
        .select(col("y"), when(z > 0, 1.0).otherwise(0.0).as("yhat")))
    }),

    // hashed-ngram (fastText-shape) classifier TRAINING, hash-gated:
    // the same 3 unrolled GD iterations, but over 16 poly-31-hashed
    // token-bucket frequency features + bias — the feature map that
    // sees VOCABULARY (the aggregate features can't; CurationNewSpec
    // plants a lexical rule only this map separates). The oracle
    // re-derives each token's bucket with the list_reduce poly-31
    // fold and replays the trajectory bit-identically
    "quality_ngram_train" -> ((s, dir) => {
      import s.implicits._
      val cols = (0 to ngramBuckets).map(i => s"x$i")
      val w = graft.operators.Curation.logisticTrain(
        ngramFeatures(t(s, dir, "documents")), "y", cols, iters = 3)
      w.toSeq.zipWithIndex.map { case (wi, i) => (f"x$i%02d", wi) }
        .toDF("feature", "weight")
        .select(col("feature"), round(col("weight"), 6).as("weight"))
    }),

    // the hashed-ngram model EVALUATED on the same md5-bucket ≥ 80
    // holdout as quality_classifier_eval: same split, same metric
    // rows — the two feature maps' confusion matrices are directly
    // comparable under one gate convention
    "quality_ngram_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      val cols = (0 to ngramBuckets).map(i => s"x$i")
      val w = graft.operators.Curation.logisticTrain(
        ngramFeatures(docs.filter(bucket < 80)), "y", cols, iters = 3)
      val z = cols.zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
      val scored = ngramFeatures(docs.filter(bucket >= 80))
        .select(col("y"), when(z > 0, 1.0).otherwise(0.0).as("yhat"))
      confusionMetrics(scored)
    }),

    "text_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("n_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num"))),

    // EXACT vocabulary construction (the tokenizer-training
    // precursor the CMS approx_topk approximates): top-50 tokens by
    // corpus count with rank and cumulative coverage share. Scale
    // shape: map-side-combined (token,count) agg, then TakeOrdered
    // top-k (per-partition heaps + a 50-row driver merge) — the
    // rank/cum-sum window only ever sees the 50 survivors, never the
    // vocabulary; the corpus total is a 1-row crossJoin.
    "text_vocab" -> ((s, dir) => {
      val cnt = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("__tot"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      cnt.orderBy(col("n").desc, col("token")).limit(50)
        .withColumn("rank", row_number().over(w))
        .withColumn("__cum", sum(col("n")).over(w))
        .crossJoin(tot)
        .select(col("token"), col("n"), col("rank"),
          round(col("__cum") / col("__tot"), 6).as("cum_share"))
    }),

    // quality_ok thresholds the UNROUNDED ratio (the oracle compares
    // the raw value to 0.5; rounding first would flip documents whose
    // ratio lands in [0.49995, 0.5))
    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        Text.tokenCount(col("text")).as("n_tokens"),
        round(Text.avgTokenLen(col("text")), 4).as("avg_token_len"),
        round(Text.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        (Text.tokenCount(col("text")) >= 5 && Text.tokenCount(col("text")) <= 10000 &&
          Text.stopwordRatio(col("text")) < 0.5).as("quality_ok"))),

    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.langId(col("text")).as("predicted_lang"))),

    // langid accuracy audit vs the generator's lang column: integer
    // confusion counts per (true, predicted) pair — one
    // map-side-combining agg over the in-row heuristic
    "text_langid_eval" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("predicted_lang"))
        .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n"))),

    // TRAINED langid (r9): multinomial NB over hashed char-3-gram
    // buckets, fitted on the md5-bucket<80 split of the generator's
    // labels — closed-form training (one exact-count aggregate), so
    // the oracle replays it without GD unrolling. NOTE the honest
    // readout: this corpus's lang column is INDEPENDENT of its text
    // (all langs share one vocabulary), so the model's holdout
    // confusion is near-chance HERE — the gate proves the arithmetic,
    // and LangidSpec proves learning capacity on a planted
    // multilingual corpus where language actually exists in the text
    "text_langid_train" -> ((s, dir) => {
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      graft.operators.Langid.nbTrain(
        t(s, dir, "documents").filter(bucket < 80),
        "lang", "text", langidLangs, langidNbBuckets)
    }),

    // the trained model's holdout confusion matrix — directly
    // comparable to text_langid_eval's heuristic matrix (same labels)
    "text_langid_model_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      graft.operators.Langid.nbConfusion(
        docs.filter(bucket < 80), docs.filter(bucket >= 80),
        "lang", "text", langidLangs, langidNbBuckets)
    }),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text")).as("fp"))),

    // 64-bit rolling-hash fingerprint via the native RollingHash
    // expression — cheaper than md5 for shard-local pre-screens;
    // rows-gated (the hash isn't expressible in the oracle engine)
    "text_rolling_fp" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.expr.NativeFunctions
          .rolling_hash(Text.canonicalize(col("text"))).as("fp64"))),

    // HTML text extraction (r13): the raw-crawl→text step that runs
    // BEFORE every quality gate. Gated the dedup_url way: per doc a
    // full page is SYNTHESIZED (head with title/style/script, nav
    // boilerplate carrying the source, h1, the text split into <p>
    // paragraphs at " spark " boundaries), the native HtmlText scan
    // extracts, and the oracle derives the expected title and body
    // DIRECTLY from the base columns — any extraction defect (kept
    // script payload, leaked nav, broken whitespace collapse)
    // hash-mismatches. Stateless map, no shuffle beyond the scan.
    "text_extract_html" -> ((s, dir) => {
      import graft.functions.Html
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>doc "), id,
        lit("</title><style>p{margin:0}</style><script>track("), id,
        lit(");</script></head><body><nav>Home | "), col("source"),
        lit("</nav><h1>"), col("lang"), lit(" doc</h1><p>"),
        regexp_replace(col("text"), " spark ", "</p>\n<p>"),
        lit("</p>\n</body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
        Html.titleFromHtml(html).as("title"),
        Html.textFromHtml(html).as("body"))
    }),

    // link extraction + canonicalization (r13): the crawl-frontier
    // step — hrefs scanned out of raw markup, each canonicalized by
    // the native UrlCanonicalize path. Same gate shape: two messy
    // anchors are synthesized per page (case/default-port/tracking/
    // trailing-slash/fragment jitter) and the oracle derives each
    // expected canonical DIRECTLY from the base columns — a defect in
    // either the href scan or the canonicalizer hash-mismatches.
    // Stateless map + in-row explode (2 rows/doc), no shuffle.
    "text_extract_links" -> ((s, dir) => {
      import graft.functions.Urls
      val id = col("doc_id")
      val html = concat(
        lit("<html><body><p>see <a href=\"HTTPS://WWW.Shop"),
        (id % 7).cast("string"),
        lit(".COM:443/item/"), (id % 50).cast("string"),
        lit("/?utm_campaign=x&q="), col("lang"),
        lit("#frag\">here</a> and <a href=\"http://cdn.site"),
        (id % 3).cast("string"),
        lit(".net:80/a//\">img</a></p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("link_pos"),
          Urls.canonicalize(col("col")).as("canonical_url"))
    }),

    // charset sniff + decode repair (r14): real crawls are not clean
    // UTF-8 — this is the byte→text step BEFORE extraction. Gate
    // trick: five byte-mangling regimes are synthesized per order
    // (UTF-8+BOM / plain UTF-8 / latin-1 / UTF-16(BE BOM) / ASCII
    // with a meta charset declaration) and the oracle derives BOTH
    // the expected charset name and the decoded text DIRECTLY from
    // the base columns (the round trip must invert exactly) — a BOM
    // left unstripped, a missed meta, or a wrong fallback
    // hash-mismatches. Stateless single-pass scan, stays in codegen.
    "text_charset" -> ((s, dir) => {
      import graft.functions.expr.NativeFunctions.{charset_decode, charset_sniff}
      val m = col("o_orderkey") % 5
      val accented = concat(lit("Café à "), lower(col("o_orderpriority")),
        lit(" ü"), (col("o_orderkey") % 100).cast("string"))
      val metaHtml = concat(
        lit("<html><head><meta charset=\"windows-1252\"></head><body>meta page "),
        (col("o_orderkey") % 100).cast("string"), lit("</body></html>"))
      val raw = when(m === 0, concat(unhex(lit("EFBBBF")), encode(accented, "UTF-8")))
        .when(m === 1, encode(accented, "UTF-8"))
        .when(m === 2, encode(accented, "ISO-8859-1"))
        .when(m === 3, encode(accented, "UTF-16"))
        .otherwise(encode(metaHtml, "UTF-8"))
      t(s, dir, "orders").select(col("o_orderkey"),
        charset_sniff(raw).as("charset"),
        charset_decode(raw).as("text"))
    }),

    // host-level link graph (r14): the extraction→graph handoff — a
    // crawl's per-page outlinks rolled up to (src_host, dst_host,
    // n_links), the edge list host-level PageRank / spam analysis
    // consume. Hrefs scanned from synthesized markup, canonicalized
    // by the native path, host extracted from the CANONICAL form
    // (case/port jitter collapses), then one groupBy — the q2 pair
    // shape over URLs. The oracle derives both hosts DIRECTLY from
    // base columns and re-aggregates, so a scan, canonicalization or
    // host-extraction defect shifts a count and hash-mismatches.
    "crawl_hostgraph" -> ((s, dir) => hostLinkGraph(s, dir)),

    // host-level WEIGHTED PageRank (r14): the crawl-quality signal
    // over the hostgraph above — edge weights are the link counts, so
    // rank flows proportionally to how often a host links out (the
    // web formulation; the unweighted operator treats 1 link and
    // 1000 links identically). Target hosts never link out: genuine
    // danglers, redistribution on. Weights are data-dependent (the
    // per-(src,dst) counts vary with the corpus), so the oracle's
    // 3-round weighted unroll is a real recomputation, not a replay
    // of constants.
    "crawl_hostrank" -> ((s, dir) =>
      graft.operators.Graph.pagerank(hostLinkGraph(s, dir),
          "src_host", "dst_host", iterations = 3, truncateEvery = 3,
          danglingRedistribution = true, weightCol = Some("n_links"))
        .select(col("node").as("host"), round(col("rank"), 6).as("pagerank"))),

    // robots.txt evaluation (r14, RFC 9309): the crawl-politeness
    // gate beside URL canonicalization. Six regimes per order
    // exercise group selection (specific agent group present or only
    // *, case-insensitive token match), wildcard + $-anchored rules,
    // longest-match precedence with allow-on-tie, and the no-match
    // default — the oracle derives path AND verdict directly from
    // the construction (m ∉ {1,4} ⇔ allowed)
    "crawl_robots" -> ((s, dir) => {
      import graft.functions.expr.NativeFunctions.robots_allowed
      val m = col("o_orderkey") % 6
      val base = lit("User-agent: *\nDisallow: /private/*\n" +
        "Allow: /private/pub$\nDisallow: /tmp\n")
      val spec = lit("User-agent: graftbot\nAllow: /private/\n" +
        "Disallow: /secret/\n\n")
      val robots = when(m >= 3, concat(spec, base)).otherwise(base)
      val k = (col("o_orderkey") % 10).cast("string")
      val path = when(m === 0, concat(lit("/public/page"), k))
        .when(m === 1, concat(lit("/private/x"), k))
        .when(m === 2, lit("/private/pub"))
        .when(m === 3, concat(lit("/private/x"), k))
        .when(m === 4, concat(lit("/secret/x"), k))
        .otherwise(concat(lit("/tmp"), k))
      t(s, dir, "orders").select(col("o_orderkey"), path.as("path"),
        robots_allowed(robots, path, "GraftBot").as("allowed"))
    }),

    // Unicode-script profile (r14): the langid complement — which
    // WRITING SYSTEM is a doc in (routes tokenizer + langid model
    // family before any model runs). Explicit BMP codepoint ranges,
    // spelled identically in both engines, so the counts are a real
    // independent recount, not a construction replay; per-doc
    // non-latin suffixes make every script class non-trivial
    "text_script" -> ((s, dir) => {
      val suffix = when(col("doc_id") % 5 === 1, lit(" Привет мир"))
        .when(col("doc_id") % 5 === 2, lit(" 你好世界"))
        .when(col("doc_id") % 5 === 3, lit(" مرحبا بالعالم"))
        .when(col("doc_id") % 5 === 4, lit(" こんにちは"))
        .otherwise(lit(""))
      val txt = concat(col("text"), suffix)
      // TWO projections, not one (r20, guide §7.3 "avoid generating
      // gigantic expression trees in loops"): the strict-> fold
      // doubles its tree per script (bc appears twice per step), so
      // folding the COUNT EXPRESSIONS directly nested 2^7 copies of
      // the 7 regexp_replace chains into one Project — ~0.9 s of
      // driver analysis/optimization per run for 14 ms of task work
      // (QueryJobs: 96% nonwork). Compute each count ONCE in a first
      // projection; the fold then references attributes, which
      // CollapseProject keeps separate (non-cheap expressions are
      // never re-inlined into multi-reference consumers). Same fold,
      // same semantics, same output.
      val names = Text.scriptRanges.map(_._1)
      val stage1 = t(s, dir, "documents").select(
        col("doc_id") +: Text.scriptCounts(txt)
          .map { case (n, c) => c.cast("long").as(s"n_$n") }: _*)
      val counts = names.map(n => n -> col(s"n_$n"))
      // first-listed max wins ties (strict-> fold; 'none' when empty)
      val (domName, domCnt) = counts.foldLeft((lit("none"), lit(0L))) {
        case ((bn, bc), (n, c)) =>
          (when(c > bc, lit(n)).otherwise(bn), when(c > bc, c).otherwise(bc))
      }
      val total = counts.map(_._2).reduce(_ + _)
      stage1.select(
        col("doc_id") +:
        counts.map { case (n, c) => c.as(s"n_$n") } :+
        domName.as("dominant_script") :+
        when(total > 0, round(domCnt.cast("double") / total, 6))
          .otherwise(lit(0.0)).as("script_frac"): _*)
    }),

    // ---- §2d events ----
    "q15_event_windows" -> ((s, dir) => Events.hourlyByType(Tables.events(s, dir))),

    "q16_sessionize" -> ((s, dir) => Events.sessionize(Tables.events(s, dir), 1800.0)),

    "q17_json_extract" -> ((s, dir) => Events.jsonPropAgg(Tables.events(s, dir))),

    // sliding (hopping) windows: 1-hour windows every 15 minutes —
    // overlapping-window variant of q15, epoch-second window starts
    "q43_sliding_windows" -> ((s, dir) =>
      Events.slidingCounts(Tables.events(s, dir), 3600, 900)),

    // interval-overlap join: per error "episode" (event + value×10s
    // duration), how many same-user click episodes overlap it —
    // bucket-decomposed equi-join, not a per-key cross product
    "q50_interval_overlap" -> ((s, dir) => {
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
    }),

    // weekly cohort retention triangle: users by first-seen week ×
    // week offset of activity
    "q44_cohort_retention" -> ((s, dir) =>
      Events.cohortRetention(Tables.events(s, dir), "user_id", "ts")),

    // z-score outliers: events > 2.5 sample stddevs from their
    // event_type mean — one broadcast moments agg, fact never shuffled
    "q45_zscore_outliers" -> ((s, dir) =>
      Events.zscoreOutliers(Tables.events(s, dir), threshold = 2.5)),

    // TPC-H Q7-style bilateral trade volume: both nation roles
    // broadcast; the fact shuffles only on its key joins
    "q46_trade_volume" -> ((s, dir) =>
      Relational.tradeVolume(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "supplier"), t(s, dir, "nation"))),

    // robust (median/MAD) outliers — the screen one wild value can't
    // blind, vs q45's moment-based z
    "q47_mad_outliers" -> ((s, dir) =>
      Events.madOutliers(Tables.events(s, dir), threshold = 3.5)),

    // seasonality-aware z-screen: moments per (type, hour-of-day)
    // cell — the daily cycle stops flagging, off-hours anomalies start
    "q52_seasonal_outliers" -> ((s, dir) =>
      Events.seasonalZscoreOutliers(Tables.events(s, dir), threshold = 2.5)),

    // scale-default twin of q47: sketch medians (percentile_approx) —
    // fixed memory per group; exact rank selection at gate accuracy,
    // so the whole robust-z pipeline stays hash-gated
    "q47a_mad_sketch" -> ((s, dir) =>
      Events.madOutliers(Tables.events(s, dir), threshold = 3.5,
        approxAccuracy = Some(gateAccuracy))),

    // equi-depth histogram: percentile cutpoints broadcast, bucket
    // assignment in-row — the skew-proof distribution profile
    "q48_equidepth" -> ((s, dir) =>
      graft.operators.Profile.equidepthHistogram(t(s, dir, "orders"),
        "o_totalprice", nBuckets = 10)),

    // scale-default twin of q48: sketch cuts (percentile_approx) —
    // the registered 100 TB plan; exact rank selection at gate
    // accuracy keeps it hash-gated
    "q48a_equidepth_sketch" -> ((s, dir) =>
      graft.operators.Profile.equidepthHistogram(t(s, dir, "orders"),
        "o_totalprice", nBuckets = 10, approxAccuracy = Some(gateAccuracy))),

    // navigation/frame/rank window families over ONE shuffle+sort
    "q49_window_suite" -> ((s, dir) =>
      Events.windowSuite(Tables.events(s, dir))),

    // deterministic shard assignment + within-shard pseudo-random
    // order — the training-corpus "global shuffle" without a global sort
    "sample_shards" -> ((s, dir) =>
      Curation.shardAssign(t(s, dir, "documents"), "doc_id", col("text"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // shard BALANCE readout: per-shard doc/token loads plus each
    // shard's share of corpus tokens — the skew monitor a sharded
    // training-data writer runs before shipping (hash sharding keeps
    // shares near 1/n; a hot shard means a content-hash pathology)
    "sample_shards_eval" -> ((s, dir) => {
      val sharded = Curation.shardAssign(t(s, dir, "documents"),
        "doc_id", col("text"), nShards = 8)
      val perShard = sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
      perShard
        .crossJoin(broadcast(perShard.agg(
          sum(col("n_tokens")).as("__tot"))))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens") / col("__tot").cast("double"), 4)
            .as("token_share"))
    }),

    // trailing 1-hour moving average per user — VALUE-bound window
    // frame (rangeBetween on truncated epoch seconds, mirrored in the
    // oracle), not a row-count frame
    "q25_moving_avg" -> ((s, dir) =>
      Relational.movingAvg(Tables.events(s, dir), "user_id", "ts", "value", 3600L)
        .select(col("user_id"), col("ts"), col("value"),
          round(col("moving_avg"), 4).as("moving_avg"))),

    // CDC apply (MERGE INTO): delta ops I/U/D against a base snapshot
    // — one anti join + union, base scanned once
    "q41_merge_apply" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      val base = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(cols.map(col): _*)
      val delta = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(cols.map(col) :+
          when(col("o_orderpriority").startsWith("1"), "D")
            .otherwise("U").as("op"): _*)
      Pipeline.mergeApply(base, delta, "o_orderkey", "op")
    }),

    // per-column table profile (ANALYZE): one scan, melted in-row;
    // exact NDV here for the oracle — the 100 TB default is the HLL
    // path (exactNdv=false, single pass, no Expand)
    "table_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(
        t(s, dir, "orders").withColumn("o_orderdate", to_date(col("o_orderdate"))),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice", "o_orderdate"),
        exactNdv = true)),

    // equi-width histogram of extended price (distribution profiling)
    "q42_histogram" -> ((s, dir) =>
      graft.operators.Profile.histogram(t(s, dir, "lineitem"),
        "l_extendedprice", lo = 0.0, width = 5000.0, nBins = 24)),

    // SCD2 history: every order is a version of its customer's state;
    // validity intervals from one window pass (lead + row_number over
    // the same sort)
    "q37_scd2" -> ((s, dir) =>
      Pipeline.scd2Intervals(t(s, dir, "orders"),
          Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          col("valid_from").cast("date").as("valid_from"),
          // open intervals close at the SCD2 sentinel high-date (also
          // sidesteps None-vs-NaT null-date compare ambiguity)
          coalesce(col("valid_to").cast("date"), to_date(lit("9999-12-31")))
            .as("valid_to"),
          col("version_n"), col("is_current"))),

    // CDC triad completed: added / removed / changed / unchanged
    // between the latest pre-1998 and latest post-1998 order state per
    // customer; payloads diff via md5 fingerprint so the full-outer
    // shuffle carries (key, hash) only
    "q38_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val fp = (df: DataFrame) =>
        md5(concat_ws("|", df("o_orderpriority"), df("o_orderstatus")))
      val ver = Seq(col("o_orderdate"), col("o_orderkey"))
      Pipeline.snapshotDiff(
        Pipeline.latestPerKey(
          o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
          Seq("o_custkey"), ver),
        Pipeline.latestPerKey(
          o.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
          Seq("o_custkey"), ver),
        "o_custkey", fp)
    }),

    // gap-fill resample: hourly grid per user, forward-filled last
    // value + per-step observation count; grid generated in-row,
    // events collapsed to buckets before any shuffle
    "q39_resample" -> ((s, dir) =>
      Events.resampleGrid(Tables.events(s, dir), "user_id", "ts", "value", 3600L)),

    // growth accounting: first-seen day per user → daily new users →
    // running total; the cumulative window sees day rows only
    "q40_running_distinct" -> ((s, dir) =>
      Events.runningDistinct(Tables.events(s, dir), "user_id", "ts")),

    // HLL-sketch distinct users per event type: the 100 TB shape for
    // cardinality (fixed 2^p registers, partial-max merge map-side —
    // exact distinct would shuffle every (type, user) pair). The
    // repo's own deterministic HLL (avalanche64 item hash, exact
    // integer harmonic sum) — unlike approx_count_distinct, the
    // entire register array replays in the oracle's HUGEINT SQL, so
    // this sketch is hash-gated like approx_topk; accuracy vs exact
    // is additionally spec-gated (≤5%)
    "approx_distinct" -> ((s, dir) =>
      Profile.hllDistinct(Tables.events(s, dir), "user_id", "event_type")
        .select(col("event_type"), col("est_distinct").as("approx_users"),
          col("n_items").as("n_events"))),

    // interval containment via bucketed equi-join: purchases within
    // one hour after each signup, zero-counts kept
    "q24_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Events.rangeJoinCount(
          ev.filter(col("event_type") === "signup")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts")),
          "user_id", "ts", "event_id", windowSeconds = 3600L)
        .select(col("event_id").as("signup_event_id"), col("user_id"),
          col("ts").as("signup_ts"), col("n_in_window").as("n_purchases_1h"))
    }),

    // point-in-time lookup: each purchase joined to the user's latest
    // signup at-or-before it (right side pre-deduped per (user, ts)
    // for a deterministic match)
    "q18_asof_join" -> ((s, dir) => {
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
    }),

    // FORWARD as-of: each click's next purchase at-or-after (the
    // attribution direction q18 can't answer); same one-shuffle
    // tagged-union plan, window traversing ts descending
    "q51_asof_next" -> ((s, dir) => {
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
    }),

    // MATCH_RECOGNIZE-style sequence pattern (r11): every view whose
    // first strictly-later purchase lands within 30 min with no error
    // strictly between — two forward as-of passes on the same user
    // partitioning plus boundary filters; no per-key self-join
    "events_pattern" -> ((s, dir) =>
      Events.sequenceMatch(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", startType = "view", endType = "purchase",
        blockType = "error", windowSeconds = 1800L)
        .select(col("user_id"), col("start_event_id"),
          col("end_event_id"), col("gap_us"))),

    // same point-in-time semantics through the whole-operator path:
    // custom LogicalPlan → strategy → sort-based AsOfJoinExec (each
    // side shuffles only its own columns; no null-padded union rows)
    "q28_asof_exec" -> ((s, dir) => {
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
    }),

    // THE CAPSTONE: the end-to-end batch curation pipeline — every
    // stage is the SAME operator its standalone gate runs, wired
    // through survivor sets (dedup_keep → quality_ensemble →
    // decon_bloom → sample_mixture → sample_epochs → sample_shards →
    // pack_sequences). The oracle nests the component CTEs in
    // sequence, so this row proves the individually-green stages
    // COMPOSE — corpus in, training-ready packed shards out
    "pipeline_curate" -> ((s, dir) => curatedFor(s, dir).packed),

    // the pipeline's one-row funnel: per-stage survivor counts plus
    // the final sequence-writer stats — the dashboard a corpus run
    // publishes next to its shards
    "pipeline_report" -> ((s, dir) => curatedFor(s, dir).report)
  )

  /** HOT supplier co-occurrence graph shared by graph_triangles and
    * graph_lpa: undirected `(sa, sb)` edges (sa < sb) whose
    * co-occurrence count (orders containing both suppliers) clears
    * the p95 of the pair-count distribution — the raw graph is
    * near-complete on this synthetic corpus, and a census of K_n
    * measures nothing; the quantile is a 1-row agg collected to a
    * literal (the trained-model-as-literals convention).
    *
    * Derivation is the q2_pair_counts shape, NOT a lineitem
    * self-join: members are gathered per order once (`collect_set`,
    * map-side partial agg — it also dedupes, so no upstream
    * distinct) and the a < b pairs are generated in-row from the
    * sorted array by the native single-pass [[graft.functions.expr.SortedPairs]]
    * — the fact table is shuffled ONCE on the set key instead of
    * three times (distinct + both join sides), the formulation the
    * repo measured 1.75× faster at 10× (SURVEY §6). The pair frame
    * is staged for the two passes (quantile, then filter);
    * per-pair counts are identical to the self-join's by
    * construction, so both gates' hashes are unchanged. The
    * thresholded edge frame is returned as a filled boundary. */
  private[graft] def hotSupplierGraph(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expr.NativeFunctions.sorted_pairs
    // pre-repartition on the set key so the exchange carries raw
    // (key, member) rows and both collect_set phases land in one
    // stage — the Pipeline.pairCounts r15 finding (partial agg buys
    // nothing on ~unique set keys; its second hash-map build is real
    // cost), applied to the same-shape derivation here
    val pc = Boundary.stage(t(s, dir, "lineitem")
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("__ms"))
      .select(explode(sorted_pairs(col("__ms"))).as("__p"))
      .groupBy(col("__p.a").as("sa"), col("__p.b").as("sb"))
      .agg(count(lit(1)).as("c")))
    val thr = pc.agg(expr("percentile(c, 0.95)")).collect()(0).getDouble(0)
    // fill the (small) thresholded edge frame WHILE pc is still
    // cached — releasing first would hand the consumer a lazy filter
    // whose whole pair derivation recomputes (the r13 review catch);
    // census/LPA then read the edge cache, and a lost block
    // recomputes from lineage instead of failing the query
    val out = Boundary.stage(
      pc.filter(col("c") >= lit(thr)).select(col("sa"), col("sb")))
    Boundary.release(pc)
    out
  }

  /** Host-level link graph shared by crawl_hostgraph and
    * crawl_hostrank: per-doc markup synthesized from base columns
    * (two messy anchors), hrefs scanned, canonicalized by the native
    * path, HOST extracted from the canonical form (case/port jitter
    * collapses by construction), one map-side-combined groupBy to
    * (src_host, dst_host, n_links). */
  private[graft] def hostLinkGraph(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Urls
    val id = col("doc_id")
    val html = concat(
      lit("<html><body><a href=\"HTTPS://WWW.Shop"), (id % 7).cast("string"),
      lit(".COM:443/item/"), (id % 50).cast("string"),
      lit("/?utm_campaign=x&q="), col("lang"),
      lit("#frag\">here</a><a href=\"http://cdn.site"), (id % 3).cast("string"),
      lit(".net:80/a//\">img</a></body></html>"))
    val srcHost = concat(lit("src"), (id % 5).cast("string"), lit(".org"))
    t(s, dir, "documents")
      .select(srcHost.as("src_host"),
        explode(regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))).as("href"))
      .select(col("src_host"),
        regexp_extract(Urls.canonicalize(col("href")),
          "^[a-z0-9+.-]+://([^/]*)", 1).as("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))
  }

  /** Memoized pipeline instance per (session, dir) — a REAL memo (r9
    * verdict fixed the SURVEY claim): pipeline_report after
    * pipeline_curate reuses the SAME persisted stage boundaries
    * instead of rebuilding the funnel. Staleness-aware: the
    * Verify/Bench harness clearCache()s between queries, which
    * deregisters a live instance's persists behind our back — reusing
    * THAT instance would recompute the dedup subtree once per
    * downstream reference, so a non-[[graft.operators.CuratePipeline.Curated.isLive]]
    * entry is release()d (bounds the leak the r9 verdict flagged: at
    * most ONE instance's 3 frames per (session identity, dir), stale
    * ones dropped at the next call) and rebuilt fresh. Long-lived callers
    * use [[graft.operators.CuratePipeline.curate]] directly and own
    * release(). */
  private val curatedMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.operators.CuratePipeline.Curated]()

  /** Standing cluster state for dedup_clusters_inc (r16): the
    * labeling a continuous-ingestion dedup KEEPS and the new batch's
    * probe edges — both exist before the fold in production, so the
    * timed entry is the incremental apply only. Built once per
    * (session, dir) — the [[curatedMemo]] keying convention,
    * identity-keyed with dead-session eviction — and materialized via
    * eager localCheckpoint: lineage-free (no pair-index cache pinned
    * behind the caller's back) and untouched by catalog clearCache.
    * Old labeling = CC over pairs internal to the standing corpus
    * (doc_id % 10 ≠ 3 on both ends); new edges = any pair touching a
    * batch doc. old ∪ new = ALL pairs, which is what keeps the
    * DuckDB from-scratch-CC oracle an equivalence proof.
    *
    * Staleness contract (same as [[curatedMemo]]): the memo keys on
    * (session identity, dir) and assumes the documents table under
    * `dir` is immutable for the session — rewriting it mid-session
    * serves stale labels/edges (production owns its standing state
    * explicitly via the Clusters/Dedup index APIs; this memo exists
    * for the harness surface). Measurement note: the FIRST invocation
    * per (session, dir) pays the standing-state build — timing tools
    * must warm the memo before rep 1 (QueryJobs does, via its
    * untimed warm-up pass) or rep-1 walls include the build. */
  private val incStateMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  private def clustersIncStanding(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    incStateMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    incStateMemo.computeIfAbsent((s, dir), _ => {
      val allPairs = Dedup.ngramJaccardPairs(
          t(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.6)
      val newA = pmod(col("doc_a"), lit(10)) === 3
      val newB = pmod(col("doc_b"), lit(10)) === 3
      val labels = Clusters.connectedComponents(
          allPairs.filter(!newA && !newB), "doc_a", "doc_b")
        .localCheckpoint(true)
      val newEdges = allPairs.filter(newA || newB).localCheckpoint(true)
      Boundary.release(allPairs)
      (labels, newEdges)
    })
  }

  private def curatedFor(s: SparkSession, dir: String) = {
    // keyed on the SparkSession INSTANCE (identity equality — the r10
    // ADVICE fix: identityHashCode is not unique and can be reused
    // after GC, resurrecting a Curated bound to a dead session).
    // Entries whose session has stopped are evicted first: their
    // cached boundaries died with the session, and the strong key
    // reference would otherwise pin the dead session forever.
    curatedMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    curatedMemo.compute((s, dir), (_, prev) => {
      if (prev != null && prev.isLive) prev
      else {
        if (prev != null) prev.release() // no-op unpersists when cleared
        curatedBuild(s, dir)
      }
    })
  }

  private[graft] def curatedBuild(s: SparkSession, dir: String) =
    graft.operators.CuratePipeline.curate(
        t(s, dir, "documents"), "doc_id", "text", "lang", "source",
        col("n_chars"), benchSources = Seq("src0", "src1"),
        shingleK = 3, tau = 0.6,
        minWords = 10, maxWords = 50000, minSentences = 0,
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0,
        maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05,
        deconN = 5, bloomBits = 1 << 22, bloomHashes = 3,
        langShares = Map("en" -> 0.25, "de" -> 0.35), defaultRate = 0.6,
        epochShares = epochShares, budgetFactor = 1.0, maxEpochs = 4.0,
        nShards = 8, packBudget = 2048)

  /** dedup_minhash_lsh oracle: the full ShingleHashes → MinHash-mix →
    * banded-LSH pipeline reproduced in DuckDB HUGEINT arithmetic mod
    * 2^64 (token poly-31 hash, k=3 shingle fold, the murmur-style
    * finalizer per permutation with signed-min slots). Band agreement
    * is checked by direct slot-slice equality — band-hash equality in
    * the Spark plan is equivalent up to hash collisions, so the band
    * hash itself never needs reproduction. Multiplications go through
    * a 32-bit-split mulmod so 128-bit intermediates never overflow
    * HUGEINT. Parameters mirror the query: perms=64, bands=16 (4
    * rows/band), k=3, tau=0.5. */
  private def minhashOracleSql: String =
    minhashOracleCore("sa.doc_id < sb.doc_id")

  /** dedup_minhash_inc oracle: identical sig pipeline, pair sides
    * split corpus (left) × batch (right) instead of a<b. */
  private def minhashIncOracleSql: String =
    minhashOracleCore("(sa.doc_id % 10 <> 3) AND (sb.doc_id % 10 = 3)")

  private def minhashOracleCore(pairCond: String): String =
    s"""WITH ${minhashCandCtes(pairCond)}
       |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin

  /** The minhash-LSH candidate pipeline as a bare CTE chain ending in
    * `cand(doc_a, doc_b, est_jaccard)` — lets the recall gate compose
    * it with the exact-Jaccard CTEs in one statement. */
  private def minhashCandCtes(pairCond: String): String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val mult = -7046029254386353131L // MinHashAgg.mix / ShingleHashes combine constant
    val M = u(mult)
    val m1 = u(-49064778989728563L)
    val m2 = u(-4265267296055464877L)
    val c0 = (BigInt(1125899906842597L) * M) % T // shingle seed pre-multiplied
    val consts = (0 until 64).map(i => u(i.toLong * mult + 1442695040888963407L))
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val h1 = s"($c0::HUGEINT + th[i]) % $T::HUGEINT"
    val h2 = s"(${mm(h1, M)} + th[i+1]) % $T::HUGEINT"
    val h3 = s"(${mm(h2, M)} + th[i+2]) % $T::HUGEINT"
    val constRows = consts.zipWithIndex
      .map { case (c, i) => s"($i, $c::HUGEINT)" }.mkString(", ")
    val bandOr = (0 until 16)
      .map(b => s"(sa.sig[${4 * b + 1}:${4 * b + 4}] = sb.sig[${4 * b + 1}:${4 * b + 4}])")
      .mkString(" OR ")
    val eqSum = (0 until 64)
      .map(i => s"(CASE WHEN sa.sig[${i + 1}] = sb.sig[${i + 1}] THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM documents),
       |tokh AS (SELECT doc_id, $tokH AS th FROM toks),
       |shl AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(th) - 2), i -> $h3)) AS sh
       |  FROM tokh WHERE len(th) >= 3),
       |sh_rows AS (SELECT doc_id, unnest(sh) AS h FROM shl),
       |consts(i, c) AS (VALUES $constRows),
       |m0 AS (SELECT doc_id, i, xor(h, c) AS x FROM sh_rows CROSS JOIN consts),
       |m1 AS (SELECT doc_id, i, xor(x, x >> 33) AS x FROM m0),
       |m2 AS (SELECT doc_id, i, ${mm("x", m1)} AS x FROM m1),
       |m3 AS (SELECT doc_id, i, xor(x, x >> 33) AS x FROM m2),
       |m4 AS (SELECT doc_id, i, ${mm("x", m2)} AS x FROM m3),
       |m5 AS (SELECT doc_id, i, xor(x, x >> 33) AS x FROM m4),
       |slots AS (
       |  SELECT doc_id, i,
       |         min(CASE WHEN x >= 9223372036854775808::HUGEINT
       |                  THEN x - $T::HUGEINT ELSE x END) AS slot
       |  FROM m5 GROUP BY 1, 2),
       |sigs AS MATERIALIZED (SELECT doc_id, list(slot ORDER BY i) AS sig FROM slots GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
       |         round(($eqSum) / 64.0, 4) AS est_jaccard
       |  FROM sigs sa JOIN sigs sb ON $pairCond
       |  WHERE ($bandOr)
       |    AND round(($eqSum) / 64.0, 4) >= 0.5)""".stripMargin
  }

  /** decon_bloom oracle: the Bloom bit pipeline reproduced exactly in
    * HUGEINT mod-2^64 SQL — token poly-31 hashes, 5-gram shingle fold
    * (same chain as the minhash oracle, two tokens deeper), the k=3
    * CmsHash row mixes, and bit positions mod 2^22. A corpus doc is
    * flagged iff ANY of its shingles has ALL 3 positions inside the
    * benchmark's position set — bit-for-bit the broadcast-filter
    * probe, INCLUDING false positives. */
  private def bloomOracleSql: String = bloomOracleSqlFor("documents")

  /** The same Bloom pipeline with the CORPUS side drawn from `rel`
    * (the benchmark side always comes from the raw `documents`
    * table — a held-out eval set is a fixed artifact, independent of
    * whatever funnel produced the corpus being decontaminated). With
    * rel = documents the union is documents itself. */
  private def bloomOracleSqlFor(rel: String): String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val mult = -7046029254386353131L // ShingleHashes combine / CmsHash row constant
    val M = u(mult)
    val mu1 = u(-49064778989728563L)
    val mu2 = u(-4265267296055464877L)
    val c0 = (BigInt(1125899906842597L) * M) % T // shingle seed pre-multiplied
    val consts = (0 until 3).map(i => u(i.toLong * mult + 1442695040888963407L))
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val h1 = s"($c0::HUGEINT + th[i]) % $T::HUGEINT"
    val h2 = s"(${mm(h1, M)} + th[i+1]) % $T::HUGEINT"
    val h3 = s"(${mm(h2, M)} + th[i+2]) % $T::HUGEINT"
    val h4 = s"(${mm(h3, M)} + th[i+3]) % $T::HUGEINT"
    val h5 = s"(${mm(h4, M)} + th[i+4]) % $T::HUGEINT"
    val constRows = consts.zipWithIndex
      .map { case (c, i) => s"($i, $c::HUGEINT)" }.mkString(", ")
    s"""WITH corpus_bench AS (
       |  SELECT doc_id, source, text FROM $rel
       |  WHERE source NOT IN ('src0', 'src1')
       |  UNION ALL
       |  SELECT doc_id, source, text FROM documents
       |  WHERE source IN ('src0', 'src1')),
       |toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM corpus_bench),
       |tokh AS (SELECT doc_id, source, $tokH AS th FROM toks),
       |shl AS (
       |  SELECT doc_id, source,
       |         list_distinct(list_transform(generate_series(1, len(th) - 4), i -> $h5)) AS sh
       |  FROM tokh WHERE len(th) >= 5),
       |sh_rows AS (SELECT doc_id, source, unnest(sh) AS h FROM shl),
       |consts(i, c) AS (VALUES $constRows),
       |m0 AS (SELECT doc_id, source, h, i, xor(h, c) AS x FROM sh_rows CROSS JOIN consts),
       |m1 AS (SELECT doc_id, source, h, i, xor(x, x >> 33) AS x FROM m0),
       |m2 AS (SELECT doc_id, source, h, i, ${mm("x", mu1)} AS x FROM m1),
       |m3 AS (SELECT doc_id, source, h, i, xor(x, x >> 33) AS x FROM m2),
       |m4 AS (SELECT doc_id, source, h, i, ${mm("x", mu2)} AS x FROM m3),
       |m5 AS (SELECT doc_id, source, h, i, xor(x, x >> 33) AS x FROM m4),
       |pos AS (SELECT doc_id, source, h, i,
       |        (x % 9223372036854775808::HUGEINT) % 4194304 AS p FROM m5),
       |bench_pos AS (SELECT DISTINCT p FROM pos WHERE source IN ('src0', 'src1')),
       |corp AS (
       |  SELECT c.doc_id, c.h,
       |         count(*) FILTER (WHERE bp.p IS NOT NULL) AS hits
       |  FROM (SELECT doc_id, h, p FROM pos
       |        WHERE source NOT IN ('src0', 'src1')) c
       |  LEFT JOIN bench_pos bp ON c.p = bp.p
       |  GROUP BY 1, 2),
       |flags AS (SELECT doc_id, bool_or(hits = 3) AS flagged FROM corp GROUP BY 1)
       |SELECT d.doc_id, coalesce(f.flagged, FALSE) AS flagged
       |FROM (SELECT doc_id FROM $rel WHERE source NOT IN ('src0', 'src1')) d
       |LEFT JOIN flags f ON d.doc_id = f.doc_id""".stripMargin
  }

  /** dedup_simhash oracle: token poly-31 hashes avalanched by the
    * murmur-style finalizer (the same mod-2^64 HUGEINT stages as the
    * minhash oracle, minus the permutation constant), per-bit ±1 sign
    * sums, signature packed as a signed BIGINT, pigeonhole 16-bit
    * block-agreement candidates, exact Hamming verify via
    * bit_count(xor). Mirrors simhashPairs(maxHamming = 3). */
  private def simhashOracleSql: String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val m1 = u(-49064778989728563L)
    val m2 = u(-4265267296055464877L)
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val blocksOr = (0 until 4)
      .map(i => s"(((ua.us >> ${16 * i}) & 65535) = ((ub.us >> ${16 * i}) & 65535))")
      .mkString(" OR ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM documents),
       |tokh AS (SELECT doc_id, $tokH AS th FROM toks WHERE len(ts) >= 1),
       |tok_rows AS (SELECT doc_id, unnest(th) AS h FROM tokh),
       |a1 AS (SELECT doc_id, xor(h, h >> 33) AS x FROM tok_rows),
       |a2 AS (SELECT doc_id, ${mm("x", m1)} AS x FROM a1),
       |a3 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM a2),
       |a4 AS (SELECT doc_id, ${mm("x", m2)} AS x FROM a3),
       |a5 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM a4),
       |bits AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END) AS ss
       |  FROM a5 CROSS JOIN generate_series(0, 63) g(b)
       |  GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN ss >= 0 THEN
       |           CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT
       |                ELSE (1::HUGEINT << b) END
       |           ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1),
       |usigs AS (
       |  SELECT doc_id, sig,
       |         CASE WHEN sig < 0 THEN sig + $T::HUGEINT ELSE sig::HUGEINT END AS us
       |  FROM sigs)
       |SELECT ua.doc_id AS doc_a, ub.doc_id AS doc_b,
       |       CAST(bit_count(xor(ua.sig, ub.sig)) AS BIGINT) AS hamming
       |FROM usigs ua JOIN usigs ub ON ua.doc_id < ub.doc_id
       |WHERE ($blocksOr)
       |  AND bit_count(xor(ua.sig, ub.sig)) <= 3""".stripMargin
  }

  /** DuckDB-runnable oracles, column-name-aligned with `queries`. */
  /** ann_lsh oracle: the full LSH pipeline replayed in SQL. The ±1
    * hyperplanes come from the SAME seeded generator the Spark plan
    * uses ([[graft.functions.Vectors.hyperplaneWeights]]), inlined as
    * literals; weights are ±1 so each inner-product term is exactly
    * ±v[i] and both engines fold the same doubles in array order —
    * signatures agree bit-for-bit, then bucket join → distinct pair →
    * cosine rerank mirror the plan 1:1. */
  /** Shared CTE chain of the interp-LM oracles, ending in
    * `ilp(doc_id, n_bigrams, avg_logprob)` — lets the perplexity
    * triage compose the score with its quantile thresholds in one
    * statement. */
  private def interpLmCtes: String =
    s"""t AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '') AS tk
             FROM documents),
         u AS (SELECT unnest(tk) AS token FROM t),
         uf AS (SELECT token, count(*) AS ucnt FROM u GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM u),
         b AS (SELECT doc_id, tk[i] AS prefix, tk[i] || ' ' || tk[i+1] AS bigram,
                      tk[i+1] AS token
               FROM t, unnest(generate_series(1, len(tk) - 1)) AS g(i)
               WHERE len(tk) >= 2),
         bf AS (SELECT bigram, count(*) AS bcnt FROM b GROUP BY 1),
         pf AS (SELECT prefix, count(*) AS pcnt FROM b GROUP BY 1),
         ilp AS (
           SELECT doc_id, count(*) AS n_bigrams,
                  round(avg(ln($interpLambda * (bcnt / CAST(pcnt AS DOUBLE))
                    + ${1.0 - interpLambda} * (ucnt / CAST(total AS DOUBLE)))), 4)
                    AS avg_logprob
           FROM b JOIN bf USING (bigram) JOIN pf USING (prefix)
                  JOIN uf USING (token) CROSS JOIN tot
           GROUP BY 1)"""

  /** ann_sq8 oracle: per-dimension corpus [min,max] → the identical
    * quantize/round/dequantize arithmetic in list_transform → exact
    * cosine rank over the dequantized lists (the annTopkOracle rank
    * shape). Span-0 dimensions guard the division and dequantize to
    * the constant, exactly as the operator's when-branch. */
  private def annSq8Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       mm AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
              FROM e, unnest(generate_series(1, 64)) AS g(i)
              WHERE vec_id >= 8 GROUP BY 1),
       mml AS (SELECT list(mn ORDER BY i) AS mns,
                      list(mx - mn ORDER BY i) AS spans
               FROM mm),
       deq AS (SELECT vec_id,
                 list_transform(generate_series(1, 64),
                   i -> CASE WHEN spans[i] > 0
                             THEN mns[i]
                               + least(255, greatest(0,
                                   round((v[i] - mns[i]) / spans[i] * 255)))
                                 / 255.0 * spans[i]
                             ELSE mns[i] END) AS dv
               FROM e CROSS JOIN mml WHERE vec_id >= 8)
       SELECT q.vec_id AS query_id,
              CAST(row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.v, c.dv) DESC,
                         c.vec_id) AS INTEGER) AS rnk,
              c.vec_id AS neighbor_id
       FROM (SELECT vec_id, v FROM e WHERE vec_id < 8) q
       CROSS JOIN deq c
       QUALIFY rnk <= 5"""

  private def annTopkOracle: String =
    """SELECT q.vec_id AS query_id,
              CAST(row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                         c.vec_id) AS INTEGER) AS rnk,
              c.vec_id AS neighbor_id
       FROM embeddings q CROSS JOIN embeddings c
       WHERE q.vec_id < 8 AND c.vec_id >= 8
       QUALIFY rnk <= 5"""

  private def annLshOracle: String = {
    val (dim, bits, tables, seed) = (64, 4, 8, 42L)
    def sigExpr(v: String, tableSeed: Long): String = {
      val w = graft.functions.Vectors.hyperplaneWeights(dim, bits, tableSeed)
      (0 until bits).map { b =>
        val wlist = w(b).map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product($v, $wlist) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
    val sigList = (0 until tables).map(ti => sigExpr("v", seed + ti))
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sigged AS (SELECT vec_id, v, $sigList AS sigs FROM e),
       qb AS (SELECT vec_id AS query_id, t.range AS tbl, sigs[t.range + 1] AS bucket
              FROM sigged, range($tables) t WHERE vec_id < 8),
       cb AS (SELECT vec_id AS neighbor_id, t.range AS tbl, sigs[t.range + 1] AS bucket
              FROM sigged, range($tables) t WHERE vec_id >= 8),
       pairs AS (SELECT DISTINCT query_id, neighbor_id
                 FROM qb JOIN cb USING (tbl, bucket)),
       scored AS (SELECT p.query_id, p.neighbor_id,
                         list_cosine_similarity(q.v, c.v) AS cos
                  FROM pairs p
                  JOIN e q ON p.query_id = q.vec_id
                  JOIN e c ON p.neighbor_id = c.vec_id)
       SELECT query_id,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk,
              neighbor_id
       FROM scored QUALIFY rnk <= 5"""
  }

  /** Shared CTE prefix for the n-gram Jaccard oracle family
    * (dedup_ngram_jaccard, dedup_clusters, dedup_keep): tokens →
    * distinct 3-gram shingles → the stats-derived hot-shingle cap the
    * registered plans apply by default (Dedup.autoCap: max(50,
    * ceil(sqrt(N)))), reproduced STRUCTURALLY in SQL so oracle parity
    * holds at any scale instead of resting on the cap being inert at
    * one particular SF. Yields `sh` (pruned shingles), `sz` (per-doc
    * sizes from the pruned universe — the operator's correct-bias
    * rule) and `shared` (pair co-counts). */
  private def jaccardCtes: String = jaccardCtesFor("documents", "")

  /** The same CTE block over an arbitrary source relation with a
    * name prefix — lets one statement carry TWO independent pair
    * computations (the incremental-components oracle needs the
    * old-corpus pairs AND the full-corpus pairs, each with its own
    * structurally-mirrored sqrt(N) cap). */
  private def jaccardCtesFor(rel: String, p: String): String =
    s"""${p}toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM $rel),
         ${p}sh0 AS (
           SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM ${p}toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
         ${p}cap AS (SELECT greatest(50, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM $rel),
         ${p}hot AS (SELECT s FROM ${p}sh0 CROSS JOIN ${p}cap
                 GROUP BY s, c HAVING count(*) > c),
         ${p}sh AS MATERIALIZED (SELECT doc_id, s FROM ${p}sh0
                    WHERE s NOT IN (SELECT s FROM ${p}hot)),
         ${p}sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM ${p}sh GROUP BY 1),
         ${p}shared AS MATERIALIZED (
           SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
           FROM ${p}sh a JOIN ${p}sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""

  /** CDC chunking replayed in HUGEINT mod-2^64 SQL — word hashes via
    * the engine-wide token poly hash (seed 17), window/chunk folds
    * via the shingle seed + mix multiplier, boundary where the w=4
    * window fold ≡ D-1 (mod D). Yields CTE `cdc_chunks(doc_id, s,
    * len, ch)` — one row per chunk, `ch` the unsigned chunk fold. */
  private def cdcCtes: String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val M = u(-7046029254386353131L) // ShingleHashes/CdcChunkHashes mix
    val c0 = (BigInt(1125899906842597L) * M) % T // seed pre-multiplied
    def mm(x: String): String =
      s"((($x) % 4294967296) * $M::HUGEINT + " +
        s"(((($x) >> 32) * $M::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val h1 = s"($c0::HUGEINT + th[i]) % $T::HUGEINT"
    val h2 = s"(${mm(h1)} + th[i+1]) % $T::HUGEINT"
    val h3 = s"(${mm(h2)} + th[i+2]) % $T::HUGEINT"
    val h4 = s"(${mm(h3)} + th[i+3]) % $T::HUGEINT"
    s"""cdc_toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM documents),
       |cdc_tokh AS (SELECT doc_id, $tokH AS th FROM cdc_toks),
       |cdc_pos AS (
       |  SELECT doc_id, p, th[p] AS wh
       |  FROM cdc_tokh, unnest(generate_series(1, len(th))) AS u(p)),
       |cdc_winb AS (
       |  SELECT doc_id, i + 3 AS p,
       |         CASE WHEN ($h4) % 8 = 7 THEN 1 ELSE 0 END AS b
       |  FROM cdc_tokh, unnest(generate_series(1, len(th) - 3)) AS u(i)),
       |cdc_seg AS (
       |  SELECT r.doc_id, r.p, r.wh,
       |         COALESCE(sum(w.b) OVER (PARTITION BY r.doc_id ORDER BY r.p
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
       |  FROM cdc_pos r LEFT JOIN cdc_winb w ON w.doc_id = r.doc_id AND w.p = r.p),
       |cdc_chunks AS (
       |  SELECT doc_id, s, count(*) AS len,
       |         list_reduce(
       |           list_prepend(1125899906842597::HUGEINT, list(wh ORDER BY p)),
       |           (a, b) -> (${mm("a")} + b) % $T::HUGEINT) AS ch
       |  FROM cdc_seg GROUP BY doc_id, s)""".stripMargin
  }

  /** Shared CTE text for the LSH-blocked embedding-dedup oracles:
    * replays signature → (table, bucket) band → distinct candidate
    * pair → exact-cosine verify with the identical seeded ±1
    * hyperplanes inlined as literals (the annLshOracle pattern).
    * Yields CTEs `e` (vec_id, v) and `pairs` (vec_a, vec_b). */
  private def embLshPairsCtes: String = embLshCtes(tables = 8, probeRadius = 0)

  /** Parameterized LSH-pair CTE generator: `probeRadius = 1` expands
    * the probe side to the bits+1 buckets within Hamming distance 1
    * of each signature — exactly the plan's multi-probe explode. */
  private def embLshCtes(tables: Int, probeRadius: Int): String = {
    val (dim, bits, seed, tau) = (64, 4, 42L, 0.4)
    def sigExpr(v: String, tableSeed: Long): String = {
      val w = graft.functions.Vectors.hyperplaneWeights(dim, bits, tableSeed)
      (0 until bits).map { b =>
        val wlist = w(b).map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product($v, $wlist) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
    val sigList = (0 until tables).map(ti => sigExpr("v", seed + ti))
      .mkString("[", ", ", "]")
    val probeRel =
      if (probeRadius == 0) "bande"
      else {
        val masks = (0 until bits).map(b => s"xor(bucket, ${1L << b})")
        s"""(SELECT vec_id, tbl,
               unnest(${("bucket" +: masks).mkString("[", ", ", "]")}) AS bucket
             FROM bande)"""
      }
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sigged AS (SELECT vec_id, v, $sigList AS sigs FROM e),
       bande AS (SELECT vec_id, t.range AS tbl, sigs[t.range + 1] AS bucket
                 FROM sigged, range($tables) t),
       cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                FROM $probeRel a JOIN bande b
                  ON a.tbl = b.tbl AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id),
       pairs AS (SELECT vec_a, vec_b
                 FROM cand
                 JOIN e ea ON cand.vec_a = ea.vec_id
                 JOIN e eb ON cand.vec_b = eb.vec_id
                 WHERE list_cosine_similarity(ea.v, eb.v) >= $tau)"""
  }

  /** emb_kmeans oracle: 3 Lloyd iterations unrolled in SQL. Init =
    * the 8 lowest-id vectors; assignment = min_by over [d, cid] (the
    * plan's struct-min tie rule); means round to 6dp per iteration
    * (the plan's roundTo) so the trajectory is engine-reproducible;
    * an empty cluster keeps its previous centroid (LEFT JOIN +
    * coalesce = the plan's clone-then-update). */
  private def embKmeansOracle: String = {
    val iters = 3
    def assign(n: Int, centRel: String) =
      s"""a$n AS (SELECT e.vec_id, e.v,
             (min(struct_pack(d := list_inner_product(cent.c, cent.c)
               - 2 * list_inner_product(e.v, cent.c), cid := cent.cid))).cid AS cid
           FROM e CROSS JOIN $centRel cent GROUP BY e.vec_id, e.v)"""
    def recompute(n: Int) =
      s"""x$n AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a$n),
         m$n AS (SELECT cid, pos, round(avg(x), 6) AS m FROM x$n GROUP BY cid, pos),
         cent$n AS (SELECT prev.cid, coalesce(mm.c, prev.c) AS c
                    FROM cent${n - 1} prev
                    LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS c
                               FROM m$n GROUP BY cid) mm ON prev.cid = mm.cid)"""
    val steps = (1 to iters).map(n => s"${assign(n, s"cent${n - 1}")},\n${recompute(n)}")
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS c
                 FROM e ORDER BY vec_id LIMIT 8),
       $steps,
       ${assign(iters + 1, s"cent$iters")}
       SELECT vec_id, cid AS cluster_id FROM a${iters + 1}"""
  }

  /** emb_pca oracle: 3 power iterations unrolled in SQL — centered
    * rows (per-dim mean rounded 6dp), score s = xc·v_{t-1}
    * (list_inner_product = the plan's native dot, array-order fold),
    * sum vector u rounded 6dp at the iteration edge, normalization
    * u/√(ul·ul) over the ROUNDED list (array-order fold again), and
    * the final projection as dot(v, pc) − dot(μ, pc) — the exact two
    * folds the plan computes, NOT the algebraically-equal dot(xc, pc)
    * (distributing the subtraction lands different ulps). */
  private def embPcaOracle: String =
    s"""$embPcaCtes
       SELECT e.vec_id,
              round(list_inner_product(e.v, vv)
                    - list_inner_product(ml, vv), 4) AS pc1
       FROM e CROSS JOIN v3 CROSS JOIN mul"""

  /** emb_pca_residual oracle: score/residual from the SAME trained
    * component, both folds over the per-element-centered xc (the
    * iteration form — NOT algebraically redistributed). */
  private def embPcaResidualOracle: String =
    s"""$embPcaCtes
       SELECT c.vec_id,
              round(list_inner_product(c.xc, vv), 4) AS score,
              round(sqrt(greatest(0.0,
                list_inner_product(c.xc, c.xc)
                - list_inner_product(c.xc, vv)
                  * list_inner_product(c.xc, vv))), 4) AS residual
       FROM c CROSS JOIN v3"""

  private def embPcaCtes: String = {
    val iters = 3
    val dim = 64
    val v0 = Array.fill(dim)("0.125").mkString(", ") // round(1/√64, 6) exact
    def sCte(n: Int): String =
      if (n == 1)
        s"s1 AS (SELECT vec_id, xc, list_inner_product(xc, [$v0]) AS s FROM c)"
      else
        s"s$n AS (SELECT vec_id, xc, list_inner_product(xc, vv) AS s " +
          s"FROM c CROSS JOIN v${n - 1})"
    def vCte(n: Int): String =
      s"""x$n AS (SELECT s, generate_subscripts(xc, 1) AS pos, unnest(xc) AS x
             FROM s$n),
         u$n AS (SELECT pos, round(sum(x * s), 6) AS u FROM x$n GROUP BY pos),
         ul$n AS (SELECT list(u ORDER BY pos) AS ul FROM u$n),
         v$n AS (SELECT list_transform(ul,
                   u -> round(u / sqrt(list_inner_product(ul, ul)), 6)) AS vv
                 FROM ul$n)"""
    val steps = (1 to iters).map(n => s"${sCte(n)},\n${vCte(n)}").mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       mx AS (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
       mu AS (SELECT pos, round(avg(x), 6) AS m FROM mx GROUP BY pos),
       mul AS (SELECT list(m ORDER BY pos) AS ml FROM mu),
       c AS (SELECT vec_id,
                    list_transform(generate_series(1, $dim), i -> v[i] - ml[i]) AS xc
             FROM e CROSS JOIN mul),
       $steps"""
  }

  /** sample_coreset oracle: the k-center greedy trajectory unrolled —
    * c1 = lowest id; each step keeps a running min-distance frame
    * (least-chained, ≡ the plan's least fold) and picks the argmax
    * (ORDER BY dm DESC, vec_id LIMIT 1 = the plan's TakeOrdered);
    * assignment via the struct-min rule over the chosen centers with
    * the identical |v|²+|c|²−2v·c fold order. */
  private def coresetOracle: String = {
    val k = 8
    def lip(a: String, b: String) = s"list_inner_product($a, $b)"
    def dist(v: String, c: String) =
      s"(${lip(v, v)} + ${lip(c, c)} - 2 * ${lip(v, c)})"
    val steps = (2 to k).map { t =>
      val (dPrev, cPrev, dNew) = (s"d${t - 2}", s"c${t - 1}", s"d${t - 1}")
      val prevFrame = if (t == 2)
        s"""d1 AS (SELECT e.vec_id, e.v, ${dist("e.v", "c.v")} AS dm
               FROM e CROSS JOIN c1 c),"""
      else ""
      s"""$prevFrame
         c$t AS (SELECT vec_id, v FROM d${t - 1}
                 ORDER BY dm DESC, vec_id LIMIT 1)""" +
        (if (t < k)
          s""",
             d$t AS (SELECT d.vec_id, d.v,
                            least(d.dm, ${dist("d.v", "c.v")}) AS dm
                     FROM d${t - 1} d CROSS JOIN c$t c)"""
        else "")
    }.mkString(",\n")
    val cents = (1 to k).map(t => s"SELECT vec_id AS cid, v FROM c$t")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       $steps,
       cents AS ($cents),
       a AS (SELECT e.vec_id,
                    min(struct_pack(d := ${dist("e.v", "cent.v")},
                                    cid := cent.cid)) AS m
             FROM e CROSS JOIN cents cent GROUP BY e.vec_id)
       SELECT vec_id, m.cid AS center_id, round(m.d, 6) AS d2 FROM a"""
  }

  /** ann_ivf oracle: coarse-quantizer assignment (argmin via the
    * struct-min rule), nprobe nearest lists per query (row_number
    * over the same (d, cid) order), bucket join, exact cosine rerank
    * — the emb_kmeans oracle machinery applied to the IVF probe path.
    * Distances use the plan's exact arithmetic: |c|² − 2 v·c with
    * both inner products folding in array order. */
  private def annIvfOracle: String = {
    val (nCentroids, nprobe, k) = (16, 8, 5)
    def d(v: String) = s"list_inner_product(cent.cv, cent.cv) - 2 * list_inner_product($v, cent.cv)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id, v FROM e WHERE vec_id >= 8),
       q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
       cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS cv
                FROM c ORDER BY vec_id LIMIT $nCentroids),
       cass AS (SELECT c.vec_id AS neighbor_id, c.v,
                       (min(struct_pack(d := ${d("c.v")}, cid := cent.cid))).cid AS cid
                FROM c CROSS JOIN cent GROUP BY c.vec_id, c.v),
       qprobe AS (SELECT vec_id AS query_id, v, cid FROM (
                    SELECT q.vec_id, q.v, cent.cid,
                           row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY ${d("q.v")}, cent.cid) AS pr
                    FROM q CROSS JOIN cent) WHERE pr <= $nprobe),
       cand AS (SELECT qp.query_id, ca.neighbor_id,
                       list_cosine_similarity(qp.v, ca.v) AS cos
                FROM qprobe qp JOIN cass ca USING (cid))
       SELECT query_id,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk,
              neighbor_id
       FROM cand QUALIFY rnk <= $k"""
  }

  /** ann_pq oracle: the ENTIRE product-quantization pipeline replayed
    * in SQL — codebook training included. The trainer is seeded
    * deterministic Lloyd per subspace over the lowest-id sample with
    * 6dp mean rounding at each iteration edge (the emb_kmeans
    * determinism trade), so the oracle re-derives the identical
    * codebook: init = sub-slices of the kCent lowest-id samples,
    * assignment = struct-min over the EXACT left-folded Σ(diff²)
    * chain the native PqEncode computes (explicit left-associated
    * addition — both engines fold the same doubles in the same
    * order), mean recompute = round(avg, 6) with empty clusters
    * keeping their previous centroid (LEFT JOIN + coalesce). Encode,
    * the per-query ADC table (list_inner_product sub-dots), the
    * left-folded m-term ADC sum (list_reduce over list(tval ORDER BY
    * m) — PqAdc's summation order), the rerank-shortlist and the
    * exact-cosine top-k then mirror the plan 1:1. Gate params: the
    * sample covers ≥ kCent vectors at both verify SFs (no init
    * wrap-around), iters = 3. */
  /** The PQ training/encode/ADC-table CTE block shared by the ann_pq
    * and ann_ivfpq oracles — assumes CTEs `c`/`q` with
    * (vec_id, v, n2) are already in scope; emits samp … enc, tq. */
  private def pqOracleCtes(m: Int, kCent: Int, subDim: Int,
      trainSample: Int, iters: Int): String = {
    // the exact left-assoc Σ(s.sv[i]-ct.cv[i])² chain of PqEncode
    val chain = (1 to subDim)
      .map(i => s"(s.sv[$i] - ct.cv[$i]) * (s.sv[$i] - ct.cv[$i])")
      .mkString(" + ")
    def assign(n: Int, rel: String, idCol: String, outCol: String,
        keepSv: Boolean): String = {
      val sv = if (keepSv) ", s.sv" else ""
      val grp = if (keepSv) s"s.$idCol, s.m, s.sv" else s"s.$idCol, s.m"
      s"""(SELECT s.$idCol, s.m$sv,
             (min(struct_pack(d := $chain, cid := ct.cid))).cid AS $outCol
           FROM $rel s JOIN cent${n} ct ON s.m = ct.m
           GROUP BY $grp)"""
    }
    val steps = (1 to iters).map { n =>
      s"""a$n AS ${assign(n - 1, "sub", "sid", "cid", keepSv = true)},
         x$n AS (SELECT m, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM a$n),
         m$n AS (SELECT m, cid, pos, round(avg(x), 6) AS mv FROM x$n GROUP BY m, cid, pos),
         cent$n AS (SELECT prev.m, prev.cid, coalesce(nw.cv, prev.cv) AS cv
                    FROM cent${n - 1} prev
                    LEFT JOIN (SELECT m, cid, list(mv ORDER BY pos) AS cv
                               FROM m$n GROUP BY m, cid) nw
                      ON prev.m = nw.m AND prev.cid = nw.cid)"""
    }.mkString(",\n")
    s"""samp AS (SELECT v, CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS sid
                FROM c ORDER BY vec_id LIMIT $trainSample),
       sub AS (SELECT sid, CAST(mr.range AS INTEGER) AS m,
                      v[mr.range * $subDim + 1 : mr.range * $subDim + $subDim] AS sv
               FROM samp, range($m) mr),
       cent0 AS (SELECT m, sid AS cid, sv AS cv FROM sub WHERE sid < $kCent),
       $steps,
       csub AS (SELECT vec_id, CAST(mr.range AS INTEGER) AS m,
                       v[mr.range * $subDim + 1 : mr.range * $subDim + $subDim] AS sv
                FROM c, range($m) mr),
       enc AS ${assign(iters, "csub", "vec_id", "code", keepSv = false)},
       tq AS (SELECT q.vec_id AS query_id, ct.m, ct.cid,
                     list_inner_product(q.v[ct.m * $subDim + 1 : ct.m * $subDim + $subDim],
                                        ct.cv) AS tval
              FROM q CROSS JOIN cent$iters ct)"""
  }

  /** Shortlist + exact-rerank tail shared by the PQ-family oracles:
    * rank `scoredRel` (query_id, neighbor_id, adc) by normalized ADC,
    * keep `rerank`, exact-cosine top-k. */
  private def pqOracleTail(rerank: Int, k: Int): String =
    s"""short AS (SELECT query_id, neighbor_id FROM (
                   SELECT sc.query_id, sc.neighbor_id,
                          row_number() OVER (PARTITION BY sc.query_id
                            ORDER BY sc.adc / sqrt(qq.n2 * cc.n2) DESC,
                                     sc.neighbor_id) AS arnk
                   FROM scored sc
                   JOIN q qq ON sc.query_id = qq.vec_id
                   JOIN c cc ON sc.neighbor_id = cc.vec_id) WHERE arnk <= $rerank)
       SELECT short.query_id,
              CAST(row_number() OVER (PARTITION BY short.query_id
                ORDER BY list_cosine_similarity(qq.v, cc.v) DESC,
                         short.neighbor_id) AS INTEGER) AS rnk,
              short.neighbor_id
       FROM short
       JOIN q qq ON short.query_id = qq.vec_id
       JOIN c cc ON short.neighbor_id = cc.vec_id
       QUALIFY rnk <= $k"""

  private def annPqOracle: String = {
    val (m, kCent, subDim, trainSample, iters, rerank, k) = (8, 32, 8, 512, 3, 50, 5)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id >= 8),
       q AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id < 8),
       ${pqOracleCtes(m, kCent, subDim, trainSample, iters)},
       scored AS (SELECT tq.query_id, enc.vec_id AS neighbor_id,
                    list_reduce(list_prepend(0.0, list(tq.tval ORDER BY tq.m)),
                                (acc, x) -> acc + x) AS adc
                  FROM enc JOIN tq ON enc.m = tq.m AND enc.code = tq.cid
                  GROUP BY tq.query_id, enc.vec_id),
       ${pqOracleTail(rerank, k)}"""
  }

  /** ann_ivfpq oracle: the ann_ivf and ann_pq gates COMPOSED — the
    * coarse quantizer (lowest-id centroid set, struct-min list
    * assignment, ordered nprobe ranking) re-derived exactly as in
    * [[annIvfOracle]], the PQ codebook re-derived by the unrolled
    * edge-rounded Lloyd of [[annPqOracle]], and the ADC scoring
    * restricted to (query, neighbor) pairs whose list ids meet in the
    * query's probe set — then the shared shortlist/exact-rerank tail.
    * Coarse list ids are named `lid` to keep them distinct from the
    * PQ sub-centroid `cid`s. */
  private def annIvfPqOracle: String = {
    val (nCentroids, nprobe) = (16, 8)
    val (m, kCent, subDim, trainSample, iters, rerank, k) = (8, 32, 8, 512, 3, 50, 5)
    def d(v: String) =
      s"list_inner_product(cc2.cv, cc2.cv) - 2 * list_inner_product($v, cc2.cv)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id >= 8),
       q AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id < 8),
       ccent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS lid,
                        v AS cv
                 FROM c ORDER BY vec_id LIMIT $nCentroids),
       cass AS (SELECT c.vec_id AS neighbor_id,
                       (min(struct_pack(d := ${d("c.v")}, lid := cc2.lid))).lid AS lid
                FROM c CROSS JOIN ccent cc2 GROUP BY c.vec_id),
       qprobe AS (SELECT vec_id AS query_id, lid FROM (
                    SELECT q.vec_id, cc2.lid,
                           row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY ${d("q.v")}, cc2.lid) AS pr
                    FROM q CROSS JOIN ccent cc2) WHERE pr <= $nprobe),
       pairs AS (SELECT qp.query_id, ca.neighbor_id
                 FROM qprobe qp JOIN cass ca USING (lid)),
       ${pqOracleCtes(m, kCent, subDim, trainSample, iters)},
       scored AS (SELECT p.query_id, p.neighbor_id,
                    list_reduce(list_prepend(0.0, list(tq.tval ORDER BY tq.m)),
                                (acc, x) -> acc + x) AS adc
                  FROM pairs p
                  JOIN enc ON enc.vec_id = p.neighbor_id
                  JOIN tq ON tq.query_id = p.query_id
                         AND tq.m = enc.m AND tq.cid = enc.code
                  GROUP BY p.query_id, p.neighbor_id),
       ${pqOracleTail(rerank, k)}"""
  }

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

  /** text_bpe oracle: the whole BPE training loop replayed in SQL —
    * word-frequency vocab, then per round (unrolled ×3) the
    * adjacent-pair aggregation with (count desc, lhs, rhs) argmax and
    * the merge application as a RECURSIVE-CTE FOLD: symbols are
    * consumed one at a time, merging when the accumulator's tail is
    * lhs and the incoming symbol is rhs — exactly the fold the native
    * BpeOps.mergeOnce computes (and provably the classic left-to-
    * right scan, see BpeOps). Integer counts and binary string
    * ordering end to end — nothing float anywhere. */
  /** Shared WITH-prefix of the two BPE oracles: vocab build + `iters`
    * training rounds. The original word `w` rides through every fold
    * round, so v$iters is BOTH the final training vocab and the
    * encode table (training applies each learned merge to the vocab
    * as it goes — exactly what encoding a vocab word replays). */
  private def bpeWithPrefix(iters: Int): String = {
    // v$n / r$n are MATERIALIZED (r12): r$n sits in f${n}'s recurring
    // term and v$n seeds round n+1 — DuckDB 1.0's default inlining
    // re-planned the whole previous-round recursion per level, the
    // same cost cliff the unigram oracle hit (318 s → <1 s fixed).
    def round(n: Int): String =
      s"""pc$n AS (SELECT syms[i] AS lhs, syms[i+1] AS rhs, sum(freq) AS cnt
           FROM v${n - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
           GROUP BY 1, 2),
         r$n AS MATERIALIZED (
           SELECT lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM pc$n
           ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         f$n AS (
           SELECT wid, w, 1 AS i, [syms[1]] AS acc, syms, freq FROM v${n - 1}
           UNION ALL
           SELECT f.wid, f.w, f.i + 1,
             CASE WHEN f.acc[-1] = r.lhs AND f.syms[f.i + 1] = r.rhs
                  THEN list_append(f.acc[1:len(f.acc) - 1], r.lhs || r.rhs)
                  ELSE list_append(f.acc, f.syms[f.i + 1]) END,
             f.syms, f.freq
           FROM f$n f CROSS JOIN r$n r WHERE f.i < len(f.syms)),
         v$n AS MATERIALIZED (
           SELECT wid, w, acc AS syms, freq FROM f$n WHERE i = len(syms))"""
    s"""WITH RECURSIVE
       w0 AS MATERIALIZED (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
           FROM documents)
         WHERE w <> '' GROUP BY w),
       v0 AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY w) AS wid, w,
                string_split(w, '') AS syms, freq FROM w0),
       ${(1 to iters).map(round).mkString(",\n")}"""
  }

  private def bpeOracleSql: String = {
    val iters = 3
    s"""${bpeWithPrefix(iters)}
       ${(1 to iters).map(n =>
        s"SELECT $n AS merge_idx, lhs, rhs, cnt AS pair_count FROM r$n")
        .mkString("\n UNION ALL ")}"""
  }

  /** text_bpe_encode oracle: the learned-rules APPLICATION gated —
    * every (doc_id, word) occurrence joined to the fully-merged vocab
    * entry (v3 IS encode-with-3-rules of each vocab word, see
    * [[bpeWithPrefix]]); subwords joined with '|' for an
    * engine-comparable string. */
  private def bpeEncodeOracleSql: String =
    s"""${bpeWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents)
       SELECT d.doc_id, d.word, array_to_string(v.syms, '|') AS subwords
       FROM dw d JOIN v3 v ON d.word = v.w
       WHERE d.word <> ''"""

  /** text_bpe_eval oracle: the encode pipeline's per-occurrence
    * splits aggregated to corpus fertility/compression. */
  private def bpeEvalOracleSql: String =
    s"""${bpeWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents),
       j AS (
         SELECT len(v.syms) AS ns, length(d.word) AS nc
         FROM dw d JOIN v3 v ON d.word = v.w
         WHERE d.word <> '')
       SELECT count(*) AS n_words,
              CAST(sum(ns) AS BIGINT) AS n_subwords,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              round(sum(ns) / CAST(count(*) AS DOUBLE), 4) AS fertility,
              round(sum(nc) / CAST(sum(ns) AS DOUBLE), 4) AS chars_per_subword
       FROM j"""

  /** Shared WITH-prefix of the unigram-tokenizer oracles: vocab →
    * substring-seeded piece table m0 → `iters` hard-EM rounds, each a
    * Viterbi-segmentation recursive CTE (e$n) plus an exact-count
    * M-step (m$n). The DP state RIDES IN THE ROW: (v0,p0) is the best
    * log-prob and piece path at the current position, (v1,p1)/(v2,p2)
    * at the previous two — exactly the window a maxLen=3 Viterbi
    * needs, so each recursion step advances one codepoint per word.
    * Candidate order mirrors UnigramEncode: longest piece first with
    * strictly-greater replacement (the `c3 >= c2 AND c3 >= c1` CASE),
    * single-codepoint fallback at the shared unk floor. All dp values
    * are sums of 6dp-rounded decimals accumulated in the same order
    * as the native expression, so comparisons agree bit-for-bit.
    *
    * COST SHAPE (r12): every model CTE is `AS MATERIALIZED` and the
    * per-position piece lookups are LEFT JOINs against it, not
    * correlated scalar subqueries. DuckDB 1.0 inlines CTEs by
    * default, so a correlated `(SELECT logp FROM m2 ...)` inside the
    * e3 recursion re-planned the ENTIRE m2←e2←m1←e1 chain per
    * recursion level — the r11 driver sweep measured 318 s for this
    * one oracle at sf0.01 and the artifact timed out empty. The
    * materialized-join form is the same DP bit-for-bit and runs in
    * <1 s. (Materializing alone without de-correlating trips a
    * DuckDB 1.0 wrong-result on correlated subqueries over
    * materialized CTEs inside recursion — hence joins, not hints.) */
  private def unigramWithPrefix(iters: Int): String = {
    val maxLen = 3
    val seedTopK = 200
    val unk = graft.operators.Unigram.UnkLogp
    def viterbi(n: Int): String = {
      val m = s"m${n - 1}"
      s"""e$n AS (
           SELECT wid, w, freq, syms, 0 AS i,
                  CAST(0.0 AS DOUBLE) AS v0, []::VARCHAR[] AS p0,
                  CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS VARCHAR[]) AS p1,
                  CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR[]) AS p2
           FROM v0
           UNION ALL
           SELECT wid, w, freq, syms, i + 1,
                  CASE WHEN c3 IS NOT NULL AND c3 >= coalesce(c2, -1e308)
                            AND c3 >= c1 THEN c3
                       WHEN c2 IS NOT NULL AND c2 >= c1 THEN c2
                       ELSE c1 END,
                  CASE WHEN c3 IS NOT NULL AND c3 >= coalesce(c2, -1e308)
                            AND c3 >= c1 THEN list_append(p2, s3)
                       WHEN c2 IS NOT NULL AND c2 >= c1 THEN list_append(p1, s2)
                       ELSE list_append(p0, s1) END,
                  v0, p0, v1, p1
           FROM (
             SELECT a.*,
                    a.v0 + coalesce(j1.logp, CAST($unk AS DOUBLE)) AS c1,
                    CASE WHEN a.s2 IS NOT NULL
                         THEN a.v1 + j2.logp END AS c2,
                    CASE WHEN a.s3 IS NOT NULL
                         THEN a.v2 + j3.logp END AS c3
             FROM (
               SELECT *, syms[i + 1] AS s1,
                      CASE WHEN i >= 1
                           THEN array_to_string(syms[i:i + 1], '') END AS s2,
                      CASE WHEN i >= 2
                           THEN array_to_string(syms[i - 1:i + 1], '') END AS s3
               FROM e$n WHERE i < len(syms)) a
             LEFT JOIN $m j1 ON j1.piece = a.s1
             LEFT JOIN $m j2 ON j2.piece = a.s2
             LEFT JOIN $m j3 ON j3.piece = a.s3) b),
         c$n AS MATERIALIZED (
           SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
           FROM (SELECT freq, unnest(p0) AS piece FROM e$n
                 WHERE i = len(syms))
           GROUP BY 1),
         m$n AS MATERIALIZED (
           SELECT piece, cnt,
                  round(ln(cnt / (SELECT sum(cnt) FROM c$n)::DOUBLE), 6) AS logp
           FROM c$n)"""
    }
    s"""WITH RECURSIVE
       w0 AS MATERIALIZED (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
           FROM documents)
         WHERE w <> '' GROUP BY w),
       v0 AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY w) AS wid, w,
                string_split(w, '') AS syms, freq FROM w0),
       sub0 AS MATERIALIZED (
         SELECT substr(w, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
         FROM w0,
              unnest(generate_series(1, length(w))) AS a(i),
              unnest(generate_series(1, least($maxLen, length(w) - i + 1))) AS b(l)
         GROUP BY 1),
       top0 AS (SELECT piece, cnt FROM sub0
                ORDER BY cnt DESC, piece LIMIT $seedTopK),
       seed AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM (
                  SELECT piece, cnt FROM top0
                  UNION ALL
                  SELECT piece, cnt FROM sub0 WHERE length(piece) = 1)),
       m0 AS MATERIALIZED (
         SELECT piece, cnt,
               round(ln(cnt / (SELECT sum(cnt) FROM seed)::DOUBLE), 6) AS logp
         FROM seed),
       ${(1 to iters).map(viterbi).mkString(",\n")}"""
  }

  /** WordPiece oracle machinery: the frequency-seeded role-split
    * vocabulary, then the greedy longest-match loop replayed as a
    * recursive CTE over DISTINCT words — per step the three candidate
    * slices probe the vocab in their position's role, the longest hit
    * wins (the WordPieceEncode while-loop verbatim), a miss marks the
    * word failed → [UNK]. Yields `wp_e(wid, w, pieces)`. */
  private def wordpieceCtes: String = {
    val (maxLen, topK) = (3, 200)
    s"""WITH RECURSIVE
       wp_w0 AS (SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
           FROM documents)
         WHERE w <> '' GROUP BY w),
       wp_init AS (
         SELECT substr(w, 1, l) AS piece, 0 AS cont,
                CAST(sum(freq) AS BIGINT) AS cnt
         FROM wp_w0,
              unnest(generate_series(1, least($maxLen, length(w)))) AS b(l)
         GROUP BY 1, 2),
       wp_cont AS (
         SELECT substr(w, i, l) AS piece, 1 AS cont,
                CAST(sum(freq) AS BIGINT) AS cnt
         FROM wp_w0,
              unnest(generate_series(2, length(w))) AS a(i),
              unnest(generate_series(1, least($maxLen, length(w) - i + 1))) AS b(l)
         GROUP BY 1, 2),
       wp_all AS (SELECT * FROM wp_init UNION ALL SELECT * FROM wp_cont),
       wp_top AS (SELECT piece, cont FROM wp_all
                  ORDER BY cnt DESC, cont, piece LIMIT $topK),
       wp_vocab AS (SELECT DISTINCT piece, cont FROM (
           SELECT piece, cont FROM wp_top
           UNION ALL
           SELECT piece, cont FROM wp_all WHERE length(piece) = 1)),
       wp_v0 AS (SELECT row_number() OVER (ORDER BY w) AS wid, w FROM wp_w0),
       wp_g AS (
         SELECT wid, w, 0 AS pos, []::VARCHAR[] AS pieces, FALSE AS failed
         FROM wp_v0
         UNION ALL
         SELECT wid, w, pos + takel,
                CASE WHEN takel = 0 THEN pieces
                     WHEN pos = 0 THEN list_append(pieces, sp)
                     ELSE list_append(pieces, '##' || sp) END,
                takel = 0
         FROM (
           SELECT *,
                  CASE WHEN len3 AND in3 THEN 3
                       WHEN len2 AND in2 THEN 2
                       WHEN in1 THEN 1 ELSE 0 END AS takel,
                  CASE WHEN len3 AND in3 THEN s3
                       WHEN len2 AND in2 THEN s2
                       WHEN in1 THEN s1 END AS sp
           FROM (
             SELECT *,
                    EXISTS(SELECT 1 FROM wp_vocab vv
                           WHERE vv.piece = s1 AND vv.cont = cc) AS in1,
                    EXISTS(SELECT 1 FROM wp_vocab vv
                           WHERE vv.piece = s2 AND vv.cont = cc) AS in2,
                    EXISTS(SELECT 1 FROM wp_vocab vv
                           WHERE vv.piece = s3 AND vv.cont = cc) AS in3
             FROM (
               SELECT wid, w, pos, pieces, failed,
                      substr(w, pos + 1, 1) AS s1,
                      substr(w, pos + 1, 2) AS s2,
                      substr(w, pos + 1, 3) AS s3,
                      length(w) - pos >= 2 AS len2,
                      length(w) - pos >= 3 AS len3,
                      CASE WHEN pos = 0 THEN 0 ELSE 1 END AS cc
               FROM wp_g WHERE pos < length(w) AND NOT failed) a) b) c),
       wp_e AS (
         SELECT wid, w,
                CASE WHEN failed THEN ['[UNK]'] ELSE pieces END AS pieces
         FROM wp_g
         WHERE failed OR (NOT failed AND pos = length(w))),
       wp_dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents)"""
  }

  private def wordpieceEncodeOracleSql: String =
    s"""$wordpieceCtes
       SELECT d.doc_id, d.word, array_to_string(e.pieces, '|') AS pieces
       FROM wp_dw d JOIN wp_e e ON d.word = e.w
       WHERE d.word <> ''"""

  private def wordpieceEvalOracleSql: String =
    s"""$wordpieceCtes,
       wp_j AS (
         SELECT len(e.pieces) AS np, length(d.word) AS nc
         FROM wp_dw d JOIN wp_e e ON d.word = e.w
         WHERE d.word <> '')
       SELECT count(*) AS n_words,
              CAST(sum(np) AS BIGINT) AS n_pieces,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              round(sum(np) / CAST(count(*) AS DOUBLE), 4) AS fertility,
              round(sum(nc) / CAST(sum(np) AS DOUBLE), 4) AS chars_per_piece
       FROM wp_j"""

  /** text_unigram oracle: the final model table after `iters` hard-EM
    * rounds — exact piece counts + 6dp log-probs. */
  private def unigramOracleSql: String =
    s"""${unigramWithPrefix(2)}
       SELECT piece, cnt, logp FROM m2"""

  /** text_unigram_encode oracle: one more Viterbi pass (e3) under the
    * trained m2, joined to every (doc_id, word) occurrence — encode of
    * a vocab word IS its segmentation row. */
  private def unigramEncodeOracleSql: String =
    s"""${unigramWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents)
       SELECT d.doc_id, d.word, array_to_string(e.p0, '|') AS pieces
       FROM dw d JOIN (SELECT w, p0 FROM e3 WHERE i = len(syms)) e
         ON d.word = e.w
       WHERE d.word <> ''"""

  /** text_unigram_eval oracle: the encode segmentations aggregated to
    * corpus fertility/compression (the bpe_eval shape). */
  private def unigramEvalOracleSql: String =
    s"""${unigramWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents),
       j AS (
         SELECT len(e.p0) AS np, length(d.word) AS nc
         FROM dw d JOIN (SELECT w, p0, syms, i FROM e3 WHERE i = len(syms)) e
           ON d.word = e.w
         WHERE d.word <> '')
       SELECT count(*) AS n_words,
              CAST(sum(np) AS BIGINT) AS n_pieces,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              round(sum(np) / CAST(count(*) AS DOUBLE), 4) AS fertility,
              round(sum(nc) / CAST(sum(np) AS DOUBLE), 4) AS chars_per_piece
       FROM j"""

  /** quality_classifier_train oracle: 3 unrolled GD iterations — the
    * same feature derivation (exact rationals + 4dp rounds), σ from
    * the previous round's accumulated weights, mean gradient rounded
    * 6dp at each iteration edge, weights summed in the same
    * association order as the Scala loop (bit-identical doubles). */
  /** The logreg gate's labeled feature frame: exact-rational / 4dp
    * text features + the deterministic lang='en' label (shared by the
    * train and eval queries; mirrored column-for-column in
    * [[logregCtes]]). */
  private def logregFeatures(docs: DataFrame): DataFrame =
    docs.select(
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        (least(Text.tokenCount(col("text")), lit(1000)) / lit(1000.0)).as("x1"),
        round(Text.stopwordRatio(col("text")), 4).as("x2"),
        round(Text.avgTokenLen(col("text")) / lit(10.0), 4).as("x3"),
        Text.tokenCount(col("text")).as("__n"))
      .filter(col("__n") >= 1)

  /** Bucket count of the hashed-ngram gate feature map (power of two:
    * the signed-long `& (B-1)` bucket must equal the oracle's
    * unsigned mod-2^64 hash mod B). 16 buckets + bias = 17 features
    * — the GATE width; production fastText raises B to millions via
    * [[graft.operators.Curation.logisticTrainSparse]]. */
  private val ngramBuckets = 16

  /** DSIR gate width (power of two for the same signed-& reason);
    * production DSIR uses 10k+ buckets via the sparse twin. */
  private val dsirBuckets = 32

  /** The text_bm25 literal query bag (df ≈ 0.77 · N on the gate
    * corpus — idf ≈ 0.27, so ranking exercises tf and length
    * normalization, not just term presence). */
  private val bm25Terms = Seq("vector", "customer", "spark")

  /** sample_epochs target shares — chosen so the gate exercises all
    * three regimes: clamp (src0: raw epochs ≈ 5.7), genuine
    * up-sampling (src1 ≈ 3.5×), slight down-sampling (src2 ≈ 0.97). */
  private val epochShares = Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.05)

  /** The hashed-ngram gate's labeled feature frame: bias + 16
    * poly-31 token-bucket frequencies (4dp), lang='en' label —
    * mirrored in [[ngramFeatureSqlCols]]. */
  private def ngramFeatures(docs: DataFrame): DataFrame =
    graft.operators.Curation.hashedTokenFeatures(docs,
      when(col("lang") === "en", 1.0).otherwise(0.0), col("text"),
      ngramBuckets)

  /** Integer confusion matrix + rounded accuracy over a (y, yhat)
    * frame — the shared tail of both classifier eval gates. */
  private def confusionMetrics(scored: DataFrame): DataFrame =
    scored.agg(
        sum(when(col("yhat") === 1.0 && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(col("yhat") === 1.0 && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("yhat") === 0.0 && col("y") === 0.0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("yhat") === 0.0 && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
        count(lit(1)).as("n"))
      .select(explode(array(
        struct(lit("tp").as("metric"), col("tp").cast("double").as("value")),
        struct(lit("fp").as("metric"), col("fp").cast("double").as("value")),
        struct(lit("tn").as("metric"), col("tn").cast("double").as("value")),
        struct(lit("fn").as("metric"), col("fn").cast("double").as("value")),
        struct(lit("accuracy").as("metric"),
          round((col("tp") + col("tn")) / col("n").cast("double"), 4).as("value"))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))

  private val logregXs = 0 to 3
  private def logregDot(w: String, f: String) = gdDot(logregXs, w, f)

  /** Left-folded dot product over feature columns x0..x{n} and weight
    * columns w0..w{n} — the same association order as the Scala
    * `reduce(_ + _)`, so both engines evaluate the identical
    * expression tree. */
  private def gdDot(xs: Range, w: String, f: String) =
    xs.map(i => s"$w.w$i * $f.x$i").mkString(" + ")

  /** Unrolled gradient-descent iteration CTEs (g1/w1 .. gN/wN for
    * N = iters) over a feature CTE `f` with columns y, x0..x{n} —
    * the shared machinery of every classifier-training oracle: σ from
    * the previous round's accumulated weights (0.5 exactly at w=0),
    * mean gradient rounded 6dp at each iteration edge, lr = 1. */
  private def gdIterCtes(xs: Range, iters: Int): String = {
    def gradCte(n: Int): String =
      if (n == 1)
        s"""g1 AS (SELECT ${xs.map(i =>
          s"round(avg(x$i * (y - 0.5)), 6) AS g$i").mkString(", ")} FROM f),
           w1 AS (SELECT ${xs.map(i => s"g$i AS w$i").mkString(", ")} FROM g1)"""
      else
        s"""g$n AS (SELECT ${xs.map(i =>
          s"round(avg(f.x$i * (f.y - 1.0 / (1.0 + exp(-(${gdDot(xs, "w", "f")}))))), 6) AS g$i")
            .mkString(", ")}
             FROM f CROSS JOIN w${n - 1} w),
           w$n AS (SELECT ${xs.map(i => s"w.w$i + g.g$i AS w$i").mkString(", ")}
                   FROM w${n - 1} w CROSS JOIN g$n g)"""
    (1 to iters).map(gradCte).mkString(",\n")
  }

  /** Shared confusion-matrix SQL tail of both classifier eval
    * oracles: expects a CTE `p` with (y, yhat). */
  private val confusionSqlTail: String =
    """c AS (SELECT
               sum(CASE WHEN yhat = 1 AND y = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN yhat = 1 AND y = 0 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN yhat = 0 AND y = 0 THEN 1 ELSE 0 END) AS tn,
               sum(CASE WHEN yhat = 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
               count(*) AS n
             FROM p)
       SELECT 'tp' AS metric, CAST(tp AS DOUBLE) AS value FROM c
       UNION ALL SELECT 'fp', CAST(fp AS DOUBLE) FROM c
       UNION ALL SELECT 'tn', CAST(tn AS DOUBLE) FROM c
       UNION ALL SELECT 'fn', CAST(fn AS DOUBLE) FROM c
       UNION ALL SELECT 'accuracy', round((tp + tn) / CAST(n AS DOUBLE), 4) FROM c"""

  /** Shared CTE prefix of the logreg oracles: labeled features with a
    * hash-split bucket, plus 3 unrolled GD iterations over the rows
    * matching `trainWhere` (empty = train on everything). */
  private def logregCtes(trainWhere: String): String = {
    val featCols =
      s"""y, 1.0 AS x0,
         least(len(toks), 1000) / 1000.0 AS x1,
         round(len(list_filter(toks,
             tok -> tok IN ('the','a','of','and','in','to','is')))
           / CAST(len(toks) AS DOUBLE), 4) AS x2,
         round(n_nonspace / CAST(len(toks) AS DOUBLE) / 10.0, 4) AS x3"""
    s"""WITH b AS (
         SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                string_split_regex(trim(text), '\\s+') AS toks,
                length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nonspace,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents),
       f AS (
         SELECT $featCols
         FROM b WHERE len(toks) >= 1 $trainWhere),
       ${gdIterCtes(logregXs, 3)}"""
  }

  private def logregOracleSql: String =
    s"""${logregCtes("")}
       ${logregXs.map(i =>
        s"SELECT 'x$i' AS feature, round(w$i, 6) AS weight FROM w3")
        .mkString("\n UNION ALL ")}"""

  /** quality_classifier_eval oracle: train on the md5-bucket < 80
    * split, score the held-out rows with the learned weights (same
    * left-folded dot), and emit the INTEGER confusion matrix +
    * rounded accuracy. */
  private def logregEvalOracleSql: String =
    s"""${logregCtes("AND bucket < 80")},
       feval AS (
         SELECT y, 1.0 AS x0,
                least(len(toks), 1000) / 1000.0 AS x1,
                round(len(list_filter(toks,
                    tok -> tok IN ('the','a','of','and','in','to','is')))
                  / CAST(len(toks) AS DOUBLE), 4) AS x2,
                round(n_nonspace / CAST(len(toks) AS DOUBLE) / 10.0, 4) AS x3
         FROM b WHERE len(toks) >= 1 AND bucket >= 80),
       p AS (SELECT f.y,
                    CASE WHEN (${logregDot("w", "f")}) > 0 THEN 1.0 ELSE 0.0 END AS yhat
             FROM feval f CROSS JOIN w3 w),
       $confusionSqlTail"""

  /** The hashed-ngram feature columns in DuckDB SQL, mirroring
    * [[ngramFeatures]] column-for-column: expects a CTE with `y`,
    * `toks` (empty tokens removed) and `hb` (per-token poly-31
    * bucket). */
  private def ngramFeatureSqlCols: String =
    (Seq("y", "1.0 AS x0") ++
      (0 until ngramBuckets).map(b =>
        s"round(len(list_filter(hb, h -> h = $b)) / CAST(len(toks) AS DOUBLE), 4) AS x${b + 1}"))
      .mkString(",\n                ")

  /** Shared CTE prefix of the hashed-ngram classifier oracles: the
    * per-token poly-31 rolling hash (the list_reduce fold every hash
    * oracle in this file uses) bucketed mod 16 — equal to the JVM's
    * signed `& 15` because 16 divides 2^64 — then the same 3
    * unrolled GD iterations as the dense gate. */
  private def ngramCtes(trainWhere: String): String = {
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(string_split(tok, ''), c -> ord(c)::HUGEINT)), " +
      "(a, b2) -> (a * 31 + b2) % 18446744073709551616::HUGEINT)"
    s"""WITH b0 AS (
         SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                list_filter(string_split_regex(trim(text), '\\s+'),
                  t0 -> t0 <> '') AS toks,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents),
       bh AS (
         SELECT y, toks, bucket,
                list_transform(toks,
                  tok -> CAST($poly % $ngramBuckets AS INTEGER)) AS hb
         FROM b0),
       f AS (
         SELECT $ngramFeatureSqlCols
         FROM bh WHERE len(toks) >= 1 $trainWhere),
       ${gdIterCtes(0 to ngramBuckets, 3)}"""
  }

  /** quality_ngram_train oracle: bucket hashes re-derived in SQL, 3
    * unrolled GD iterations, weights emitted with zero-padded
    * feature labels (x00..x16). */
  private def ngramTrainOracleSql: String =
    s"""${ngramCtes("")}
       ${(0 to ngramBuckets).map(i =>
        f"SELECT 'x$i%02d' AS feature, round(w$i, 6) AS weight FROM w3")
        .mkString("\n UNION ALL ")}"""

  /** quality_ngram_eval oracle: train on md5-bucket < 80, score the
    * held-out rows, emit the confusion matrix — the dense eval
    * oracle's shape over the hashed feature map. */
  private def ngramEvalOracleSql: String =
    s"""${ngramCtes("AND bucket < 80")},
       feval AS (
         SELECT $ngramFeatureSqlCols
         FROM bh WHERE len(toks) >= 1 AND bucket >= 80),
       p AS (SELECT f.y,
                    CASE WHEN (${gdDot(0 to ngramBuckets, "w", "f")}) > 0
                         THEN 1.0 ELSE 0.0 END AS yhat
             FROM feval f CROSS JOIN w3 w),
       $confusionSqlTail"""

  /** sample_dsir CTE chain, shared with the select oracle: poly-31
    * token buckets, add-one-smoothed bucket log-ratios (a bucket
    * absent from the corpus coalesces to 0 — its per-doc count is 0
    * everywhere, so the value is never weighted), and the per-doc
    * fixed-order chained dot that mirrors the Scala `reduce(_ + _)`
    * association tree term for term. */
  private def dsirCtes: String = {
    val B = dsirBuckets
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(string_split(tok, ''), c -> ord(c)::HUGEINT)), " +
      "(a, b2) -> (a * 31 + b2) % 18446744073709551616::HUGEINT)"
    val lrCols = (0 until B).map(b =>
      s"coalesce(max(CASE WHEN b = $b THEN lr END), 0) AS lr$b")
      .mkString(", ")
    val dot = (0 until B).map(b =>
      s"len(list_filter(hb, h -> h = $b)) * l.lr$b").mkString(" + ")
    s"""WITH t0 AS (
       |  SELECT doc_id, (lang = 'en') AS tgt,
       |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, tgt,
       |         list_transform(ts, tok -> CAST($poly % $B AS INTEGER)) AS hb
       |  FROM t0 WHERE len(ts) >= 1),
       |bc AS (
       |  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, count(*) AS cr
       |  FROM (SELECT tgt, unnest(hb) AS b FROM db) GROUP BY 1),
       |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
       |lr AS (
       |  SELECT b, ln((ct + 1) / CAST(nt + $B AS DOUBLE))
       |           - ln((cr + 1) / CAST(nr + $B AS DOUBLE)) AS lr
       |  FROM bc CROSS JOIN tot),
       |lrrow AS (SELECT $lrCols FROM lr),
       |wts AS (
       |  SELECT doc_id, round($dot, 6) AS dsir_logweight
       |  FROM db CROSS JOIN lrrow l)""".stripMargin
  }

  private def dsirOracleSql: String =
    s"""$dsirCtes
       |SELECT doc_id, dsir_logweight FROM wts""".stripMargin

  /** sample_dsir_select oracle: the same weights plus the
    * deterministic Gumbel key — md5 bucket of 'dsir:'||id (the
    * hashBucket holdout convention; avalanched so u is uniform),
    * u ∈ (0,1), g = −ln(−ln u) — then ORDER BY key DESC, id LIMIT k
    * (the TakeOrdered the plan runs). */
  private def dsirSelectOracleSql: String = {
    val mdId = "CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT) % 1048576"
    s"""$dsirCtes,
       |sel AS (
       |  SELECT doc_id, dsir_logweight,
       |         round(dsir_logweight - ln(-ln(
       |           (CAST($mdId AS DOUBLE) + 0.5) / 1048576.0)), 6)
       |           AS dsir_key
       |  FROM wts)
       |SELECT doc_id, dsir_logweight, dsir_key
       |FROM sel ORDER BY dsir_key DESC, doc_id LIMIT 100""".stripMargin
  }

  /** sample_epochs oracle: stratum/total token sums (integral,
    * order-free), the share CASE, the clamped epochs expression in
    * the plan's association order, and the per-doc hash draw u <
    * frac(epochs) replayed with the md5 'epoch:'||id bucket. */
  private def epochsOracleSql: String = {
    val shareCase = epochShares.toSeq.sortBy(_._1)
      .map { case (s, v) => s"WHEN source = '$s' THEN CAST($v AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE NULL END")
    val polyId = "CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT)"
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS tok
       |  FROM documents),
       |av AS (SELECT source, sum(tok) AS avail FROM b GROUP BY 1),
       |tt AS (SELECT sum(tok) AS tot FROM b),
       |e AS (
       |  SELECT b.doc_id, b.source,
       |         CASE WHEN ($shareCase) IS NOT NULL
       |              THEN least(($shareCase) * 1.0 * tot / avail, 4.0)
       |              ELSE 1.0 END AS epochs,
       |         (CAST($polyId % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
       |  FROM b LEFT JOIN av USING (source) CROSS JOIN tt)
       |SELECT doc_id, source, round(epochs, 6) AS epochs,
       |       CAST(floor(epochs) +
       |            (CASE WHEN u < epochs - floor(epochs) THEN 1 ELSE 0 END)
       |            AS INTEGER) AS n_copies
       |FROM e""".stripMargin
  }

  /** The end-to-end curation pipeline oracle's shared CTE chain:
    * each stage's CTEs are the STANDALONE component oracle
    * re-rooted at the previous stage's survivor CTE (d1..d4), ending
    * in `packed(doc_id, copy, shard, pos, n_tokens, pack_id)`.
    * Stage params mirror [[curatedFor]] exactly; the expansion uid
    * (doc_id*16 + copy), the (copy ':' text) shard hash and the
    * pos-ordered pack window mirror CuratePipeline.curate. */
  private def pipelineCtes: String = {
    val shareCase = epochShares.toSeq.sortBy(_._1)
      .map { case (s, v) => s"WHEN source = '$s' THEN CAST($v AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE NULL END")
    val polyId = "CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT)"
    s"""${jaccardCtesFor("documents", "pl_")},
       |pl_pairs AS (
       |  SELECT da, db
       |  FROM pl_shared JOIN pl_sz za ON da = za.doc_id
       |  JOIN pl_sz zb ON db = zb.doc_id
       |  WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
       |pl_edges AS (
       |  SELECT da AS src, db AS dst FROM pl_pairs
       |  UNION ALL SELECT db, da FROM pl_pairs),
       |pl_reach(node, lbl) AS (
       |  SELECT src, src FROM pl_edges
       |  UNION
       |  SELECT e.src, r.lbl FROM pl_edges e JOIN pl_reach r ON e.dst = r.node),
       |pl_clusters AS (SELECT node, min(lbl) AS cluster_id FROM pl_reach GROUP BY 1),
       |d1 AS MATERIALIZED (SELECT * FROM documents
       |       WHERE doc_id NOT IN
       |             (SELECT node FROM pl_clusters WHERE node <> cluster_id)),
       |ens AS MATERIALIZED (${qualityEnsembleOracleSqlFor("d1")}),
       |d2 AS MATERIALIZED (SELECT d1.* FROM d1 JOIN ens USING (doc_id) WHERE ens.keep),
       |bl AS MATERIALIZED (${bloomOracleSqlFor("d2")}),
       |d3 AS MATERIALIZED (SELECT d2.* FROM d2 JOIN bl USING (doc_id) WHERE NOT bl.flagged),
       |mw AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt FROM d3 GROUP BY 1),
       |mg AS (SELECT sum(wt) AS wtot FROM mw),
       |mr AS (SELECT lang,
       |         CASE WHEN lang IN ('en', 'de')
       |              THEN least(1.0,
       |                (CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.35 END
       |                 * wtot) / wt)
       |              ELSE 0.6 END AS rate
       |       FROM mw CROSS JOIN mg),
       |d4 AS MATERIALIZED (SELECT d3.* FROM d3 JOIN mr USING (lang)
       |       WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
       |             < rate * 10000),
       |eb AS (SELECT doc_id, source,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS tok
       |       FROM d4),
       |eav AS (SELECT source, sum(tok) AS avail FROM eb GROUP BY 1),
       |ett AS (SELECT sum(tok) AS tot FROM eb),
       |ee AS (
       |  SELECT eb.doc_id,
       |         CASE WHEN ($shareCase) IS NOT NULL
       |              THEN least(($shareCase) * 1.0 * tot / avail, 4.0)
       |              ELSE 1.0 END AS epochs,
       |         (CAST($polyId % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
       |  FROM eb LEFT JOIN eav USING (source) CROSS JOIN ett),
       |ncopies AS (
       |  SELECT doc_id,
       |         CAST(floor(epochs) +
       |              (CASE WHEN u < epochs - floor(epochs) THEN 1 ELSE 0 END)
       |              AS INTEGER) AS n_copies
       |  FROM ee),
       |expanded AS (
       |  SELECT d4.doc_id, d4.text, CAST(c.c AS INTEGER) AS copy,
       |         d4.doc_id * 16 + c.c AS uid
       |  FROM d4 JOIN ncopies USING (doc_id),
       |       unnest(generate_series(0, CAST(n_copies AS BIGINT) - 1)) AS c(c)
       |  WHERE n_copies >= 1),
       |shd AS (
       |  SELECT doc_id, copy, uid,
       |         CAST(('0x' || substr(md5(CAST(copy AS VARCHAR) || ':' || text), 1, 8))
       |              AS BIGINT) % 8 AS shard,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
       |           AS n_tokens
       |  FROM expanded),
       |positioned AS (
       |  SELECT doc_id, copy, shard, n_tokens,
       |         CAST(row_number() OVER (
       |           PARTITION BY shard
       |           ORDER BY md5(CAST(uid AS VARCHAR)), uid) AS INTEGER) AS pos
       |  FROM shd),
       |packed AS MATERIALIZED (
       |  SELECT doc_id, copy, shard, pos, n_tokens,
       |         CAST(floor((sum(n_tokens) OVER (
       |                 PARTITION BY shard ORDER BY pos
       |                 ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
       |           AS pack_id
       |  FROM positioned)""".stripMargin
  }

  private def pipelineCurateOracleSql: String =
    s"""WITH RECURSIVE $pipelineCtes
       |SELECT doc_id, copy, shard, pos, n_tokens, pack_id FROM packed""".stripMargin

  private def pipelineReportOracleSql: String =
    s"""WITH RECURSIVE $pipelineCtes
       |SELECT (SELECT count(*) FROM documents) AS n_raw,
       |       (SELECT count(*) FROM d1) AS n_dedup,
       |       (SELECT count(*) FROM d2) AS n_quality,
       |       (SELECT count(*) FROM d3) AS n_decon,
       |       (SELECT count(*) FROM d4) AS n_mixture,
       |       (SELECT count(*) FROM packed) AS n_copies,
       |       (SELECT count(DISTINCT (shard, pack_id)) FROM packed) AS n_packs,
       |       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM packed) AS n_tokens""".stripMargin

  /** text_bm25 oracle: df/N/avgdl from one aggregate (all integral
    * sums — order-independent), then the per-term scoring chain with
    * the Scala-computed double literals (k1+1 etc.) interpolated via
    * Double.toString so both engines parse the identical bits. */
  private def bm25OracleSql: String = {
    val (k1, b, k) = (1.2, 0.75, 20)
    val dfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(ts, '$t') THEN 1.0 ELSE 0.0 END) AS df$i"
    }.mkString(", ")
    val chain = bm25Terms.zipWithIndex.map { case (t, i) =>
      val tf = s"len(list_filter(ts, x -> x = '$t'))"
      s"ln(1.0 + (st.n - st.df$i + 0.5) / (st.df$i + 0.5)) * ($tf * ${k1 + 1.0}) / " +
        s"($tf + $k1 * (${1.0 - b} + $b * dl / st.avgdl))"
    }.mkString(" + ")
    s"""WITH t0 AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |d AS (SELECT doc_id, ts, CAST(len(ts) AS DOUBLE) AS dl
       |      FROM t0 WHERE len(ts) >= 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfCols FROM d),
       |s AS (SELECT doc_id, round($chain, 4) AS bm25 FROM d CROSS JOIN st),
       |r AS (SELECT doc_id,
       |             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rnk,
       |             bm25
       |      FROM s)
       |SELECT doc_id, rnk, bm25 FROM r WHERE rnk <= $k""".stripMargin
  }

  /** text_langid oracle (also a CTE of the eval gate). */
  /** decon_ngram oracle — ALSO the decon_index_probe oracle: the
    * standing benchmark index stores distinct shingle membership, so
    * its exact probe is definitionally the same computation. */
  private def deconNgramOracleSql: String =
    """WITH toks AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
           FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         bench AS (SELECT s, doc_id FROM sh WHERE source IN ('src0', 'src1')),
         corpus AS (SELECT doc_id, s FROM sh WHERE source NOT IN ('src0', 'src1'))
         SELECT c.doc_id,
                count(DISTINCT c.s) AS n_shared_shingles,
                count(DISTINCT b.doc_id) AS n_bench_docs
         FROM corpus c JOIN bench b ON c.s = b.s
         GROUP BY 1"""

  private def langidOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                  FROM documents)
       SELECT doc_id,
              CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS predicted_lang
       FROM (SELECT doc_id, list_aggregate([
               {'hits': len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it'))), 'lang': 'en'},
               {'hits': len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))), 'lang': 'de'},
               {'hits': len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','es'))), 'lang': 'es'},
               {'hits': len(list_filter(toks, t -> t IN ('le','la','et','les','des','est','un','dans'))), 'lang': 'fr'},
               {'hits': len(list_filter(toks, t -> t IN ('的','是','了','在','和','有','我','不'))), 'lang': 'zh'}
             ], 'max') AS best FROM t)"""

  /** Trained-langid gate constants: the corpus lang label set and
    * the NB feature width (power of two, though the char-3-gram poly
    * hash never exceeds 2^31 so plain % matches in both engines). */
  private val langidLangs = Seq("de", "en", "es", "fr", "zh")
  private val langidNbBuckets = 16

  /** Shared CTE chain of the trained-langid oracles: codepoint list →
    * char-3-gram poly-31 buckets (exact — the gram value is < 2^31,
    * no mod-2^64 machinery) → exact integer bucket counts → the
    * 1-row training aggregate over the md5-bucket<80 split. */
  private def langidNbCtes: String = {
    val B = langidNbBuckets
    val xcols = (0 until B)
      .map(b => s"len(list_filter(gb, h -> h = $b)) AS x$b")
      .mkString(",\n       |         ")
    val perLang = langidLangs.sorted.flatMap { l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l" +:
        (0 until B).map(b =>
          s"CAST(sum(CASE WHEN lang = '$l' THEN x$b ELSE 0 END) AS BIGINT) " +
            s"AS c_${l}_$b")
    }.mkString(",\n       |         ")
    s"""WITH nb0 AS (
       |  SELECT lang,
       |         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket,
       |         list_transform(list_filter(string_split(lower(text), ''),
       |                                    c -> c <> ''),
       |                        c -> ord(c)::BIGINT) AS codes
       |  FROM documents),
       |nb1 AS (
       |  SELECT lang, bucket,
       |         CASE WHEN len(codes) >= 3
       |              THEN list_transform(generate_series(1, len(codes) - 2),
       |                   i -> ((codes[i] * 31 + codes[i+1]) * 31 + codes[i+2]) % $B)
       |              ELSE [] END AS gb
       |  FROM nb0),
       |nbx AS (
       |  SELECT lang, bucket,
       |         $xcols
       |  FROM nb1),
       |nbtr AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         $perLang
       |  FROM nbx WHERE bucket < 80)""".stripMargin
  }

  private def langidTotChain(l: String): String =
    (0 until langidNbBuckets).map(b => s"c_${l}_$b").mkString("(", " + ", ")")
  private def langidPriorSql(l: String): String =
    s"round(ln(CAST(n_$l + 1 AS DOUBLE) / (n + ${langidLangs.size})), 6)"
  private def langidLikSql(l: String, b: Int): String =
    s"round(ln(CAST(c_${l}_$b + 1 AS DOUBLE) / " +
      s"(${langidTotChain(l)} + $langidNbBuckets)), 6)"

  /** text_langid_train oracle: the closed-form NB fit replayed —
    * exact count rows plus 6dp-rounded log prior/likelihoods. */
  private def langidTrainOracleSql: String = {
    val selects = langidLangs.sorted.flatMap { l =>
      (s"SELECT '$l' AS lang, 'prior' AS feature, n_$l AS cnt, " +
        s"${langidPriorSql(l)} AS logp FROM nbtr") +:
        (0 until langidNbBuckets).map(b =>
          f"SELECT '$l', 'b$b%02d', c_${l}_$b, ${langidLikSql(l, b)} FROM nbtr")
    }
    s"""$langidNbCtes
       |${selects.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** text_langid_model_eval oracle: per-holdout-doc z chains (prior +
    * Σ x_b·lik, left-assoc, term-for-term with the plan), CASE-chain
    * argmax in sorted-lang order, integer confusion counts. */
  private def langidModelEvalOracleSql: String = {
    val B = langidNbBuckets
    val sorted = langidLangs.sorted
    val zCols = sorted.map { l =>
      val chain = (langidPriorSql(l) +:
        (0 until B).map(b => s"CAST(x$b AS DOUBLE) * ${langidLikSql(l, b)}"))
        .mkString(" + ")
      s"$chain AS z_$l"
    }.mkString(",\n       |         ")
    val cases = sorted.dropRight(1).map { l =>
      val cond = sorted.filter(_ != l).map(o => s"z_$l >= z_$o")
        .mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n       |           ")
    s"""$langidNbCtes,
       |nbev AS (SELECT lang, ${(0 until B).map(b => s"x$b").mkString(", ")}
       |         FROM nbx WHERE bucket >= 80),
       |nbz AS (
       |  SELECT lang,
       |         $zCols
       |  FROM nbev CROSS JOIN nbtr)
       |SELECT lang,
       |       CASE $cases
       |           ELSE '${sorted.last}' END AS predicted_lang,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM nbz GROUP BY 1, 2""".stripMargin
  }

  /** quality_classifier oracle (also a CTE of the ensemble): feature
    * arithmetic mirrored term-by-term, keep thresholds the raw
    * logit. */
  private def qualityClassifierOracleSql: String =
    qualityClassifierOracleSqlFor("documents")

  private def qualityClassifierOracleSqlFor(rel: String): String =
    s"""WITH f AS (
         SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ntok,
                CAST(len(regexp_extract_all(
                      regexp_replace(' ' || lower(text) || ' ', '\\s+', '  ', 'g'),
                      ' (the|a|of|and|in|to|is) ')) AS DOUBLE)
                  / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS swr,
                length(regexp_replace(trim(text), '\\s+', '', 'g'))
                  / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS atl,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                  / CAST(length(text) AS DOUBLE) AS pr
         FROM $rel),
       z AS (SELECT doc_id,
               -2.0 + 0.6 * ln(1.0 + ntok)
                    + (-6.0) * (swr - 0.4) * (swr - 0.4)
                    + 0.1 * atl + (-4.0) * pr AS zv
             FROM f)
       SELECT doc_id, round(1.0 / (1.0 + exp(-zv)), 4) AS score,
              (zv > 0) AS keep
       FROM z"""

  /** text_c4_filters oracle (also a CTE of the ensemble, which runs
    * it at minSentences = 0 — the corpus carries no sentence
    * punctuation). */
  private def c4OracleSql: String = c4OracleSqlFor(minSentences = 2)

  private def c4OracleSqlFor(minSentences: Int,
      rel: String = "documents"): String =
    s"""WITH b AS (
         SELECT doc_id,
                len(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS nw,
                length(text) - length(replace(replace(replace(
                    text, '.', ''), '!', ''), '?', '')) AS ns,
                (contains(text, '{') OR contains(text, '}')) AS has_curly,
                contains(lower(text), 'lorem ipsum') AS has_lorem
         FROM $rel)
       SELECT doc_id, CAST(nw AS INTEGER) AS n_words,
              CAST(ns AS INTEGER) AS n_sentences,
              has_curly, has_lorem,
              (nw >= 10 AND nw <= 50000 AND ns >= $minSentences
               AND NOT has_curly AND NOT has_lorem) AS c4_keep
       FROM b"""

  /** text_repetition oracle (also a CTE of the ensemble). */
  private def textRepetitionOracleSql: String =
    textRepetitionOracleSqlFor("documents")

  private def textRepetitionOracleSqlFor(rel: String): String =
    s"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM $rel),
       tf AS (
         SELECT doc_id, token, count(*) AS c
         FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         WHERE token <> '' GROUP BY 1, 2),
       ts AS (
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct_tokens, max(c) AS top_c
         FROM tf GROUP BY 1),
       sh AS (
         SELECT doc_id,
                count(DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS n_distinct_tri
         FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
         GROUP BY 1)
       SELECT ts.doc_id, ts.n_tokens, ts.n_distinct_tokens,
              round(ts.top_c / ts.n_tokens, 4) AS top_token_ratio,
              round(CASE WHEN ts.n_tokens > 2
                    THEN 1.0 - COALESCE(sh.n_distinct_tri, 0) / (ts.n_tokens - 2)
                    ELSE 0.0 END, 4) AS dup_trigram_ratio,
              (ts.top_c / ts.n_tokens <= 0.12 AND
               CASE WHEN ts.n_tokens > 2
                    THEN 1.0 - COALESCE(sh.n_distinct_tri, 0) / (ts.n_tokens - 2)
                    ELSE 0.0 END <= 0.05) AS rep_ok
       FROM ts LEFT JOIN sh ON ts.doc_id = sh.doc_id"""

  /** quality_ensemble oracle: the three component oracles as nested
    * CTEs (each carries its own WITH — legal as a subquery), joined
    * on doc_id with the same left-join + coalesce(false) the plan
    * uses for token-less docs. */
  private def qualityEnsembleOracleSql: String =
    qualityEnsembleOracleSqlFor("documents")

  private def qualityEnsembleOracleSqlFor(rel: String): String =
    s"""WITH c4r AS (${c4OracleSqlFor(minSentences = 0, rel)}),
       |clfr AS (${qualityClassifierOracleSqlFor(rel)}),
       |repr AS (${textRepetitionOracleSqlFor(rel)})
       |SELECT c4r.doc_id, c4r.c4_keep, clfr.keep AS clf_keep,
       |       coalesce(repr.rep_ok, FALSE) AS rep_ok,
       |       (c4r.c4_keep AND clfr.keep AND coalesce(repr.rep_ok, FALSE)) AS keep
       |FROM c4r
       |JOIN clfr ON c4r.doc_id = clfr.doc_id
       |LEFT JOIN repr ON c4r.doc_id = repr.doc_id""".stripMargin

  /** quality_report oracle: the ensemble CTE aggregated to the
    * per-gate kill funnel. */
  private def qualityReportOracleSql: String =
    s"""WITH ens AS ($qualityEnsembleOracleSql)
       |SELECT count(*) AS n_docs,
       |       CAST(sum(CASE WHEN NOT c4_keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS killed_c4,
       |       CAST(sum(CASE WHEN NOT clf_keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS killed_classifier,
       |       CAST(sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT)
       |         AS killed_repetition,
       |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS survivors,
       |       round(sum(CASE WHEN keep THEN 1 ELSE 0 END)
       |             / CAST(count(*) AS DOUBLE), 4) AS keep_rate
       |FROM ens""".stripMargin

  /** emb_recall oracle: exact-cosine ground truth on the audit slice
    * (list_cosine_similarity — the same association as
    * Vectors.cosine) intersected with the hyperplane-literal LSH
    * pair chain; integer counts per audit vector, zero-recall rows
    * kept via LEFT JOIN + coalesce. */
  private def embRecallOracleSql: String =
    s"""WITH $embLshPairsCtes,
       |truth AS (
       |  SELECT q.vec_id AS qid,
       |         least(q.vec_id, p.vec_id) AS vec_a,
       |         greatest(q.vec_id, p.vec_id) AS vec_b
       |  FROM e q JOIN e p ON q.vec_id < 16 AND p.vec_id <> q.vec_id
       |  WHERE list_cosine_similarity(q.v, p.v) >= 0.4),
       |hit AS (
       |  SELECT t.qid FROM truth t
       |  JOIN pairs c ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b),
       |aud AS (SELECT vec_id FROM e WHERE vec_id < 16),
       |tc AS (SELECT qid, count(*) AS n_true FROM truth GROUP BY 1),
       |hc AS (SELECT qid, count(*) AS n_hit FROM hit GROUP BY 1)
       |SELECT a.vec_id, coalesce(tc.n_true, 0) AS n_true,
       |       coalesce(hc.n_hit, 0) AS n_hit
       |FROM aud a
       |LEFT JOIN tc ON a.vec_id = tc.qid
       |LEFT JOIN hc ON a.vec_id = hc.qid""".stripMargin

  /** dedup_recall oracle: the minhash candidate CTE chain and the
    * exact-Jaccard CTE chain (prefix j) composed in one statement;
    * the three corpus-level counts are scalar subqueries. */
  private def dedupRecallOracleSql: String =
    s"""WITH ${minhashCandCtes("sa.doc_id < sb.doc_id")},
       |${jaccardCtesFor("documents", "j")},
       |truth AS MATERIALIZED (
       |  SELECT da, db FROM jshared
       |  JOIN jsz za ON da = za.doc_id
       |  JOIN jsz zb ON db = zb.doc_id
       |  WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
       |hits AS (
       |  SELECT t.da FROM truth t
       |  JOIN cand cd ON t.da = cd.doc_a AND t.db = cd.doc_b)
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |       (SELECT count(*) FROM cand) AS n_candidates,
       |       (SELECT count(*) FROM hits) AS n_hit""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "sample_dsir" -> dsirOracleSql,
    "sample_dsir_select" -> dsirSelectOracleSql,
    "sample_epochs" -> epochsOracleSql,
    "pipeline_curate" -> pipelineCurateOracleSql,
    "pipeline_report" -> pipelineReportOracleSql,
    "emb_recall" -> embRecallOracleSql,
    "quality_ensemble" -> qualityEnsembleOracleSql,
    "quality_report" -> qualityReportOracleSql,

    // PSI drift: every probability is built in DOUBLE from the first
    // add (no DECIMAL detours), bucket spine from generate_series —
    // empty buckets surface with their smoothed mass, not dropped
    "quality_drift" ->
      """WITH d AS (SELECT doc_id, n_chars,
                    len(string_split_regex(trim(text), '\s+')) AS n_toks,
                    doc_id % 2 AS side
             FROM documents),
         b AS (SELECT side, 'chars' AS feature,
                      least(CAST(floor(n_chars / 64) AS BIGINT), 9) AS bucket
               FROM d
               UNION ALL
               SELECT side, 'tokens' AS feature,
                      least(CAST(floor(n_toks / 16) AS BIGINT), 9) AS bucket
               FROM d),
         g AS (SELECT feature, bucket,
                      count(*) FILTER (WHERE side = 0) AS nr0,
                      count(*) FILTER (WHERE side = 1) AS nc0
               FROM b GROUP BY 1, 2),
         sp AS (SELECT f.feature, gs.bucket
                FROM (SELECT 'chars' AS feature UNION ALL SELECT 'tokens') f
                CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) gs),
         j AS (SELECT sp.feature, sp.bucket,
                      COALESCE(nr0, 0) AS n_ref, COALESCE(nc0, 0) AS n_cur
               FROM sp LEFT JOIN g
                 ON sp.feature = g.feature AND sp.bucket = g.bucket),
         -- denominators = per-feature SUMS of the bucket counts (the
         -- r12-fixed operator contract: what the numerators counted
         -- is what the totals divide by), NOT whole-side row counts —
         -- they coincide here only because these bucket expressions
         -- never yield NULL/out-of-range (r13 advice)
         p AS (SELECT feature, bucket, n_ref, n_cur,
                      (CAST(n_ref AS DOUBLE) + 0.5)
                        / (CAST(sum(n_ref) OVER (PARTITION BY feature) AS DOUBLE) + 5.0) AS pr,
                      (CAST(n_cur AS DOUBLE) + 0.5)
                        / (CAST(sum(n_cur) OVER (PARTITION BY feature) AS DOUBLE) + 5.0) AS pc
               FROM j)
         SELECT feature, bucket, n_ref, n_cur,
                round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
                round((pc - pr) * ln(pc / pr), 6) AS psi,
                round(sum((pc - pr) * ln(pc / pr))
                        OVER (PARTITION BY feature), 4) AS psi_total
         FROM p""",
    "text_bm25" -> bm25OracleSql,

    // positional retrieval: 1-based positions over the filtered token
    // list (identical to the plan's posexplode+1 over \s+ tokens)
    "text_phrase_search" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t <> '') AS ts
           FROM documents),
         pos AS (SELECT doc_id, i AS p, ts[i] AS w
                 FROM toks, unnest(generate_series(1, len(ts))) AS u(i)),
         st AS (SELECT a.doc_id, a.p
                FROM pos a
                JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
                JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
                WHERE a.w = 'row' AND b.w = 'column' AND c.w = 'sort')
         SELECT doc_id, count(*) AS n_matches, min(p) AS first_pos
         FROM st GROUP BY 1""",

    "text_phrase_prox" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t <> '') AS ts
           FROM documents),
         pos AS (SELECT doc_id, i AS p, ts[i] AS w
                 FROM toks, unnest(generate_series(1, len(ts))) AS u(i)),
         combos AS (SELECT a.doc_id,
                           greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p) AS sp
                    FROM pos a
                    JOIN pos b ON b.doc_id = a.doc_id
                    JOIN pos c ON c.doc_id = a.doc_id
                    WHERE a.w = 'row' AND b.w = 'column' AND c.w = 'sort')
         SELECT doc_id, min(sp) AS min_span
         FROM combos GROUP BY 1 HAVING min(sp) <= 8""",

    "dedup_recall" -> dedupRecallOracleSql,
    "quality_ngram_train" -> ngramTrainOracleSql,
    "quality_ngram_eval" -> ngramEvalOracleSql,
    "text_bpe" -> bpeOracleSql,
    "text_bpe_encode" -> bpeEncodeOracleSql,
    "text_bpe_eval" -> bpeEvalOracleSql,
    "text_unigram" -> unigramOracleSql,
    "text_unigram_encode" -> unigramEncodeOracleSql,
    "text_unigram_eval" -> unigramEvalOracleSql,
    "text_wordpiece_encode" -> wordpieceEncodeOracleSql,
    "text_wordpiece_eval" -> wordpieceEvalOracleSql,
    "quality_classifier_train" -> logregOracleSql,
    "quality_classifier_eval" -> logregEvalOracleSql,
    "approx_distinct" -> hllOracleSql,
    "ann_lsh" -> annLshOracle,
    "ann_ivf" -> annIvfOracle,
    "ann_pq" -> annPqOracle,
    "ann_ivfpq" -> annIvfPqOracle,
    "emb_kmeans" -> embKmeansOracle,
    "emb_pca" -> embPcaOracle,
    "emb_pca_residual" -> embPcaResidualOracle,
    "sample_coreset" -> coresetOracle,
    "approx_topk" -> annCmsOracle,
    "dedup_minhash_inc" -> minhashIncOracleSql,

    "dedup_incremental" ->
      """WITH b AS (SELECT doc_id, md5(text) AS h
                    FROM documents WHERE doc_id % 10 = 3),
         c AS (SELECT md5(text) AS h, min(doc_id) AS dup_of
               FROM documents WHERE doc_id % 10 <> 3 GROUP BY 1)
         SELECT b.doc_id, c.dup_of FROM b LEFT JOIN c USING (h)""",
    "dedup_minhash_lsh" -> minhashOracleSql,
    "decon_bloom" -> bloomOracleSql,
    "dedup_simhash" -> simhashOracleSql,
    "q1_agg" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         o_orderpriority AS category, count(*) AS n_pubs
         FROM orders GROUP BY 1, 2""",

    "q2_pair_counts" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
                a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, count(*) AS n_copubs
         FROM lo a
         JOIN lo b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
         JOIN orders ON a.l_orderkey = o_orderkey
         GROUP BY 1, 2, 3""",

    "q3_upsert_latest" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date,
                o_totalprice AS totalprice
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn = 1""",

    "q4_delete_detect" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')""",

    "q5_volume_metrics" ->
      """SELECT count(*) AS total_rows,
                count(*) FILTER (WHERE o_orderstatus = 'O') AS total_new,
                count(DISTINCT o_custkey) AS unique_keys
         FROM orders""",

    "q6_explode_count" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
               FROM documents)
         WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token LIMIT 100""",

    "q7_member_roster" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT l_orderkey,
                string_agg(CAST(l_suppkey AS VARCHAR), ',' ORDER BY l_suppkey) AS members,
                count(*) AS n_members
         FROM d GROUP BY 1""",

    "q8_pricing_summary" ->
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
         GROUP BY 1, 2""",

    "q9_top_revenue" ->
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
         LIMIT 10""",

    "q10_nation_revenue" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND year(o_orderdate) = 1998
         GROUP BY 1""",

    "q11_window_topn" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                CAST(rn AS INTEGER) AS rnk
         FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn <= 3""",

    "q12_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_value
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",

    "q13_semi_anti" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""",

    "q14_conditional_agg" ->
      """SELECT n_name, count(*) AS n_orders,
                count(*) FILTER (WHERE o_totalprice > 150000) AS n_high,
                round(sum(CASE WHEN o_totalprice > 150000 THEN o_totalprice ELSE 0.0 END), 2)
                  AS high_revenue,
                round(avg(CASE WHEN o_totalprice > 150000 THEN 1.0 ELSE 0.0 END), 4)
                  AS high_share
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",

    "q19_brand_margin" ->
      """SELECT p_brand, count(*) AS n_items,
                round(sum(l_extendedprice), 2) AS revenue,
                round(sum(l_quantity * p_retailprice), 2) AS retail_value
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1""",

    "q20_supplier_stats" ->
      """SELECT n_name, count(*) AS n_suppliers,
                round(min(s_acctbal), 2) AS min_bal,
                round(max(s_acctbal), 2) AS max_bal,
                round(avg(s_acctbal), 4) AS avg_bal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1""",

    "q21_percentiles" ->
      """SELECT o_orderpriority,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                round(quantile_cont(o_totalprice, 0.99), 4) AS p99
         FROM orders GROUP BY 1""",

    // percentile_approx at gate accuracy = exact rank selection: the
    // element at 1-based rank ceil(p·n) in ascending order (p and the
    // product both IEEE doubles — CAST forces DuckDB off its DECIMAL
    // literal so both engines ceil the same double)
    "q21a_percentiles_sketch" ->
      """WITH s AS (SELECT o_orderpriority, o_totalprice AS v,
                           row_number() OVER (PARTITION BY o_orderpriority
                                              ORDER BY o_totalprice) AS rn,
                           count(*) OVER (PARTITION BY o_orderpriority) AS n
                    FROM orders)
         SELECT o_orderpriority,
                max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT) THEN v END) AS p50,
                max(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * n) AS BIGINT) THEN v END) AS p90,
                max(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DOUBLE) * n) AS BIGINT) THEN v END) AS p99
         FROM s GROUP BY 1""",

    // the GK sketch's ACCURACY INVARIANT replayed from exact ranks:
    // the oracle derives the same ±2ε·n ± 1 rank window from exact
    // group counts and emits its non-emptiness — the boolean the
    // Spark side computes empirically from the sketch output (a
    // correct sketch never violates its doubled bound, so both sides
    // agree deterministically; a broken sketch flips Spark to false).
    // The window constants interpolate the identical Scala doubles
    // the plan uses (Double.toString round-trips through DuckDB's
    // CAST AS DOUBLE), so both engines floor/ceil the same product.
    "approx_quantiles" -> {
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
    },

    "q22_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_value
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",

    "q29_pivot" ->
      """SELECT o_orderstatus,
                count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1_urgent,
                count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2_high,
                count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3_medium,
                count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4_not_specified,
                count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5_low
         FROM orders GROUP BY 1""",

    "q30_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
                           round(sum(l_quantity), 2) AS sum_qty,
                           round(sum(l_extendedprice), 2) AS sum_price,
                           round(sum(l_discount), 2) AS sum_disc
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_disc', sum_disc FROM a""",

    "q31_full_outer" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
                    FROM orders GROUP BY 1),
              l AS (SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ships
                    FROM lineitem GROUP BY 1)
         SELECT COALESCE(o.day, l.day) AS day,
                COALESCE(n_orders, 0) AS n_orders,
                COALESCE(n_ships, 0) AS n_ships
         FROM o FULL OUTER JOIN l ON o.day = l.day""",

    // expected values derived straight from the base columns — the
    // parser must reconstruct exactly these from the synthesized XML
    "xml_roundtrip" ->
      """SELECT 'conf/spark/o' || CAST(o_orderkey AS VARCHAR) AS paper_key,
                'Order ' || CAST(o_orderkey AS VARCHAR) AS title,
                CAST(year(o_orderdate) AS INTEGER) AS year,
                'article' AS publication_type,
                'con' AS category,
                'J ' || o_orderpriority AS publisher,
                'p/P' || CAST(o_custkey AS VARCHAR) AS pid_1,
                CAST(NULL AS VARCHAR) AS pid_2,
                CAST(NULL AS VARCHAR) AS orcid_1,
                '0000-' || CAST(o_orderkey % 1000 AS VARCHAR) AS orcid_2,
                'Alice ' || CAST(o_custkey AS VARCHAR) AS name_1,
                'Bob ' || CAST(o_orderkey % 97 AS VARCHAR) AS name_2,
                '1-' || CAST(o_orderkey % 50 + 1 AS VARCHAR) AS pages,
                CAST(2 AS INTEGER) AS n_ee,
                'http://x/' || CAST(o_orderkey AS VARCHAR) AS ee_1,
                CAST(o_orderdate AS DATE) AS mdate
         FROM orders""",

    "q36_sql_surface" ->
      """SELECT n.n_name AS nation,
                count(*) AS n_orders,
                round(sum(o.o_totalprice), 2) AS revenue
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE year(CAST(o.o_orderdate AS TIMESTAMP)) = 1997
         GROUP BY n.n_name""",

    "q35_stats" ->
      """SELECT l_returnflag,
                round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
                round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
                round(stddev_samp(l_discount), 4) AS disc_stddev,
                count(*) AS n_rows
         FROM lineitem GROUP BY 1""",

    "q34_funnel" ->
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
                (SELECT count(*) FROM p) AS n_purchase""",

    "q32_lag_delta" ->
      """WITH d AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                           count(*) AS n_orders
                    FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, day, n_orders,
                n_orders - lag(n_orders, 1) OVER (
                  PARTITION BY o_orderpriority ORDER BY day) AS delta
         FROM d""",

    "q33_ntile" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                CAST(ntile(4) OVER (
                  PARTITION BY c_mktsegment
                  ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
         FROM customer""",

    "q23_below_avg" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem l
         JOIN (SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_thresh
               FROM lineitem GROUP BY 1) t
           ON l.l_partkey = t.t_partkey
         WHERE l.l_quantity < t.qty_thresh""",

    "skew_salted_join" ->
      """SELECT s_nationkey AS nationkey, count(*) AS n_items,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1""",

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1""",

    "sample_stratified" ->
      """SELECT doc_id, lang,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000 AS bucket
         FROM documents
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
               < CASE WHEN lang = 'en' THEN 1000 ELSE 5000 END""",

    // 3 unrolled PageRank iterations; symmetric graph ⇒ every node has
    // both in- and out-edges, so no dangling/teleport-only special
    // cases diverge between the engines; 6dp round absorbs double
    // summation-order noise (~1e-16 relative)
    "graph_pagerank" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         pairs AS (SELECT a.l_suppkey AS pa, b.l_suppkey AS pb
                   FROM lo a JOIN lo b
                     ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
                   GROUP BY 1, 2),
         e AS (SELECT pa AS src, pb AS dst FROM pairs
               UNION ALL SELECT pb, pa FROM pairs),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         nv AS (SELECT count(*) AS n FROM deg),
         r0 AS (SELECT src AS node, 1.0 / n AS r FROM deg CROSS JOIN nv),
         i1 AS (SELECT e.dst AS node, sum(r0.r / deg.outdeg) AS infl
                FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
                GROUP BY 1),
         r1 AS (SELECT node, 0.15 / n + 0.85 * infl AS r FROM i1 CROSS JOIN nv),
         i2 AS (SELECT e.dst AS node, sum(r1.r / deg.outdeg) AS infl
                FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
                GROUP BY 1),
         r2 AS (SELECT node, 0.15 / n + 0.85 * infl AS r FROM i2 CROSS JOIN nv),
         i3 AS (SELECT e.dst AS node, sum(r2.r / deg.outdeg) AS infl
                FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
                GROUP BY 1),
         r3 AS (SELECT node, 0.15 / n + 0.85 * infl AS r FROM i3 CROSS JOIN nv)
         SELECT node AS suppkey, round(r, 6) AS pagerank FROM r3""",

    // 3 unrolled iterations with the per-round dangling-mass scalar:
    // r_{k+1} = (1-d)/N + d*(inflow + D_k/N), D_k = sum of ranks over
    // nodes with no out-edges
    "graph_pagerank_dangling" -> {
      def iter(k: Int): String =
        s"""d$k AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r${k - 1}
                    WHERE node NOT IN (SELECT src FROM deg)),
           i$k AS (SELECT e.dst AS node, sum(rr.r / deg.outdeg) AS infl
                   FROM e JOIN r${k - 1} rr ON e.src = rr.node
                        JOIN deg ON e.src = deg.src
                   GROUP BY 1),
           r$k AS (SELECT nodes.node,
                          0.15 / n + 0.85 * (coalesce(infl, 0.0) + dm / n) AS r
                   FROM nodes LEFT JOIN i$k ON nodes.node = i$k.node
                        CROSS JOIN d$k CROSS JOIN nv)"""
      s"""WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         pairs AS (SELECT a.l_suppkey AS pa, b.l_suppkey AS pb
                   FROM lo a JOIN lo b
                     ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
                   GROUP BY 1, 2),
         e AS (SELECT pa AS src, pb AS dst FROM pairs),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nv AS (SELECT count(*) AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nv),
         ${iter(1)},
         ${iter(2)},
         ${iter(3)}
         SELECT node AS suppkey, round(r, 6) AS pagerank FROM r3"""
    },

    // triangle census: the oracle counts each triangle once via the
    // id-ordered a<b<c three-way join (orientation-independent — the
    // plan's degree ordering is a pure execution strategy), then
    // explodes corners for the per-node counts
    "graph_triangles" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         pc AS (SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS c
                FROM lo a JOIN lo b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
                GROUP BY 1, 2),
         thr AS (SELECT quantile_cont(c, 0.95) AS t FROM pc),
         e AS (SELECT sa AS u, sb AS v FROM pc, thr WHERE c >= t),
         deg AS (SELECT node, count(*) AS degree FROM
                   (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                 GROUP BY 1),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c3
                 FROM e e1 JOIN e e2 ON e2.u = e1.v
                           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         pn AS (SELECT node, count(*) AS tri_count FROM
                  (SELECT a AS node FROM tri
                   UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c3 FROM tri)
                GROUP BY 1)
         SELECT d.node, d.degree,
                COALESCE(pn.tri_count, 0) AS tri_count,
                CASE WHEN d.degree >= 2
                     THEN round(2.0 * COALESCE(pn.tri_count, 0)
                                / (d.degree * (d.degree - 1)), 6)
                     ELSE 0.0 END AS clustering
         FROM deg d LEFT JOIN pn ON d.node = pn.node""",

    // synchronous LPA, 3 rounds unrolled; argmax = row_number over
    // (count DESC, label ASC) — the exact integer tiebreak the
    // engine's max(struct(cnt, -label)) aggregate computes
    "graph_lpa" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         pc AS (SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS c
                FROM lo a JOIN lo b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
                GROUP BY 1, 2),
         thr AS (SELECT quantile_cont(c, 0.95) AS t FROM pc),
         e AS (SELECT sa AS u, sb AS v FROM pc, thr WHERE c >= t),
         adj AS (SELECT u AS node, v AS nbr FROM e
                 UNION ALL SELECT v AS node, u AS nbr FROM e),
         l0 AS (SELECT DISTINCT node, node AS label FROM adj),
         c1 AS (SELECT adj.node, l.label, count(*) AS c
                FROM adj JOIN l0 l ON adj.nbr = l.node GROUP BY 1, 2),
         l1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn FROM c1)
                WHERE rn = 1),
         c2 AS (SELECT adj.node, l.label, count(*) AS c
                FROM adj JOIN l1 l ON adj.nbr = l.node GROUP BY 1, 2),
         l2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn FROM c2)
                WHERE rn = 1),
         c3 AS (SELECT adj.node, l.label, count(*) AS c
                FROM adj JOIN l2 l ON adj.nbr = l.node GROUP BY 1, 2),
         l3 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn FROM c3)
                WHERE rn = 1)
         SELECT node AS suppkey, label AS community FROM l3""",

    "dedup_url" ->
      """WITH c AS (
           SELECT o_orderkey,
                  'https://www.shop' || CAST(o_custkey % 5 AS VARCHAR) ||
                  '.com/cat/' || lower(o_orderpriority) || '/' ||
                  CAST(o_orderkey % 200 AS VARCHAR) ||
                  '?a=' || CAST(o_orderkey % 7 AS VARCHAR) || '&z=9'
                    AS canonical_url
           FROM orders)
         SELECT canonical_url, count(*) AS n_dups, min(o_orderkey) AS min_key
         FROM c GROUP BY 1""",

    "sample_domain_cap" ->
      """SELECT doc_id, source, CAST(rn AS INTEGER) AS cap_rank
         FROM (SELECT doc_id, source, row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents)
         WHERE rn <= 20""",

    "sample_mixture" ->
      """WITH w AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt
                    FROM documents GROUP BY 1),
         g AS (SELECT sum(wt) AS wtot FROM w),
         r AS (SELECT lang,
                 CASE WHEN lang IN ('en', 'de')
                      THEN least(1.0,
                        (CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.35 END
                         * wtot) / wt)
                      ELSE 0.6 END AS rate
               FROM w CROSS JOIN g)
         SELECT doc_id, d.lang AS lang
         FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
               < rate * 10000""",

    // token-budget planner: share enters as DOUBLE before any
    // arithmetic so every multiply/divide replays the engine's IEEE
    // ops; sum(len()) cast to BIGINT (HUGEINT guard)
    "sample_token_budget" ->
      """WITH a AS (SELECT lang AS "group", count(*) AS n_docs,
                    CAST(sum(len(string_split_regex(trim(text), '\s+')))
                         AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
         s AS (SELECT "group", n_docs, n_tokens,
                      CAST(CASE "group" WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.2
                                        WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2
                                        WHEN 'zh' THEN 0.1 ELSE 0.0 END
                           AS DOUBLE) AS share
               FROM a),
         x AS (SELECT *, CAST(floor(share * 100000) AS BIGINT) AS target_tokens
               FROM s),
         y AS (SELECT *, CAST(target_tokens AS DOUBLE) / n_tokens AS need
               FROM x),
         z AS (SELECT *,
                      CAST(floor(least(need, 4.0) * n_tokens) AS BIGINT)
                        AS alloc_tokens
               FROM y)
         SELECT "group", n_docs, n_tokens, share, target_tokens,
                round(least(need, 4.0), 4) AS epochs, alloc_tokens,
                CASE WHEN target_tokens > 0
                     THEN round(CAST(alloc_tokens AS DOUBLE) / target_tokens, 4)
                     ELSE 1.0 END AS fill_ratio
         FROM z""",

    "decon_embedding" ->
      """WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
         ev AS (SELECT embedding AS e FROM embeddings WHERE vec_id < 8),
         hits AS (SELECT DISTINCT c.vec_id
                  FROM c CROSS JOIN ev
                  WHERE list_cosine_similarity(c.embedding, ev.e) >= 0.4)
         SELECT c.vec_id, (h.vec_id IS NOT NULL) AS flagged
         FROM c LEFT JOIN hits h ON c.vec_id = h.vec_id""",

    // null-safe key compare mirrors the operator: a NULL combination
    // seen >= k times is an anonymous crowd and stays
    "privacy_kanon" ->
      """SELECT doc_id, d.lang AS lang, d.source AS source
         FROM documents d
         JOIN (SELECT lang, source FROM documents
               GROUP BY 1, 2 HAVING count(*) >= 25) g
         ON d.lang IS NOT DISTINCT FROM g.lang
        AND d.source IS NOT DISTINCT FROM g.source""",

    // l-diversity: qualifying quasi-groups by DISTINCT sensitive
    // count (count(DISTINCT) skips NULLs in both engines), broadcast
    // membership back — the kanon shape with a diversity HAVING
    "privacy_ldiv" ->
      """WITH d AS (SELECT doc_id, source,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS size_bucket, lang
         FROM documents),
         g AS (SELECT source, size_bucket FROM d
               GROUP BY 1, 2 HAVING count(DISTINCT lang) >= 3)
         SELECT doc_id, d.source AS source, d.size_bucket AS size_bucket,
                lang
         FROM d JOIN g ON d.source IS NOT DISTINCT FROM g.source
                      AND d.size_bucket IS NOT DISTINCT FROM g.size_bucket""",

    // t-closeness: total-variation distance of each quasi-group's
    // lang distribution from the corpus distribution, gated by the
    // exact rational inequality tDen·num ≤ 2·tNum·g·n (num = the
    // present-value |gc·n − cv·g| terms + missing-mass·g) — integer
    // compares only; tv rounds at the display edge
    "privacy_tclose" ->
      """WITH d AS (SELECT doc_id, source,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS size_bucket, lang
         FROM documents),
         nn AS (SELECT * FROM d WHERE lang IS NOT NULL),
         ct AS (SELECT count(*) AS n FROM nn),
         vals AS (SELECT lang, count(*) AS cv FROM nn GROUP BY 1),
         gv AS (SELECT source, size_bucket, lang, count(*) AS gc
                FROM nn GROUP BY 1, 2, 3),
         gn AS (SELECT source, size_bucket, sum(gc) AS g FROM gv GROUP BY 1, 2),
         terms AS (SELECT gv.source, gv.size_bucket,
                          abs(gv.gc * ct.n - vals.cv * gn.g) AS nm,
                          vals.cv AS cv, gn.g AS g, ct.n AS n
                   FROM gv
                   JOIN vals ON gv.lang IS NOT DISTINCT FROM vals.lang
                   JOIN gn ON gv.source IS NOT DISTINCT FROM gn.source
                          AND gv.size_bucket IS NOT DISTINCT FROM gn.size_bucket
                   CROSS JOIN ct),
         grp AS (SELECT source, size_bucket,
                        sum(nm) + (max(n) - sum(cv)) * max(g) AS num,
                        max(g) AS g, max(n) AS n
                 FROM terms GROUP BY 1, 2),
         keep AS (SELECT source, size_bucket,
                         round(num / (2.0 * g * n), 6) AS tv
                  FROM grp WHERE 4 * num <= 2 * 1 * g * n)
         SELECT d.doc_id, d.source AS source, d.size_bucket AS size_bucket,
                d.lang, keep.tv
         FROM d JOIN keep ON d.source IS NOT DISTINCT FROM keep.source
                         AND d.size_bucket IS NOT DISTINCT FROM keep.size_bucket""",

    // arithmetic mirrored step-by-step (pow, share normalization,
    // K = min(w/q), rate = K*q/w left-assoc) so rates agree to the
    // ulp; zero-weight strata excluded from the normalization and
    // given rate 0 — mirroring the operator's explicit handling (a
    // 0/0 NaN here would slip through least() as rate 1.0)
    "sample_temperature" ->
      """WITH w AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt
                    FROM documents GROUP BY 1),
         p AS (SELECT lang, wt FROM w WHERE wt > 0),
         s AS (SELECT sum(pow(wt, CAST(0.5 AS DOUBLE))) AS tot FROM p),
         q AS (SELECT lang, wt, pow(wt, CAST(0.5 AS DOUBLE)) / tot AS qs
               FROM p CROSS JOIN s),
         k AS (SELECT min(wt / qs) AS kk FROM q),
         pr AS (SELECT lang, least(1.0, kk * qs / wt) AS rate
                FROM q CROSS JOIN k),
         r AS (SELECT w.lang, coalesce(pr.rate, 0.0) AS rate
               FROM w LEFT JOIN pr ON w.lang = pr.lang)
         SELECT doc_id, d.lang AS lang
         FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
               < rate * 10000""",

    // feature arithmetic mirrored term-by-term (left-assoc) so the
    // logit is bit-identical; keep thresholds the raw logit (no
    // transcendental in the decision), sigmoid rounded at the edge
    "quality_classifier" -> qualityClassifierOracleSql,

    "text_c4_filters" -> c4OracleSql,

    // word-5-gram overlap between the corpus and the src0/src1 "eval"
    // docs; distinct STRING 5-grams here ≡ distinct shingle hashes in
    // the Spark plan (collision-free at these scales, same convention
    // as dedup_ngram_jaccard)
    "decon_ngram" -> deconNgramOracleSql,
    // the standing-index probe must flag IDENTICALLY to the one-shot
    // operator — same oracle, verbatim
    "decon_index_probe" -> deconNgramOracleSql,

    // the same shingle universes aggregated per BENCH doc, zero-leak
    // docs kept via the LEFT JOIN
    "decon_report" ->
      """WITH toks AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
           FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         bench AS (SELECT s, doc_id FROM sh WHERE source IN ('src0', 'src1')),
         corpus AS (SELECT doc_id, s FROM sh WHERE source NOT IN ('src0', 'src1')),
         hits AS (
           SELECT b.doc_id AS bench_id,
                  count(DISTINCT b.s) AS n_leaked_shingles,
                  count(DISTINCT c.doc_id) AS n_corpus_docs
           FROM bench b JOIN corpus c ON b.s = c.s
           GROUP BY 1),
         u AS (SELECT DISTINCT doc_id AS bench_id FROM bench)
         SELECT u.bench_id,
                coalesce(h.n_leaked_shingles, 0) AS n_leaked_shingles,
                coalesce(h.n_corpus_docs, 0) AS n_corpus_docs
         FROM u LEFT JOIN hits h ON u.bench_id = h.bench_id""",

    "text_repetition" -> textRepetitionOracleSql,

    // cross-doc boilerplate: distinct string 3-grams per doc (the
    // Spark side's 8-byte shingle hashes group identically modulo
    // ~|V|^2/2^64 collisions), df over docs, per-doc flagged share
    "quality_boilerplate" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
         dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         agg AS (
           SELECT doc_id, count(*) AS n_grams,
                  sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_boiler
           FROM sh JOIN dfc USING (s) GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
                round(n_boiler * 1.0 / n_grams, 4) AS boiler_ratio
         FROM documents d LEFT JOIN agg USING (doc_id)""",

    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardCtes
         SELECT da AS doc_a, db AS doc_b,
                round(c / (za.n + zb.n - c), 4) AS jaccard
         FROM shared
         JOIN sz za ON da = za.doc_id
         JOIN sz zb ON db = zb.doc_id
         WHERE round(c / (za.n + zb.n - c), 4) >= 0.6""",

    // directed containment: both orientations off the SAME a<b
    // shared-count CTE, each normalized by its inner side's pruned
    // shingle-set size — the Jaccard CTE chain reused verbatim
    "dedup_containment" ->
      s"""WITH $jaccardCtes,
         cb AS (SELECT da, db, c, za.n AS na, zb.n AS nb
                FROM shared
                JOIN sz za ON da = za.doc_id
                JOIN sz zb ON db = zb.doc_id)
         SELECT da AS doc_inner, db AS doc_outer,
                round(c / na, 4) AS containment
         FROM cb WHERE round(c / na, 4) >= 0.8
         UNION ALL
         SELECT db AS doc_inner, da AS doc_outer,
                round(c / nb, 4) AS containment
         FROM cb WHERE round(c / nb, 4) >= 0.8""",

    // content-defined chunking: the full word-hash → window-fold →
    // boundary → per-chunk fold pipeline replayed in HUGEINT mod-2^64
    // arithmetic; signed CAST at the output edge (the rolling_fp
    // convention)
    "dedup_cdc" ->
      s"""WITH $cdcCtes
         SELECT CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
                          THEN ch - 18446744073709551616::HUGEINT
                          ELSE ch END AS BIGINT) AS chunk_hash,
                count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_occ,
                min(doc_id) AS min_doc
         FROM cdc_chunks WHERE len >= 4
         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",

    "dedup_cdc_docs" ->
      s"""WITH $cdcCtes,
         cdc_dup AS (SELECT ch FROM cdc_chunks WHERE len >= 4
                     GROUP BY ch HAVING count(DISTINCT doc_id) >= 2)
         SELECT c.doc_id,
                count(*) AS n_chunks,
                CAST(sum(CASE WHEN c.len >= 4 AND d.ch IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                round(CAST(sum(CASE WHEN c.len >= 4 AND d.ch IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
                      / count(*), 4) AS dup_ratio
         FROM cdc_chunks c LEFT JOIN cdc_dup d ON c.ch = d.ch
         GROUP BY 1""",

    // incremental CDC: batch chunks vs the DISTINCT corpus chunk-hash
    // set (the standing index's probe view), denominators over ALL
    // batch chunks (the cdcDocStats convention)
    "dedup_cdc_inc" ->
      s"""WITH $cdcCtes,
         cdc_corpus AS (SELECT DISTINCT ch FROM cdc_chunks
                        WHERE doc_id % 10 <> 3 AND len >= 4),
         cdc_batch AS (SELECT * FROM cdc_chunks WHERE doc_id % 10 = 3),
         cdc_shared AS (SELECT b.doc_id, count(*) AS n_shared
                        FROM cdc_batch b JOIN cdc_corpus c ON b.ch = c.ch
                        WHERE b.len >= 4 GROUP BY 1)
         SELECT t.doc_id, t.n_chunks,
                CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
                round(CAST(COALESCE(s.n_shared, 0) AS BIGINT)
                      / t.n_chunks, 4) AS shared_ratio
         FROM (SELECT doc_id, count(*) AS n_chunks FROM cdc_batch GROUP BY 1) t
         LEFT JOIN cdc_shared s ON t.doc_id = s.doc_id""",

    // duplicated-window spans via string windows (≡ positional window
    // hashes absent collisions — same convention as dedup_ngram_jaccard);
    // islands of consecutive duplicated positions merge via the
    // pos − row_number trick in both engines
    "dedup_substring" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         w AS (
           SELECT doc_id, CAST(i AS INTEGER) AS pos,
                  array_to_string(t[i:i+19], ' ') AS s
           FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)),
         cap AS (SELECT greatest(50, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM documents),
         d AS (
           SELECT s, count(DISTINCT doc_id) AS n_docs
           FROM w CROSS JOIN cap GROUP BY s, c
           HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= c),
         hits AS (
           SELECT w.doc_id, w.pos, d.n_docs FROM w JOIN d USING (s)),
         g AS (
           SELECT doc_id, pos, n_docs,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM hits)
         SELECT doc_id,
                CAST(min(pos) AS INTEGER) AS span_start,
                CAST(max(pos) + 19 AS INTEGER) AS span_end,
                count(*) AS n_windows,
                CAST(max(n_docs) AS BIGINT) AS max_n_docs
         FROM g GROUP BY doc_id, grp""",

    // the removal twin: same window/cap derivation as dedup_substring,
    // plus the representative (min doc per window string), victim
    // token positions exploded per covered window, and the per-doc
    // rebuild as an ordered string_agg over surviving positions
    "dedup_substring_remove" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         tok AS (
           SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i] AS tokn
           FROM toks, unnest(generate_series(1, len(t))) AS u(i)
           WHERE t[i] <> ''),
         w AS (
           SELECT doc_id, CAST(i AS INTEGER) AS pos,
                  array_to_string(t[i:i+19], ' ') AS s
           FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)),
         cap AS (SELECT greatest(50, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM documents),
         d AS (
           SELECT s, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS rep_doc
           FROM w CROSS JOIN cap GROUP BY s, c
           HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= c),
         victims AS (
           SELECT DISTINCT w.doc_id, CAST(tp.p AS INTEGER) AS pos
           FROM w JOIN d USING (s),
                unnest(generate_series(w.pos, w.pos + 19)) AS tp(p)
           WHERE w.doc_id <> d.rep_doc),
         kept AS (
           SELECT t.doc_id, t.pos, t.tokn
           FROM tok t LEFT JOIN victims v ON t.doc_id = v.doc_id AND t.pos = v.pos
           WHERE v.pos IS NULL),
         agg AS (
           SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS clean_text,
                  count(*) AS n_kept
           FROM kept GROUP BY doc_id),
         cnt AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(a.clean_text, '') AS clean_text,
                CAST(coalesce(c.n_tok, 0) - coalesce(a.n_kept, 0) AS BIGINT)
                  AS n_removed
         FROM documents b
         LEFT JOIN cnt c USING (doc_id)
         LEFT JOIN agg a USING (doc_id)""",

    // connected components over the SAME pair set as dedup_ngram_jaccard:
    // min reachable id per node via a recursive min-label CTE
    "dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardCtes,
         pairs AS (
           SELECT da, db
           FROM shared JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
           WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
         edges AS (
           SELECT da AS src, db AS dst FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1""",

    // incremental CC's gate: the Spark side folds CC(old-internal
    // pairs) + pairs-touching-new through the quotient graph; since
    // those two arms partition the FULL pair set, the oracle is the
    // from-scratch recursive CC over all pairs (identical to
    // dedup_clusters' derivation) — hash equality proves
    // incremental ≡ recompute without replaying the pair build twice
    "dedup_clusters_inc" ->
      s"""WITH RECURSIVE $jaccardCtes,
         pairs AS (
           SELECT da, db
           FROM shared JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
           WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
         edges AS (
           SELECT da AS src, db AS dst FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1""",

    "dedup_keep" ->
      s"""WITH RECURSIVE $jaccardCtes,
         pairs AS (
           SELECT da, db
           FROM shared JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
           WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
         edges AS (
           SELECT da AS src, db AS dst FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
         clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)""",

    "dedup_semantic" ->
      s"""WITH RECURSIVE $embLshPairsCtes,
         edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
                   UNION ALL SELECT vec_b, vec_a FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
         clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)""",

    "sample_hash" ->
      """SELECT doc_id,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 20""",

    // leakage-free holdout: the SAME jaccard-pair + min-label CC CTEs
    // as dedup_clusters label each doc's cluster (singletons default
    // to their own id); test = md5 bucket < 20; train docs in a
    // cluster containing any test doc become 'leaked'
    "sample_holdout" ->
      s"""WITH RECURSIVE $jaccardCtes,
         pairs AS (
           SELECT da, db
           FROM shared JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
           WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
         edges AS (
           SELECT da AS src, db AS dst FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
         clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1),
         lab AS (
           SELECT d.doc_id,
                  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 20
                    AS is_test,
                  coalesce(c.cluster_id, d.doc_id) AS cl
           FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node),
         contam AS (SELECT DISTINCT cl FROM lab WHERE is_test)
         SELECT doc_id,
                CASE WHEN is_test THEN 'test'
                     WHEN cl IN (SELECT cl FROM contam) THEN 'leaked'
                     ELSE 'train' END AS split
         FROM lab""",

    "text_chunk" ->
      """WITH t AS (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       tok -> tok <> '') AS toks
                    FROM documents),
         f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1)
         SELECT doc_id, CAST(start AS INTEGER) AS start,
                CAST(least(128, n - start + 1) AS INTEGER) AS n_chunk_tokens,
                array_to_string(toks[start:start+127], ' ') AS chunk
         FROM (SELECT doc_id, toks, n,
                      unnest(generate_series(1,
                        CASE WHEN n <= 128 THEN 1
                             ELSE 1 + 64 * ((n - 128 + 63) // 64) END, 64)) AS start
               FROM f)""",

    "text_logprob" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
         freq AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM tk)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(cnt / CAST(total AS DOUBLE))), 4) AS avg_logprob
         FROM tk JOIN freq USING (token) CROSS JOIN tot
         GROUP BY 1""",

    // λ and 1−λ are interpolated from the SAME Scala doubles the plan
    // uses (shortest-repr round trip), so both engines mix with
    // bit-identical coefficients
    "text_interp_lm" ->
      s"""WITH $interpLmCtes
         SELECT doc_id, n_bigrams, avg_logprob FROM ilp""",

    // quality_perplexity oracle: the interp-LM score chain reused,
    // head/middle/tail thresholds as exact quantiles (quantile_cont =
    // Spark's percentile, linear interpolation at p·(n−1)), CASE
    // order head-then-tail mirroring the operator's when-chain
    "quality_perplexity" ->
      s"""WITH $interpLmCtes,
         plc AS (SELECT quantile_cont(avg_logprob, 0.7) AS th,
                        quantile_cont(avg_logprob, 0.3) AS tt
                 FROM ilp)
         SELECT doc_id, n_bigrams, avg_logprob,
                CASE WHEN avg_logprob >= th THEN 'head'
                     WHEN avg_logprob <= tt THEN 'tail'
                     ELSE 'middle' END AS ppl_bucket
         FROM ilp CROSS JOIN plc""",

    "text_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '') AS tk
             FROM documents),
         b AS (SELECT doc_id, tk[i] AS prefix, tk[i] || ' ' || tk[i+1] AS bigram
               FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
               WHERE len(tk) >= 2),
         bf AS (SELECT bigram, count(*) AS bcnt FROM b GROUP BY 1),
         pf AS (SELECT prefix, count(*) AS pcnt FROM b GROUP BY 1)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(bcnt / CAST(pcnt AS DOUBLE))), 4) AS avg_logprob
         FROM b JOIN bf USING (bigram) JOIN pf USING (prefix)
         GROUP BY 1""",

    "pack_sequences" ->
      """WITH t AS (SELECT source, doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
         FROM documents)
         SELECT source, doc_id, n_tokens,
                CAST(floor((sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
                  AS pack_id
         FROM t""",

    "pack_eval" ->
      """WITH t AS (SELECT source, doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
         FROM documents),
         packed AS (
           SELECT source, n_tokens,
                  CAST(floor((sum(n_tokens) OVER (
                          PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
                    AS pack_id
           FROM t)
         SELECT source, count(DISTINCT pack_id) AS n_packs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                round(sum(n_tokens) / (count(DISTINCT pack_id) * 2048.0), 4) AS fill
         FROM packed GROUP BY 1""",

    "text_redact" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
                  AS n_emails,
                CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_nums,
                md5(regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]+', '<NUM>', 'g')) AS redacted_fp
         FROM documents""",

    "quality_gate" ->
      """SELECT doc_id, source, n_chars,
                round(percent_rank() OVER w, 4) AS pct_rank
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
         QUALIFY (percent_rank() OVER w) >= 0.05
            AND (percent_rank() OVER w) <= 0.95""",

    "dedup_embedding" ->
      s"""WITH $embLshPairsCtes
         SELECT vec_a, vec_b FROM pairs""",

    "dedup_embedding_mp" ->
      s"""WITH ${embLshCtes(tables = 3, probeRadius = 1)}
         SELECT vec_a, vec_b FROM pairs""",

    "ann_topk" -> annTopkOracle,
    "ann_sq8" -> annSq8Oracle,

    // recall@5 of the LSH index vs exact brute force, per query —
    // integer intersection counts (the index-quality monitoring loop;
    // both rankings' tie-breaks are deterministic, so the counts are
    // engine-exact)
    "ann_recall" ->
      s"""WITH lsh AS ($annLshOracle),
         exact AS ($annTopkOracle),
         m AS (SELECT l.query_id, count(*) AS n_match
               FROM lsh l JOIN exact e
                 ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
               GROUP BY 1),
         q AS (SELECT DISTINCT query_id FROM exact)
         SELECT q.query_id,
                CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match,
                CAST(5 AS INTEGER) AS k
         FROM q LEFT JOIN m USING (query_id)""",

    "text_tokens" ->
      """SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_alpha,
                CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num
         FROM documents""",

    // exact vocab: (n DESC, token) is a total order, so the RANGE
    // default window frame degenerates to ROWS in both engines and
    // the cumulative sum is engine-agnostic
    "text_vocab" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                     tok -> tok <> '')) AS token
           FROM documents),
         cnt AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
         tot AS (SELECT sum(n) AS tot FROM cnt),
         r AS (SELECT token, n,
                      CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
                        AS rank,
                      sum(n) OVER (ORDER BY n DESC, token) AS cum
               FROM cnt)
         SELECT token, n, rank, round(cum * 1.0 / tot, 6) AS cum_share
         FROM r, tot WHERE rank <= 50""",

    "text_quality" ->
      """WITH b AS (
           SELECT doc_id, length(text) AS len_chars,
                  string_split_regex(trim(text), '\s+') AS toks,
                  length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace
           FROM documents)
         SELECT doc_id, len_chars,
                CAST(len(toks) AS INTEGER) AS n_tokens,
                round(n_nonspace / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len,
                round(len(list_filter(toks,
                    tok -> tok IN ('the','a','of','and','in','to','is')))
                  / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
                (len(toks) >= 5 AND len(toks) <= 10000 AND
                 len(list_filter(toks,
                    tok -> tok IN ('the','a','of','and','in','to','is')))
                  / CAST(len(toks) AS DOUBLE) < 0.5) AS quality_ok
         FROM b""",

    "text_fingerprint" ->
      """SELECT doc_id,
                md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents""",

    // 64-bit poly hash (h = h*31 + byte, seeded) over the canonical
    // form, reproduced byte-for-byte in HUGEINT arithmetic mod 2^64
    // (documents are ASCII, so ord(char) == utf8 byte)
    "text_rolling_fp" ->
      """SELECT doc_id,
                CAST(CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
                          THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
                          ELSE fp_u END AS BIGINT) AS fp64
         FROM (
           SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(1125899906842597 AS HUGEINT),
                      list_transform(
                        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ''),
                        c -> CAST(ord(c) AS HUGEINT))),
                    (a, b) -> (a * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS fp_u
           FROM documents)""",

    // html extraction, gated by independent derivation (the dedup_url
    // pattern): expected title/body come from the BASE columns, never
    // from replaying the extractor — the synthesize→extract round
    // trip must invert exactly. " spark " → paragraph-break
    // substitution on the Spark side comes back as a single space
    // (tag → space, collapse), so the oracle's direct form is a plain
    // non-overlapping global replace; both engines' regex engines
    // continue after each match, so overlap semantics agree
    "text_extract_html" ->
      """SELECT doc_id,
                'doc ' || CAST(doc_id AS VARCHAR) AS title,
                trim(regexp_replace(
                  'doc ' || CAST(doc_id AS VARCHAR) || ' ' || lang ||
                    ' doc ' || regexp_replace(text, ' spark ', ' ', 'g'),
                  '[ \t\n\x0B\f\r]+', ' ', 'g')) AS body
         FROM documents""",

    // link extraction, gated by independent derivation: each anchor's
    // canonical form is rebuilt from base columns (jitter removed by
    // construction), never by replaying the extractor/canonicalizer
    "text_extract_links" ->
      """SELECT doc_id, CAST(1 AS INTEGER) AS link_pos,
                'https://www.shop' || CAST(doc_id % 7 AS VARCHAR) ||
                '.com/item/' || CAST(doc_id % 50 AS VARCHAR) ||
                '?q=' || lang AS canonical_url
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(2 AS INTEGER),
                'http://cdn.site' || CAST(doc_id % 3 AS VARCHAR) || '.net/a'
         FROM documents""",

    // charset sniff/decode, gated by independent derivation: the
    // expected charset name AND decoded text are CASE expressions
    // over base columns — the oracle never touches a byte, so the
    // synthesize→sniff→decode round trip must invert exactly
    "text_charset" ->
      """SELECT o_orderkey,
                CASE o_orderkey % 5
                  WHEN 0 THEN 'utf-8-bom'
                  WHEN 1 THEN 'utf-8'
                  WHEN 2 THEN 'windows-1252'
                  WHEN 3 THEN 'utf-16be-bom'
                  ELSE 'windows-1252' END AS charset,
                CASE WHEN o_orderkey % 5 = 4
                  THEN '<html><head><meta charset="windows-1252"></head><body>meta page '
                       || CAST(o_orderkey % 100 AS VARCHAR) || '</body></html>'
                  ELSE 'Café à ' || lower(o_orderpriority) || ' ü'
                       || CAST(o_orderkey % 100 AS VARCHAR)
                END AS text
         FROM orders""",

    // host graph, gated by independent derivation + REAL
    // re-aggregation: both target hosts come straight from the
    // doc_id modulos (jitter removed by construction), then DuckDB
    // groups the same edges itself
    "crawl_hostgraph" ->
      """WITH l AS (
           SELECT 'src' || CAST(doc_id % 5 AS VARCHAR) || '.org' AS src_host,
                  'www.shop' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS dst_host
           FROM documents
           UNION ALL
           SELECT 'src' || CAST(doc_id % 5 AS VARCHAR) || '.org',
                  'cdn.site' || CAST(doc_id % 3 AS VARCHAR) || '.net'
           FROM documents)
         SELECT src_host, dst_host, count(*) AS n_links
         FROM l GROUP BY 1, 2""",

    // weighted PageRank with dangling redistribution, 3 unrolled
    // iterations: r_{k+1} = (1-d)/N + d*(Σ r_k(u)·w/W(u) + D_k/N) —
    // weights are the data-dependent link counts, W(u) their per-src
    // sums; 6dp round absorbs double summation-order noise
    "crawl_hostrank" -> {
      def iter(k: Int): String =
        s"""d$k AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r${k - 1}
                    WHERE node NOT IN (SELECT src FROM ow)),
           i$k AS (SELECT e.dst AS node, sum(rr.r * e.w / ow.outw) AS infl
                   FROM e JOIN r${k - 1} rr ON e.src = rr.node
                        JOIN ow ON e.src = ow.src
                   GROUP BY 1),
           r$k AS (SELECT nodes.node,
                          0.15 / n + 0.85 * (coalesce(infl, 0.0) + dm / n) AS r
                   FROM nodes LEFT JOIN i$k ON nodes.node = i$k.node
                        CROSS JOIN d$k CROSS JOIN nv)"""
      s"""WITH l AS (
           SELECT 'src' || CAST(doc_id % 5 AS VARCHAR) || '.org' AS src_host,
                  'www.shop' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS dst_host
           FROM documents
           UNION ALL
           SELECT 'src' || CAST(doc_id % 5 AS VARCHAR) || '.org',
                  'cdn.site' || CAST(doc_id % 3 AS VARCHAR) || '.net'
           FROM documents),
         e AS (SELECT src_host AS src, dst_host AS dst,
                      CAST(count(*) AS DOUBLE) AS w
               FROM l GROUP BY 1, 2),
         ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nv AS (SELECT count(*) AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nv),
         ${iter(1)},
         ${iter(2)},
         ${iter(3)}
         SELECT node AS host, round(r, 6) AS pagerank FROM r3"""
    },

    // robots evaluation, gated by independent derivation: the regime
    // index alone decides the verdict (m ∉ {1,4} ⇔ allowed), so any
    // defect in group selection, glob matching, $-anchoring or
    // longest-match precedence flips a row and hash-mismatches
    "crawl_robots" ->
      """SELECT o_orderkey,
                CASE o_orderkey % 6
                  WHEN 0 THEN '/public/page' || CAST(o_orderkey % 10 AS VARCHAR)
                  WHEN 1 THEN '/private/x' || CAST(o_orderkey % 10 AS VARCHAR)
                  WHEN 2 THEN '/private/pub'
                  WHEN 3 THEN '/private/x' || CAST(o_orderkey % 10 AS VARCHAR)
                  WHEN 4 THEN '/secret/x' || CAST(o_orderkey % 10 AS VARCHAR)
                  ELSE '/tmp' || CAST(o_orderkey % 10 AS VARCHAR)
                END AS path,
                o_orderkey % 6 NOT IN (1, 4) AS allowed
         FROM orders""",

    // script profile: a REAL independent recount — both engines count
    // characters in the same explicit BMP ranges over the same
    // synthesized text (first-listed max wins dominant ties)
    "text_script" ->
      """WITH t AS (
           SELECT doc_id, text || CASE doc_id % 5
                    WHEN 1 THEN ' Привет мир'
                    WHEN 2 THEN ' 你好世界'
                    WHEN 3 THEN ' مرحبا بالعالم'
                    WHEN 4 THEN ' こんにちは'
                    ELSE '' END AS txt
           FROM documents),
         c AS (
           SELECT doc_id,
                  length(regexp_replace(txt, '[^A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{00FF}]', '', 'g')) AS n_latin,
                  length(regexp_replace(txt, '[^\x{0400}-\x{04FF}]', '', 'g')) AS n_cyrillic,
                  length(regexp_replace(txt, '[^\x{0370}-\x{03FF}]', '', 'g')) AS n_greek,
                  length(regexp_replace(txt, '[^\x{0600}-\x{06FF}]', '', 'g')) AS n_arabic,
                  length(regexp_replace(txt, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_cjk,
                  length(regexp_replace(txt, '[^\x{3040}-\x{30FF}]', '', 'g')) AS n_kana,
                  length(regexp_replace(txt, '[^\x{AC00}-\x{D7AF}]', '', 'g')) AS n_hangul
           FROM t),
         g AS (SELECT *,
                      greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                               n_cjk, n_kana, n_hangul) AS mx,
                      n_latin + n_cyrillic + n_greek + n_arabic
                        + n_cjk + n_kana + n_hangul AS tot
               FROM c)
         SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic,
                n_cjk, n_kana, n_hangul,
                CASE WHEN tot = 0 THEN 'none'
                     WHEN n_latin >= mx THEN 'latin'
                     WHEN n_cyrillic >= mx THEN 'cyrillic'
                     WHEN n_greek >= mx THEN 'greek'
                     WHEN n_arabic >= mx THEN 'arabic'
                     WHEN n_cjk >= mx THEN 'cjk'
                     WHEN n_kana >= mx THEN 'kana'
                     ELSE 'hangul' END AS dominant_script,
                CASE WHEN tot = 0 THEN 0.0
                     ELSE round(CAST(mx AS DOUBLE) / tot, 6) END AS script_frac
         FROM g""",

    // argmax of per-language stopword hits; ties resolve to the
    // lexicographically greatest language in BOTH engines (struct max
    // compares hits, then lang)
    "text_langid" -> langidOracleSql,
    "text_langid_train" -> langidTrainOracleSql,
    "text_langid_model_eval" -> langidModelEvalOracleSql,

    // the langid heuristic audited against the generator's lang
    // column: integer confusion counts (the text-side ann_recall —
    // at scale you monitor this on labeled slices and retune the
    // stopword tables when accuracy sags)
    "text_langid_eval" ->
      s"""WITH pred AS ($langidOracleSql)
         SELECT d.lang, pred.predicted_lang, count(*) AS n
         FROM documents d JOIN pred ON d.doc_id = pred.doc_id
         GROUP BY 1, 2""",

    "q15_event_windows" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2""",

    // closed-interval overlap (rs <= le AND ls <= re), µs integer
    // arithmetic; count DISTINCT right ids mirrors the operator's
    // bucket-dedup; LEFT JOIN keeps zero-overlap episodes at 0
    "q50_interval_overlap" ->
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
         GROUP BY 1, 2""",

    // every event sits in exactly window/slide = 4 hopping windows:
    // starts (floor(us/slide) - k)*slide for k in 0..3 — integer µs
    // arithmetic, no timezone in play (epoch-second output)
    "q43_sliding_windows" ->
      """WITH e AS (SELECT event_type, value,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS us
                    FROM events)
         SELECT (us // 900000000 - k.k) * 900 AS window_start_s,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
         GROUP BY 1, 2""",

    "q44_cohort_retention" ->
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
         GROUP BY 1, 2""",

    "q45_zscore_outliers" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
                            stddev_samp(value) AS sigma
                     FROM events GROUP BY 1)
         SELECT event_id, e.event_type AS event_type, value,
                round((value - mu) / sigma, 4) AS zscore
         FROM events e JOIN st USING (event_type)
         WHERE abs((value - mu) / sigma) > 2.5""",

    "q52_seasonal_outliers" ->
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
           AND abs((value - mu) / sigma) > 2.5""",

    // revenue in exact decimal: double sums flip 2dp rounding at this
    // group count (order-dependent); decimal addition commutes
    "q46_trade_volume" ->
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
         GROUP BY 1, 2, 3""",

    "q47_mad_outliers" ->
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
         WHERE ad > 3.5 * 1.4826 * mad""",

    // sketch medians = rank-selection elements (see q21a note); the
    // rest of the robust-z pipeline is identical to q47
    "q47a_mad_sketch" ->
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
         WHERE ad > 3.5 * 1.4826 * mad""",

    "q48_equidepth" ->
      """WITH cuts AS (SELECT quantile_cont(o_totalprice,
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
                       FROM orders),
         b AS (SELECT len(list_filter(cs, c -> o_totalprice > c)) AS bucket,
                      o_totalprice AS v
               FROM orders CROSS JOIN cuts)
         SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
                min(v) AS lo, max(v) AS hi
         FROM b GROUP BY 1""",

    // sketch cuts = rank-selection elements (see q21a note); bucketing
    // identical to q48
    "q48a_equidepth_sketch" ->
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
         FROM b GROUP BY 1""",

    "q49_window_suite" ->
      """SELECT event_id, user_id, value,
                lag(value) OVER w AS prev_value,
                lead(value) OVER w AS next_value,
                first_value(value) OVER w AS first_value,
                max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS running_max,
                round(cume_dist() OVER w, 4) AS cume
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "sample_shards" ->
      """SELECT doc_id,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8 AS shard,
                CAST(row_number() OVER (
                  PARTITION BY CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS pos
         FROM documents""",

    "sample_shards_eval" ->
      """WITH s AS (
           SELECT CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8 AS shard,
                  len(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         p AS (SELECT shard, count(*) AS n_docs,
                      CAST(sum(tok) AS BIGINT) AS n_tokens
               FROM s GROUP BY 1),
         t AS (SELECT sum(n_tokens) AS tot FROM p)
         SELECT shard, n_docs, n_tokens,
                round(n_tokens / CAST(tot AS DOUBLE), 4) AS token_share
         FROM p CROSS JOIN t""",

    "q16_sessionize" ->
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
         FROM s GROUP BY 1, 2""",

    "q17_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
                  AS sum_k,
                round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
         FROM events GROUP BY 1""",

    "q27_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_value
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",

    "q26_set_ops" ->
      """WITH y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
              y98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
         SELECT o_custkey, 'lapsed' AS status
         FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
         UNION ALL
         SELECT o_custkey, 'retained' AS status
         FROM (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98)""",

    "q25_moving_avg" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                round(avg(value) OVER (
                  PARTITION BY user_id
                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS moving_avg
         FROM events""",

    "q24_range_join" ->
      """WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'signup'),
              p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase')
         SELECT s.event_id AS signup_event_id, s.user_id,
                s.ts AS signup_ts, count(p.user_id) AS n_purchases_1h
         FROM s LEFT JOIN p
           ON p.user_id = s.user_id
          AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
         GROUP BY 1, 2, 3""",

    "text_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf
                FROM toks WHERE token <> '' GROUP BY 1, 2),
         dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, token, CAST(rnk AS INTEGER) AS rnk, round(tfidf, 4) AS tfidf
         FROM (SELECT tf.doc_id, tf.token,
                      tf.tf * (ln((n_docs + 1.0) / (dfx.df + 1.0)) + 1.0) AS tfidf,
                      row_number() OVER (
                        PARTITION BY tf.doc_id
                        ORDER BY tf.tf * (ln((n_docs + 1.0) / (dfx.df + 1.0)) + 1.0) DESC,
                                 tf.token) AS rnk
               FROM tf JOIN dfx ON tf.token = dfx.token CROSS JOIN n)
         WHERE rnk <= 3""",

    // PMI collocations: unordered pairs at distances 1 and 2 via the
    // positional tk[i]/tk[i+d] replay (the bigram-LM pattern); pair
    // and token totals stay BIGINT until the single double ratio
    "text_pmi" ->
      """WITH t AS (SELECT list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '') AS tk
             FROM documents),
         prs AS (
           SELECT least(tk[i], tk[i+1]) AS w1, greatest(tk[i], tk[i+1]) AS w2
           FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
           WHERE len(tk) >= 2
           UNION ALL
           SELECT least(tk[i], tk[i+2]) AS w1, greatest(tk[i], tk[i+2]) AS w2
           FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)
           WHERE len(tk) >= 3),
         cxy AS (SELECT w1, w2, count(*) AS n_cooc FROM prs GROUP BY 1, 2),
         np AS (SELECT count(*) AS np FROM prs),
         toks AS (SELECT unnest(tk) AS token FROM t),
         uc AS (SELECT token, count(*) AS cx FROM toks GROUP BY 1),
         nt AS (SELECT count(*) AS nt FROM toks)
         SELECT w1, w2, n_cooc,
                round(ln((CAST(n_cooc AS DOUBLE) * nt * nt)
                         / (CAST(np AS DOUBLE) * c1.cx * c2.cx)), 4) AS pmi
         FROM cxy JOIN uc c1 ON cxy.w1 = c1.token
                  JOIN uc c2 ON cxy.w2 = c2.token
         CROSS JOIN np CROSS JOIN nt
         WHERE n_cooc >= 5""",

    "q18_asof_join" ->
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
           ON p.user_id = s.user_id AND p.ts >= s.ts""",

    // DuckDB's ASOF supports the <= direction natively — the forward
    // oracle is the backward one with the inequality flipped
    "q51_asof_next" ->
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
           ON c.user_id = pu.user_id AND c.ts <= pu.ts""",

    // first strictly-later purchase per view via QUALIFY row_number;
    // the no-error-between guard is a correlated NOT EXISTS — an
    // O(n²)-per-user replay the engine's two as-of passes avoid
    "events_pattern" ->
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
               AND CAST(e.ts AS TIMESTAMP) < np.end_ts)""",

    "q28_asof_exec" ->
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
           ON c.user_id = pu.user_id AND c.ts >= pu.ts""",

    "q41_merge_apply" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0),
         delta AS (
           SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
                  CASE WHEN o_orderpriority LIKE '1%' THEN 'D' ELSE 'U' END AS op
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT b.o_orderkey, b.o_custkey, b.o_orderpriority, b.o_totalprice
         FROM base b
         WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = b.o_orderkey)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
         FROM delta WHERE op <> 'D'""",

    "table_profile" ->
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
                CAST(max(o_orderdate) AS VARCHAR) FROM t""",

    // the count(*) OVER block-size filter mirrors the operator's
    // maxBlock=1000 hot-block guard, so the two engines agree even at
    // a scale (or on a boilerplate-heavy corpus) where the guard fires
    "dedup_edit" ->
      """WITH d AS (
           SELECT doc_id, text,
                  CAST(floor(length(text) / 32.0) AS BIGINT) AS lb,
                  substr(text, 1, 4) AS p
           FROM documents),
         sized AS (
           SELECT *, count(*) OVER (PARTITION BY lb, p) AS bs FROM d),
         keep AS (SELECT doc_id, text, lb, p FROM sized WHERE bs <= 1000),
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.text AS ta, b.text AS tb
           FROM keep a JOIN keep b
             ON a.lb = b.lb AND a.p = b.p AND a.doc_id < b.doc_id
           UNION ALL
           SELECT least(a.doc_id, b.doc_id),
                  greatest(a.doc_id, b.doc_id),
                  CASE WHEN a.doc_id < b.doc_id THEN a.text ELSE b.text END,
                  CASE WHEN a.doc_id < b.doc_id THEN b.text ELSE a.text END
           FROM keep a JOIN keep b
             ON a.lb + 1 = b.lb AND a.p = b.p)
         SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS INTEGER) AS lev
         FROM cand
         WHERE levenshtein(ta, tb) <= 32""",

    "q42_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
                count(*) AS n
         FROM lineitem
         WHERE l_extendedprice >= 0 AND l_extendedprice < 120000
         GROUP BY 1""",

    "json_roundtrip" ->
      """SELECT o_orderkey AS id,
                o_custkey AS cust_key,
                o_orderpriority AS segment,
                CAST(2 AS INTEGER) AS n_tags,
                't' || CAST(o_orderkey % 7 AS VARCHAR) AS tag_1,
                CAST(2 AS INTEGER) AS n_items,
                ((o_orderkey % 50) + 0.5) + ((o_orderkey % 30) + 0.25) AS sum_price
         FROM orders""",

    "q37_scd2" ->
      """SELECT o_custkey, o_orderkey,
                CAST(o_orderdate AS DATE) AS valid_from,
                coalesce(CAST(lead(o_orderdate) OVER w AS DATE),
                         DATE '9999-12-31') AS valid_to,
                CAST(row_number() OVER w AS INTEGER) AS version_n,
                (lead(o_orderdate) OVER w IS NULL) AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    "q38_snapshot_diff" ->
      """WITH pre AS (
           SELECT o_custkey, f FROM (
             SELECT o_custkey,
                    md5(concat_ws('|', o_orderpriority, o_orderstatus)) AS f,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01')
           WHERE rn = 1),
         post AS (
           SELECT o_custkey, f FROM (
             SELECT o_custkey,
                    md5(concat_ws('|', o_orderpriority, o_orderstatus)) AS f,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
           WHERE rn = 1)
         SELECT coalesce(pre.o_custkey, post.o_custkey) AS o_custkey,
                CASE WHEN pre.o_custkey IS NULL THEN 'added'
                     WHEN post.o_custkey IS NULL THEN 'removed'
                     WHEN pre.f <> post.f THEN 'changed'
                     ELSE 'unchanged' END AS change_type
         FROM pre FULL OUTER JOIN post ON pre.o_custkey = post.o_custkey""",

    "q39_resample" ->
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
         FROM joined""",

    "mm_manifest" ->
      """SELECT sha256(text) AS digest, count(*) AS n_refs,
                min(doc_id) AS rep_id, CAST(min(strlen(text)) AS BIGINT) AS n_bytes
         FROM documents GROUP BY 1""",

    // the expected container metadata derived arithmetically from the
    // same per-doc build parameters (duration roundtrips exactly:
    // units = durMs·600/1000 is integral for multiples of 5 ms)
    "mm_video_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS major_brand,
                CAST(1000 + (doc_id % 50) * 200 AS BIGINT) AS duration_ms,
                CAST(600 AS BIGINT) AS timescale,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS n_tracks
         FROM documents""",

    "q40_running_distinct" ->
      """WITH fs AS (SELECT user_id, CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS day
                     FROM events GROUP BY 1),
              daily AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
         SELECT day, new_users,
                CAST(sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         FROM daily"""
  )
}
