package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Relational, Tier}
import graft.sources.Tables

/** Physical-plan assertions: correctness tests prove the small-SF
  * answer; these prove the plan SHAPE survives a 100×/1000× scale-up
  * (broadcast joins instead of shuffles, pushdown reaching the scan,
  * top-k without a global sort, rank-limit pushdown in windows).
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("nationRevenue broadcasts every dimension (no shuffle joins)") {
    val p = plan(Relational.nationRevenue(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir), "ASIA", 1998))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      s"dimension join degenerated to a sort-merge shuffle:\n$p")
  }

  test("filters and projection push down to the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"filter did not reach the scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more columns than the projection needs:\n$p")
  }

  test("top-revenue top-10 avoids a global sort (TakeOrderedAndProject)") {
    val p = plan(Relational.topRevenueOrders(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), "BUILDING", "1998-01-01"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k used a full sort:\n$p")
  }

  test("window top-N pushes the rank limit below the shuffle") {
    val p = plan(Relational.topNPerGroup(Tables.orders(spark, sfDir),
      Seq("o_custkey"), Seq(col("o_orderdate").desc, col("o_orderkey").desc), 3))
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed down:\n$p")
  }

  test("pricing summary aggregates partially before the shuffle") {
    val p = plan(Relational.pricingSummary(Tables.lineitem(spark, sfDir), "1998-09-02"))
    assert(p.contains("HashAggregate"))
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("range join stays an equi-join (no cross product)") {
    val ev = Tables.events(spark, sfDir)
    val p = plan(graft.operators.Events.rangeJoinCount(
      ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts")),
      "user_id", "ts", "event_id", 3600L))
    assert(!p.contains("CartesianProduct"),
      s"range predicate degenerated to a cross product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range predicate did not become an equi-join:\n$p")
  }

  test("tfidf corpus size is a broadcast scalar, not a shuffle") {
    val d = Tables.documents(spark, sfDir)
    val p = plan(graft.operators.Curation.tfidfTopTerms(
      d, "doc_id", graft.functions.Text.tokens(col("text")), 3))
    // 1-row cross join must be a broadcast nested loop, never a
    // cartesian shuffle of the tf table
    assert(p.contains("BroadcastNestedLoopJoin"), s"corpus size not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"tf × n_docs shuffled:\n$p")
  }

  test("pair counting shuffles the set key once (no self-join exchanges)") {
    val p = plan(graft.operators.Pipeline.pairCounts(
      Tables.lineitem(spark, sfDir), "l_orderkey", "l_suppkey",
      Tables.orders(spark, sfDir).select(col("o_orderkey"), year(col("o_orderdate")).as("year")),
      "o_orderkey"))
    assert(!p.contains("CartesianProduct"),
      s"pair generation degenerated to a cross product:\n$p")
    // exactly one aggregate pair per shuffle stage: collect_set + final count
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"more shuffles than collect_set/year-join/pair-agg need:\n$p")
  }

  test("hot co-occurrence graph derivation shuffles the fact once (no self-join)") {
    // the shared graph_triangles/graph_lpa derivation (r13): the raw
    // pair-count frame before the quantile threshold — collect_set
    // per order + in-row SortedPairs explosion, NOT lineitem⋈lineitem
    import graft.functions.expr.NativeFunctions.sorted_pairs
    val p = plan(Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("__ms"))
      .select(explode(sorted_pairs(col("__ms"))).as("__p"))
      .groupBy(col("__p.a").as("sa"), col("__p.b").as("sb"))
      .agg(count(lit(1)).as("c")))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"pair derivation joined instead of gathering in-row:\n$p")
    // set-key gather + pair agg: two hash exchanges, nothing more
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"more shuffles than collect_set + pair-agg need:\n$p")
  }

  test("url canonicalization stays inside whole-stage codegen (no fallback boxing)") {
    val df = Tables.orders(spark, sfDir)
      .select(graft.functions.Urls.canonicalize(
        concat(lit("https://H.com:443/p/?b=1&utm_source=x&a="),
          col("o_orderkey").cast("string"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)))
    // AQE only shows codegen spans in the FINAL plan, and only the
    // frame's OWN execution finalizes it (count() plans separately);
    // the *(n) prefix marks an operator inside WholeStageCodegen
    // span n — a CodegenFallback expression would leave its Project
    // unstarred outside any span
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[url_canonicalize""".r.findFirstIn(p).isDefined,
      s"url_canonicalize's Project is outside whole-stage codegen:\n$p")
  }

  test("bloom decon never shuffles or joins the corpus (broadcast filter, in-row probe)") {
    val docs = Tables.documents(spark, sfDir)
    val isBench = col("source").isin("src0", "src1")
    val p = plan(graft.operators.Curation.contaminationFlagsBloom(
      docs.filter(!isBench), docs.filter(isBench), "doc_id", "text",
      n = 5, numBits = 1 << 22, kHashes = 3))
    // the only exchange is the filter's own partial-agg merge; the
    // corpus side joins the 1-row filter via broadcast nested loop
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus-side hash shuffle appeared:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"filter is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("perplexity triage: no global sort, thresholds are plan literals over the scored corpus") {
    // kernel + mid-tier pinned OFF (r18): this test pins the fully
    // DISTRIBUTED triage shape — the plan that runs at 100 TB
    val docs = Tables.documents(spark, sfDir)
    val toks = graft.functions.Text.tokens(col("text"))
    val (ppl, scores) = Tier.pinned(spark, "distributed")((
      graft.operators.Curation.perplexityBuckets(docs, "doc_id", toks, lambda = 0.8),
      graft.operators.Curation.interpLogProb(docs, "doc_id", toks, 0.8)))
    // the result is a boundary leaf over the score boundary's leaf:
    // the triage is the score plan plus the result origin's bucket plan
    val p = plan(scores) + plan(Boundary.origin(ppl).get)
    Boundary.release(ppl)
    // bucket assignment must be a literal CASE compare, never a
    // global sort or a single-partition rank window over the corpus.
    // The only
    // Window allowed is the LM model's prefix-partitioned count fold
    // (r17) — keyed on __pfx, vocab-sized; a rank/row_number window
    // or a windowspecdefinition with an EMPTY partition clause
    // (global = the corpus through one reducer) is the regression.
    assert(!p.contains("row_number(") && !p.contains("rank(") &&
      !p.contains("ntile("), s"rank window crept into the triage:\n$p")
    // EVERY window in the plan must be __pfx-partitioned: a
    // windowspecdefinition whose partition clause is empty (its first
    // argument is the frame/order spec, not a __pfx column) is the
    // corpus-through-one-reducer regression regardless of which
    // expression it windows over (r17 guard only rejected avg_logprob)
    "windowspecdefinition\\(([^,()]*)".r.findAllMatchIn(p).foreach { m =>
      assert(m.group(1).contains("__pfx"),
        s"non-__pfx-partitioned window crept into the triage: ${m.matched}\n$p")
    }
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the LM corpus-total scalar is not broadcast:\n$p")
    // the only global (SinglePartition) exchanges feed the 2-scalar
    // percentile / corpus-total aggregates — row counts ∝ groups, not docs
    assert(!p.contains("CartesianProduct"))
  }

  test("SQ8 scoring scans codes against broadcast queries; corpus never hash-shuffles before rank") {
    val e = Tables.embeddings(spark, sfDir)
    val p = plan(graft.operators.Similarity.sq8TopK(
      e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scoring join degenerated:\n$p")
  }

  test("resample collapses events to buckets before any shuffle") {
    val p = plan(graft.operators.Events.resampleGrid(
      Tables.events(spark, sfDir), "user_id", "ts", "value", 3600L))
    // a PARTIAL-mode aggregate must sit below (textually after) the
    // first exchange: the raw events never cross the wire, one row per
    // occupied bucket does. Matching any HashAggregate would pass even
    // if the collapse moved above the shuffle — require partial_ mode
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstExchange >= 0, s"no hash exchange at all:\n$p")
    assert(p.substring(firstExchange).contains("partial_"),
      s"no partial (map-side) aggregation below the first exchange:\n$p")
  }

  test("approx heavy hitters broadcast the sketch; candidates never shuffle the corpus") {
    val p = plan(graft.operators.Curation.approxTopTokens(
      Tables.documents(spark, sfDir), graft.functions.Text.tokens(col("text")),
      col("text"), depth = 4, width = 2048, sampleBuckets = 10, takeBuckets = 2, k = 20))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sketch is not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$p")
  }

  test("sketch equi-depth keeps the q48 shape: broadcast cuts, fact never shuffled") {
    val p = plan(graft.operators.Profile.equidepthHistogram(
      Tables.orders(spark, sfDir), "o_totalprice", 10,
      approxAccuracy = Some(1000000)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sketch cutpoints must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact shuffled for the cut join:\n$p")
  }

  test("sketch MAD outliers keep the q47 shape: broadcast medians, fact never shuffled") {
    val p = plan(graft.operators.Events.madOutliers(
      Tables.events(spark, sfDir), 3.5, approxAccuracy = Some(1000000)))
    assert(p.contains("BroadcastHashJoin"), s"median frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact shuffled for a stats join:\n$p")
  }

  test("standing-index probes broadcast the BATCH side, never the index") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
    val sIdx = Dedup.substringIndex(corpus, "doc_id", "text", 20)
    try {
      // the probe returns a boundary leaf; its persisted origin
      // prints the cached join tree, so the broadcast assertion
      // inspects the plan the probe actually ran
      val probed = Dedup.substringProbe(sIdx, batch, "doc_id", "text")
      val p = plan(Boundary.origin(probed).get)
      Boundary.release(probed)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"substring probe candidate join does not broadcast:\n$p")
    } finally sIdx.release()
  }

  test("adaptive CC/LPA local path: Coalesce(1) over the checkpointed scan, zero exchanges") {
    // the r14 single-task strategy's whole point is NO per-round
    // driver actions and NO shuffle: the plan must be exactly
    // scan → Coalesce 1 → MapPartitions (a repartition(1) here would
    // silently reintroduce an exchange)
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val cc = plan(graft.operators.Clusters.connectedComponents(pairs, "a", "b"))
    assert(cc.contains("Coalesce 1"), s"local CC lost its single-task coalesce:\n$cc")
    assert(cc.contains("MapPartitions"), s"local CC lost its union-find kernel:\n$cc")
    assert(!cc.contains("Exchange"), s"local CC plan shuffles:\n$cc")
    val lpa = plan(graft.operators.Graph.labelPropagation(pairs, "a", "b", 3))
    assert(lpa.contains("Coalesce 1") && lpa.contains("MapPartitions") &&
      !lpa.contains("Exchange"), s"local LPA plan regressed:\n$lpa")
  }

  test("r16 LM scoring plans carry NO cache (single-model-join, recompute-two-consumer shape)") {
    // the r16 formulation folded the prefix/unigram tables onto the
    // bigram-grouped model, so the corpus-scale exploded frame has
    // exactly two consumers and is deliberately UN-cached — an
    // InMemoryTableScan here means someone reintroduced the exploded
    // frame persist (the shape the r15 AQE race forced, now gone)
    val toks = graft.functions.Text.tokens(col("text"))
    val docs = Tables.documents(spark, sfDir)
    // TIER 3 — DISTRIBUTED path (the `distributed` tier pin): the
    // plan that runs at 100 TB
    def pinned(tier: String)(df: => DataFrame): String =
      Tier.pinned(spark, tier)(plan(df))
    val big = pinned("distributed")(
      graft.operators.Curation.bigramLogProb(docs, "doc_id", toks))
    assert(!big.contains("InMemoryTableScan"),
      s"bigramLogProb plan reads a cache:\n$big")
    val interp = pinned("distributed")(
      graft.operators.Curation.interpLogProb(docs, "doc_id", toks, 0.9))
    assert(!interp.contains("InMemoryTableScan"),
      s"interpLogProb plan reads a cache:\n$interp")
    // r17: the prefix count attaches as a PARTITION-WINDOW sum over
    // the grouped model (one exchange) — a regression to the
    // groupBy+self-join fold would drop the Window node and re-grow
    // the exchange+join pair on the LM critical path
    assert(big.contains("Window"),
      s"bigramLogProb lost the prefix-count window fold:\n$big")
    assert(interp.contains("Window"),
      s"interpLogProb lost the prefix-count window fold:\n$interp")
    // TIER 2 — big-corpus/small-vocab (the `model` tier pin: kernel
    // gate off, model gate on): the model is a BROADCAST local
    // relation — no Window node, no model exchange, the scoring join
    // never shuffles the corpus
    val bigM = pinned("model")(
      graft.operators.Curation.bigramLogProb(docs, "doc_id", toks))
    assert(!bigM.contains("Window") && !bigM.contains("windowspecdefinition"),
      s"broadcast-model bigram plan still carries the window fold:\n$bigM")
    assert(bigM.contains("BroadcastExchange") || bigM.contains("BroadcastHashJoin"),
      s"broadcast bigram model is not broadcast:\n$bigM")
    assert(!bigM.contains("SortMergeJoin"),
      s"broadcast-model scoring join degenerated to a shuffle join:\n$bigM")
    val interpM = pinned("model")(
      graft.operators.Curation.interpLogProb(docs, "doc_id", toks, 0.9))
    assert(!interpM.contains("Window") && !interpM.contains("SortMergeJoin"),
      s"broadcast-model interp plan regressed:\n$interpM")
    // TIER 1 — the default on a tiny input (r18): the whole score is
    // a driver-kernel LocalTableScan, zero exchanges, zero jobs in
    // the plan itself
    val bigL = plan(graft.operators.Curation.bigramLogProb(docs, "doc_id", toks))
    assert(bigL.contains("LocalTableScan") && !bigL.contains("Exchange"),
      s"tiny-input bigram did not fold to the driver kernel:\n$bigL")
    // perplexityBuckets is the doc-bounded EXCEPTION: its bucket scan
    // must read the staged score frame, never re-run the LM pipeline
    // — the returned frame is a boundary leaf, and the score
    // boundary's leaf must appear INSIDE its origin's cached plan (a
    // corpus scan there means the bucket scan recomputed the scores
    // instead of reading them). Pinned to the
    // distributed tiers (r18): on the kernel tier the scores are a
    // LocalRelation whose re-scan is free, so the internal score
    // cache is deliberately SKIPPED — asserted separately below.
    val pplDf = Tier.pinned(spark, "distributed")(graft.operators.Curation.perplexityBuckets(
      docs, "doc_id", toks, lambda = 0.8))
    val ppl = plan(Boundary.origin(pplDf).get)
    Boundary.release(pplDf)
    // the result's own cache read PLUS the score leaf inside it, and
    // no corpus scan (that would be a full LM recompute)
    assert(ppl.contains("InMemoryTableScan") && ppl.contains("ExistingRDD") &&
      !ppl.contains("FileScan"),
      s"perplexity bucket scan re-runs the LM pipeline instead of reading the score cache:\n$ppl")
    // kernel tier: the result cache wraps a LocalTableScan bucket
    // scan — no inner score cache (it would be pure overhead), no
    // exchange, no LM recompute possible (the scores are literal)
    val pplK = graft.operators.Curation.perplexityBuckets(
      docs, "doc_id", toks, lambda = 0.8)
    val pk = plan(pplK)
    Boundary.release(pplK)
    assert(pk.contains("LocalTableScan") || pk.contains("InMemoryTableScan"),
      s"kernel-tier perplexity result is not cached/local:\n$pk")
    assert(!pk.contains("FileScan"),
      s"kernel-tier perplexity re-reads the corpus:\n$pk")
  }

  test("r16 dedup_clusters_inc entry plans the APPLY only (no corpus rescan)") {
    // the standing state is an eager localCheckpoint memo: the timed
    // query's plan must read RDD scans, never re-derive the shingle
    // index from the documents parquet
    val p = plan(graft.SparkEntry.queries("dedup_clusters_inc")(spark, sfDir))
    assert(!p.contains("FileScan parquet"),
      s"clusters_inc apply rescans the corpus:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"clusters_inc apply does not read the checkpointed standing state:\n$p")
  }

  test("external sink collapse prunes rank>1 below the shuffle (WindowGroupLimit)") {
    // the latest-version-per-key collapse must not move every delta
    // row through the exchange when only the per-key winner survives —
    // asserted on the PRODUCTION plan builder writeChangelog uses
    import spark.implicits._
    val changes = (1 to 100).map(i => (s"k${i % 10}", i.toLong, false, Array[Byte]()))
      .toDF("key", "version", "is_delete", "payload")
    val collapsed = graft.sources.ExternalSink.collapse(
      changes, "key", "version", "is_delete", "payload")
    assert(plan(collapsed).contains("WindowGroupLimit"),
      s"rank-1 filter not pushed below the shuffle:\n${plan(collapsed)}")
  }
}
