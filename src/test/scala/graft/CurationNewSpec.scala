package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Curation, Relational}
import graft.sources.Tables

/** Decontamination, stratified sampling, repetition stats, and the
  * pivot/unpivot/full-outer relational additions. */
class CurationNewSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  // ---- contaminationFlags ----

  test("contaminationFlags finds exactly the overlapping docs") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),      // shares 5-gram "a b c d e" etc. with bench
      (2L, "z y x w v u t s"))      // no overlap
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e q r s t")).toDF("doc_id", "text")
    val out = Curation.contaminationFlags(corpus, bench, "doc_id", "text", k = 5)
      .as[(Long, Long, Long)].collect().toSeq
    // corpus doc 1 shares windows "a b c d e" .. only that one 5-gram
    assert(out === Seq((1L, 1L, 1L)))
  }

  test("contaminationFlags broadcasts the benchmark side") {
    val docs = Tables.documents(spark, sfDir)
    val p = plan(Curation.contaminationFlags(
      docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
      "doc_id", "text", k = 5))
    assert(p.contains("BroadcastHashJoin"), s"bench probe join shuffled the corpus:\n$p")
  }

  // ---- contaminationFlagsEmbedding ----

  test("semantic decon flags the near-parallel vector the n-gram probe cannot see") {
    val evalSet = Seq((100L, Array(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99, 0.1, 0.0, 0.0)),  // a near-paraphrase in vector space
      (2L, Array(0.0, 0.0, 1.0, 0.0)))   // orthogonal — clean
      .toDF("vec_id", "embedding")
    val out = Curation.contaminationFlagsEmbedding(corpus, evalSet,
      "vec_id", "embedding", tau = 0.9).as[(Long, Boolean)].collect().toMap
    assert(out === Map(1L -> true, 2L -> false))
  }

  test("semantic decon broadcasts the eval side (corpus never shuffled for the probe)") {
    val e = Tables.embeddings(spark, sfDir)
    val p = plan(Curation.contaminationFlagsEmbedding(
      e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
      "vec_id", "embedding", tau = 0.4))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"eval probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the probe:\n$p")
  }

  // ---- stratifiedHashSample ----

  test("stratifiedHashSample applies per-stratum rates deterministically") {
    val docs = Tables.documents(spark, sfDir)
    val once = Curation.stratifiedHashSample(docs, "lang", col("text"),
      Map("en" -> 0.1), defaultRate = 0.5).select("doc_id")
    val twice = Curation.stratifiedHashSample(docs, "lang", col("text"),
      Map("en" -> 0.1), defaultRate = 0.5).select("doc_id")
    assert(once.collect().toSet === twice.collect().toSet)
    val byLang = Curation.stratifiedHashSample(docs, "lang", col("text"),
        Map("en" -> 0.1), defaultRate = 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // en kept at ~10%, others at ~50% (loose bounds; hash is uniform)
    assert(byLang("en").toDouble / total("en") < 0.3)
    assert(byLang("fr").toDouble / total("fr") > 0.25)
  }

  test("stratifiedHashSample has no shuffle (stateless filter)") {
    val p = plan(Curation.stratifiedHashSample(Tables.documents(spark, sfDir),
      "lang", col("text"), Map("en" -> 0.1), 0.5))
    assert(!p.contains("Exchange"), s"stateless sample plan contains a shuffle:\n$p")
  }

  // ---- repetitionStats ----

  test("repetitionStats computes dominance and dup-trigram ratios") {
    val docs = Seq(
      (1L, "a a a a a a a a a a"),  // one token repeated: top ratio 1.0, all trigrams dup
      (2L, "a b c d e f g h i j"), // all distinct
      (3L, "x y"))                 // fewer than 3 tokens: no trigrams
      .toDF("doc_id", "text")
    val out = Curation.repetitionStats(docs, "doc_id", "text",
        maxTopTokenRatio = 0.5, maxDupTrigramRatio = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Double, Boolean)].collect()
    assert(out(0) === ((1L, 10L, 1L, 1.0, 1.0 - 1.0 / 8, false)))
    assert(out(1) === ((2L, 10L, 10L, 0.1, 0.0, true)))
    assert(out(2) === ((3L, 2L, 2L, 0.5, 0.0, true)))
  }

  test("repetitionStats flags use unrounded ratios") {
    // 10000 tokens, top token appears 1201 times → ratio 0.1201 > 0.12
    // but rounds to 0.12: the flag must still be false
    val text = (Seq.fill(1201)("t") ++ (1 to 8799).map(i => s"w$i")).mkString(" ")
    val out = Curation.repetitionStats(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", maxTopTokenRatio = 0.12, maxDupTrigramRatio = 1.0)
      .select("top_token_ratio", "rep_ok").as[(Double, Boolean)].collect().head
    assert(math.abs(out._1 - 0.1201) < 0.0001)
    assert(!out._2)
  }

  // ---- pivot / unpivot / full outer ----

  test("pivot counts match the long-form groupBy") {
    val orders = Tables.orders(spark, sfDir)
    val wide = Relational.pivotPriorityCounts(orders)
    val long = orders.groupBy("o_orderstatus", "o_orderpriority").count()
      .as[(String, String, Long)].collect()
      .map { case (s, p, n) => ((s, p), n) }.toMap
    wide.collect().foreach { row =>
      val status = row.getString(0)
      assert(row.getLong(1) === long.getOrElse((status, "1-URGENT"), 0L))
      assert(row.getLong(5) === long.getOrElse((status, "5-LOW"), 0L))
    }
  }

  test("pivot with declared values plans a single aggregate pass") {
    val p = plan(Relational.pivotPriorityCounts(Tables.orders(spark, sfDir)))
    // one shuffle for the status agg; no extra job/scan per pivot column
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("conditional-agg pivot equals the Dataset .pivot() API result") {
    val orders = Tables.orders(spark, sfDir)
    val ours = Relational.pivotPriorityCounts(orders)
    val api = orders.groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Relational.pivotPriorities)
      .agg(count(lit(1)))
      .toDF(ours.columns: _*)
    assert(ours.orderBy("o_orderstatus").collect().toSeq ===
      api.orderBy("o_orderstatus").collect().toSeq)
  }

  test("unpivot emits one row per (flag, measure)") {
    val li = Tables.lineitem(spark, sfDir)
    val out = Relational.unpivotReturnFlagMeasures(li)
    val nFlags = li.select("l_returnflag").distinct().count()
    assert(out.count() === nFlags * 3)
    assert(out.columns.toSeq === Seq("l_returnflag", "measure", "value"))
  }

  test("approxPercentiles tracks the exact percentiles within sketch error") {
    val orders = Tables.orders(spark, sfDir)
    val approx = Relational.approxPercentiles(orders, accuracy = 1000)
      .select("o_orderpriority", "p50", "p90")
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    exact.foreach { case (k, (e50, e90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - e50) / e50 < 0.05, s"$k p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) / e90 < 0.05, s"$k p90: $a90 vs $e90")
    }
  }

  test("approxPercentileBound: booleans hold across accuracy regimes AND flip on a corrupted sketch") {
    val orders = Tables.orders(spark, sfDir)
    // invariant holds in the exact-ish (1000) and deep-approximate
    // (100) regimes — the gate query's claim at any driver SF
    for (acc <- Seq(100, 1000)) {
      val out = Relational.approxPercentileBound(orders, accuracy = acc)
      val flags = out.select("p50_ok", "p90_ok", "p99_ok")
        .as[(Boolean, Boolean, Boolean)].collect()
      assert(flags.nonEmpty && flags.forall(t => t._1 && t._2 && t._3),
        s"accuracy=$acc violated its rank bound: ${flags.mkString(",")}")
    }
    // falsifiability: a sketch that returned the group MINIMUM for
    // p99 must fail the audit — the gate is empirical, not tautology
    val corrupt = orders.groupBy(col("o_orderpriority"))
      .agg(min(col("o_totalprice")).as("v50"),
        min(col("o_totalprice")).as("v90"),
        min(col("o_totalprice")).as("v99"))
    val bad = Relational.rankAudit(orders, corrupt, accuracy = 1000)
      .select("p90_ok", "p99_ok").as[(Boolean, Boolean)].collect()
    assert(bad.forall(t => !t._1 && !t._2),
      s"corrupted sketch passed the audit: ${bad.mkString(",")}")
  }

  test("funnel stage joins broadcast the prior-stage user set (fact never shuffled for a join)") {
    val p = plan(graft.operators.Events.funnelCounts(
      Tables.events(spark, sfDir), Seq("signup", "click", "purchase"), 100000))
    assert(p.contains("BroadcastHashJoin"), s"stage join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a funnel stage shuffled the fact for its join:\n$p")
  }

  test("fullOuterDailyActivity keeps unmatched days from both sides") {
    val o = Seq(("2024-01-01", 1L), ("2024-01-02", 2L))
      .toDF("d", "k").select(to_timestamp($"d").as("o_orderdate"))
    val l = Seq(("2024-01-02", 1L), ("2024-01-03", 3L))
      .toDF("d", "k").select(to_timestamp($"d").as("l_shipdate"))
    val out = Relational.fullOuterDailyActivity(o, l)
      .orderBy("day")
      .as[(java.sql.Date, Long, Long)].collect()
    assert(out.map(_._1.toString) === Array("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(out.map(r => (r._2, r._3)) === Array((1L, 0L), (1L, 1L), (0L, 1L)))
  }

  test("logisticTrain learns a separable rule and is deterministic") {
    // y = 1 iff x1 > 0.5 — perfectly separable on one feature
    val rows = (0 until 200).map { i =>
      val x1 = (i % 100) / 100.0
      (if (x1 > 0.5) 1.0 else 0.0, 1.0, x1)
    }
    val feats = rows.toDF("y", "x0", "x1")
    val w = Curation.logisticTrain(feats, "y", Seq("x0", "x1"), iters = 50,
      lr = 5.0)
    // prediction = σ(w·x) > 0.5 ⇔ w·x > 0; check training accuracy
    val correct = rows.count { case (y, x0, x1) =>
      val z = w(0) * x0 + w(1) * x1
      (if (z > 0) 1.0 else 0.0) == y
    }
    assert(correct >= 190, s"trained model got $correct/200 on separable data (w=${w.toSeq})")
    assert(w(1) > 0, "the separating feature's weight must be positive")
    // same data, same iterations → bit-identical weights (the gate
    // relies on the rounded-gradient trajectory being reproducible)
    val w2 = Curation.logisticTrain(feats, "y", Seq("x0", "x1"), iters = 50,
      lr = 5.0)
    assert(w.toSeq === w2.toSeq)
  }

  test("logisticTrain reads a boundary leaf in place and stages a plain input") {
    import scala.jdk.CollectionConverters._
    val feats = (0 until 120).map { i =>
      val x1 = (i % 60) / 60.0
      (if (x1 > 0.5) 1.0 else 0.0, 1.0, x1)
    }.toDF("y", "x0", "x1")
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(
          e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    // unpersists of RDDs made during the call: the context cleaner
    // also unpersists older, collected RDDs at any time
    def train(df: DataFrame): (Seq[Double], Int, Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      unpersisted.clear()
      val firstId = spark.sparkContext.emptyRDD[Int].id
      val w = Curation.logisticTrain(df, "y", Seq("x0", "x1"), iters = 3, lr = 5.0)
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      (w.toSeq, unpersisted.asScala.count(_ > firstId), added)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a plain frame is staged for the loop and released after it
      val (wPlain, releasedPlain, leftPlain) = train(feats)
      assert(releasedPlain === 1, "the loop's own boundary was not released")
      assert(leftPlain.isEmpty)
      // a boundary leaf is the caller's: no second cache is filled
      // (and then released), and the leaf stays live
      val leaf = Boundary.stage(feats)
      val (wLeaf, releasedLeaf, leftLeaf) = train(leaf)
      assert(releasedLeaf === 0, "a boundary leaf was cached a second time")
      assert(leftLeaf.isEmpty)
      assert(Boundary.isLive(leaf), "the caller's boundary was released")
      assert(wLeaf === wPlain)
      Boundary.release(leaf)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- hashedTokenFeatures: vocabulary separability ----

  // A planted LEXICAL rule: positives contain "zyzzyva", negatives
  // "quixote" — both 7 alpha chars, so token count, average token
  // length, stopword ratio and punctuation density are IDENTICAL
  // across classes by construction. The aggregate-feature classifier
  // is blind to it; the hashed token buckets see it (zyzzyva →
  // bucket 0, quixote → bucket 8, fillers elsewhere — verified
  // collision-free for B = 16).
  private def plantedDocs: DataFrame =
    (0 until 200).map { i =>
      val marker = if (i % 2 == 0) "zyzzyva" else "quixote"
      val filler = Seq.fill(i % 5)("alpha").mkString(" ")
      (i.toLong, if (i % 2 == 0) 1.0 else 0.0,
        s"beta gamma $marker delta $filler".trim)
    }.toDF("doc_id", "y", "text")

  /** Train 50 iters on `train`, return holdout accuracy on `held`
    * (both must carry y, x0..x{nFeats-1}); also returns the weights. */
  private def holdoutAccuracy(train: DataFrame, held: DataFrame,
      nFeats: Int): (Double, Array[Double]) = {
    val cols = (0 until nFeats).map(i => s"x$i")
    val w = Curation.logisticTrain(train, "y", cols, iters = 50, lr = 5.0)
    val z = cols.zip(w).map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
    val Array(acc) = held
      .select(avg(when((z > 0) === (col("y") === 1.0), 1.0).otherwise(0.0)))
      .as[Double].collect()
    (acc, w)
  }

  test("hashed token buckets separate a planted lexical rule the aggregate features cannot") {
    val docs = plantedDocs
    import graft.functions.Text
    // the aggregate feature map (the qualityClassifier surface shape)
    def aggFeats(d: DataFrame): DataFrame = d.select(col("y"),
      lit(1.0).as("x0"),
      (Text.tokenCount(col("text")) / lit(10.0)).as("x1"),
      round(Text.stopwordRatio(col("text")), 4).as("x2"),
      round(Text.avgTokenLen(col("text")) / lit(10.0), 4).as("x3"))
    // split 80/20 on doc_id order (deterministic; i % 2 labels are
    // independent of the 160 cut, so both classes sit in both halves)
    val tr = docs.filter(col("doc_id") < 160)
    val he = docs.filter(col("doc_id") >= 160)
    val (aggAcc, _) = holdoutAccuracy(aggFeats(tr), aggFeats(he), 4)
    val (hashAcc, w) = holdoutAccuracy(
      Curation.hashedTokenFeatures(tr, col("y"), col("text"), 16),
      Curation.hashedTokenFeatures(he, col("y"), col("text"), 16), 17)
    assert(hashAcc >= 0.95,
      s"hashed-bucket classifier should nail the planted rule, got $hashAcc")
    assert(aggAcc <= 0.65,
      s"aggregate features must NOT separate the planted rule (identical by construction), got $aggAcc")
    // and the learned weights point the right way: zyzzyva's bucket
    // (0 → feature x1) positive, quixote's (8 → x9) negative
    assert(w(1) > 0 && w(9) < 0,
      s"marker buckets should carry opposite-sign weights, got x1=${w(1)} x9=${w(9)}")
  }

  // ---- logisticTrainSparse ≡ dense logisticTrain ----

  test("sparse long-form trainer matches the dense trainer on the pivoted frame") {
    // long-form features: every doc carries bias bucket 0 (value 1)
    // plus two content buckets in 1..10
    val long = (0 until 60).flatMap { i =>
      val y = if ((i % 3) == 0) 1.0 else 0.0
      Seq((i.toLong, y, 0L, 1.0),
        (i.toLong, y, (i % 4 + 1).toLong, 0.5),
        (i.toLong, y, (i % 5 + 5).toLong, 0.25))
    }.toDF("doc_id", "y", "bucket", "value")
    val sparse = Curation.logisticTrainSparse(long, "doc_id", "y",
      "bucket", "value", iters = 5)
    val sparseW = sparse.as[(Long, Double)].collect().toMap
    Boundary.release(sparse)
    // dense pivot of the same frame: x_b = value if present else 0
    val dense = long.groupBy("doc_id").agg(
      first(col("y")).as("y"),
      (0L to 9L).map(b =>
        sum(when(col("bucket") === b, col("value")).otherwise(0.0))
          .as(s"x$b")): _*)
    val denseW = Curation.logisticTrain(dense, "y",
      (0 to 9).map(i => s"x$i"), iters = 5)
    (0 to 9).foreach { b =>
      val sw = sparseW.getOrElse(b.toLong, 0.0)
      assert(math.abs(sw - denseW(b)) <= 2e-6,
        s"bucket $b: sparse $sw vs dense ${denseW(b)}")
    }
  }
}
