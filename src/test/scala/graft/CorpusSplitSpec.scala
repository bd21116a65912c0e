package graft

import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Clusters, Curation, Dedup}
import graft.sources.Tables

/** Leakage-free holdout split, cross-doc boilerplate stats, and the
  * exact-vocab query. */
class CorpusSplitSpec extends SparkSpec {
  import spark.implicits._

  // ---- holdoutSplit ----

  test("holdoutSplit partitions the corpus: one label per doc") {
    val docs = Tables.documents(spark, sfDir)
    val out = Curation.holdoutSplit(docs, "doc_id", "text",
      buckets = 100, testBuckets = 20, k = 3, tau = 0.6)
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    val labels = out.select("split").distinct().as[String].collect().toSet
    assert(labels.subsetOf(Set("test", "train", "leaked")), labels.toString)
  }

  test("holdoutSplit leakage guarantee: no near-dup pair crosses train/test") {
    val docs = Tables.documents(spark, sfDir)
    val split = Curation.holdoutSplit(docs, "doc_id", "text",
      buckets = 100, testBuckets = 20, k = 3, tau = 0.6)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6)
    val crossing = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), Seq("doc_a"))
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), Seq("doc_b"))
      .filter((col("sa") === "train" && col("sb") === "test") ||
        (col("sa") === "test" && col("sb") === "train"))
    assert(crossing.count() === 0L)
    Boundary.release(pairs)
  }

  test("holdoutSplit: test-touched clusters quarantine ALL their train-side docs") {
    val docs = Tables.documents(spark, sfDir)
    val split = Curation.holdoutSplit(docs, "doc_id", "text",
      buckets = 100, testBuckets = 20, k = 3, tau = 0.6)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6)
    val clusters = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val byCluster = split.join(clusters, Seq("doc_id"), "left")
      .withColumn("cl", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cl")
      .agg(max(when(col("split") === "test", 1).otherwise(0)).as("has_test"),
        sum(when(col("split") === "train", 1).otherwise(0)).as("n_train"),
        sum(when(col("split") === "leaked", 1).otherwise(0)).as("n_leaked"))
      .collect()
    byCluster.foreach { r =>
      if (r.getAs[Int]("has_test") === 1)
        assert(r.getAs[Long]("n_train") === 0L,
          s"cluster ${r.get(0)} has a test doc AND train docs")
      else
        assert(r.getAs[Long]("n_leaked") === 0L,
          s"cluster ${r.get(0)} has no test doc but leaked docs")
    }
    Boundary.release(pairs)
  }

  test("holdoutSplitWithClusters over a precomputed labeling matches holdoutSplit") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6)
    val clusters = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
    val a = Curation.holdoutSplit(docs, "doc_id", "text",
      buckets = 100, testBuckets = 20, k = 3, tau = 0.6)
      .as[(Long, String)].collect().toSet
    val b = Curation.holdoutSplitWithClusters(docs, "doc_id", "text",
      buckets = 100, testBuckets = 20, clusters)
      .as[(Long, String)].collect().toSet
    assert(a === b)
    Boundary.release(pairs)
  }

  // ---- boilerplateStats ----

  test("boilerplateStats flags exactly the template k-grams shared across docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta one1 one2"),
      (2L, "alpha beta gamma delta two1 two2"),
      (3L, "alpha beta gamma delta three1 three2"),
      (4L, "solo lone word"),
      (5L, "xy z")) // < 3 tokens: no shingles at all
      .toDF("doc_id", "text")
    val out = Curation.boilerplateStats(docs, "doc_id", "text", k = 3, dfMin = 3L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    // docs 1-3: 4 distinct 3-grams each, 2 of which ("alpha beta gamma",
    // "beta gamma delta") appear in all three docs
    assert(out === Seq(
      (1L, 4L, 2L, Some(0.5)),
      (2L, 4L, 2L, Some(0.5)),
      (3L, 4L, 2L, Some(0.5)),
      (4L, 1L, 0L, Some(0.0)),
      (5L, 0L, 0L, None)))
  }

  test("boilerplateStats ratio is a distinct-gram share, repeats inside a doc count once") {
    val docs = Seq(
      (1L, "t1 t2 t3 t1 t2 t3"), // 3-grams repeat; distinct set is 4
      (2L, "t1 t2 t3 zz"))
      .toDF("doc_id", "text")
    // distinct grams of doc 1: (t1 t2 t3), (t2 t3 t1), (t3 t1 t2),
    // (t1 t2 t3) dup -> 3 distinct... plus (t2 t3 t1)? enumerate:
    // windows: t1t2t3, t2t3t1, t3t1t2, t1t2t3 -> 3 distinct.
    // shared with doc 2 at dfMin=2: t1t2t3 only.
    val out = Curation.boilerplateStats(docs, "doc_id", "text", k = 3, dfMin = 2L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 1L, Some(round4(1.0 / 3))),
      (2L, 2L, 1L, Some(0.5))))
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---- text_vocab (registered query) ----

  test("text_vocab: ranks are 1..50, coverage is monotone and <= 1, top-1 is the true mode") {
    val out = SparkEntry.queries("text_vocab")(spark, sfDir)
      .orderBy("rank")
      .as[(String, Long, Int, Double)].collect().toSeq
    assert(out.map(_._3) === (1 to out.size))
    assert(out.size <= 50 && out.nonEmpty)
    val shares = out.map(_._4)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(shares.last <= 1.0 + 1e-9)
    val trueTop = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(1)
      .as[(String, Long)].collect().head
    assert((out.head._1, out.head._2) === trueTop)
  }
}
