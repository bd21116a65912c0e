package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{CuratePipeline, Curation, Clusters, Dedup, DeconIndex}

/** The end-to-end curation capstone: the composed funnel must agree
  * stage-for-stage with the standalone gated operators it wires
  * together, and the packed output must be a valid packing. */
class CuratePipelineSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def curate(deconN: Int = 5,
      deconIndex: Option[DeconIndex.DeconIndex] = None) =
    CuratePipeline.curate(
      docs, "doc_id", "text", "lang", "source", col("n_chars"),
      benchSources = Seq("src0", "src1"),
      shingleK = 3, tau = 0.6,
      minWords = 10, maxWords = 50000, minSentences = 0,
      bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
      wTokenLen = 0.1, wPunct = -4.0,
      maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05,
      deconN = deconN, bloomBits = 1 << 22, bloomHashes = 3,
      langShares = Map("en" -> 0.25, "de" -> 0.35), defaultRate = 0.6,
      epochShares = Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.05),
      budgetFactor = 1.0, maxEpochs = 4.0,
      nShards = 8, packBudget = 2048,
      deconIndex = deconIndex)

  private lazy val cur = curate()

  /** The boundary leaves, in the order of their persisted frames. */
  private def leaves(c: CuratePipeline.Curated) =
    Seq(c.deduped, c.quality, c.deconned, c.mixed, c.packed)

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  private lazy val report = cur.report.collect().head

  test("dedup stage matches the standalone dedup_keep operator") {
    val drop = Clusters.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6),
        "doc_a", "doc_b")
      .filter(col("node") =!= col("cluster_id"))
    val standalone = docs.join(drop, docs("doc_id") === drop("node"),
      "left_anti")
    assert(report.getAs[Long]("n_raw") === docs.count())
    assert(report.getAs[Long]("n_dedup") === standalone.count())
    assert(cur.deduped.select("doc_id").except(
      standalone.select("doc_id")).isEmpty)
  }

  test("quality-stage attrition matches the standalone quality_report " +
      "funnel over the dedup survivors") {
    // the standalone quality_report aggregation, re-rooted at the
    // pipeline's dedup survivors: its survivor count must equal the
    // pipeline's own quality-stage count, and its per-gate kill
    // arithmetic must account for the stage's attrition exactly
    val ens = Curation.qualityEnsemble(cur.deduped, "doc_id", "text",
      minWords = 10, maxWords = 50000, minSentences = 0,
      bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
      wTokenLen = 0.1, wPunct = -4.0,
      maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05)
    val fun = ens.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("survivors"),
      sum(when(!col("c4_keep") || !col("clf_keep") || !col("rep_ok"), 1L)
        .otherwise(0L)).as("killed_any")).collect().head
    assert(fun.getAs[Long]("n_docs") === report.getAs[Long]("n_dedup"))
    assert(fun.getAs[Long]("survivors") === report.getAs[Long]("n_quality"))
    assert(fun.getAs[Long]("killed_any") ===
      report.getAs[Long]("n_dedup") - report.getAs[Long]("n_quality"))
  }

  test("decon stage drops benchmark sources and Bloom-flagged docs only") {
    val survivors = cur.deconned
    // no benchmark-source doc ships
    assert(survivors.filter(col("source").isin("src0", "src1")).isEmpty)
    // exactly the standalone Bloom probe's unflagged survivors remain
    val corpus2 = cur.quality.filter(!col("source").isin("src0", "src1"))
    val flags = Curation.contaminationFlagsBloom(
      corpus2, docs.filter(col("source").isin("src0", "src1")),
      "doc_id", "text", n = 5, numBits = 1 << 22, kHashes = 3)
    assert(report.getAs[Long]("n_decon") ===
      flags.filter(!col("flagged")).count())
  }

  test("epoch expansion count matches the epochs frame") {
    val expected = cur.epochs.agg(
      sum(when(col("n_copies") >= 1, col("n_copies").cast("long"))
        .otherwise(0L))).collect().head.getLong(0)
    assert(report.getAs[Long]("n_copies") === expected)
    assert(cur.packed.count() === expected)
  }

  test("packed output is a valid deterministic packing") {
    val p = cur.packed.collect()
    // positions are 1..n contiguous per shard
    p.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      val pos = rows.map(_.getAs[Int]("pos")).sorted
      assert(pos.toSeq === (1 to rows.length))
      // pack_id replays the preceding-cumsum rule in pos order
      var cum = 0L
      rows.sortBy(_.getAs[Int]("pos")).foreach { r =>
        assert(r.getAs[Long]("pack_id") === cum / 2048,
          s"pack_id mismatch at shard ${r.getAs[Long]("shard")} " +
            s"pos ${r.getAs[Int]("pos")}")
        cum += r.getAs[Int]("n_tokens")
      }
    }
    // report's writer stats agree with the packed frame
    assert(report.getAs[Long]("n_packs") ===
      p.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id")))
        .distinct.length)
    assert(report.getAs[Long]("n_tokens") ===
      p.map(_.getAs[Int]("n_tokens").toLong).sum)
  }

  test("a doc's epoch copies spread across shards") {
    // shard hashes (copy ':' text): any doc with >= 2 copies whose
    // copies all collapsed to one shard for EVERY such doc would mean
    // the copy index never reached the hash — require at least one
    // multi-copy doc to split (statistical, but deterministic for
    // this fixed corpus)
    val multi = cur.packed.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("shard")).as("ns"))
      .filter(col("n") >= 2)
    if (multi.count() >= 3)
      assert(multi.filter(col("ns") >= 2).count() >= 1,
        "no multi-copy doc spread across shards — copy index lost " +
          "from the shard hash")
  }

  test("a standing decon index plugs into the funnel flag-identically") {
    // the index is built ONCE from the benchmark slice (the
    // deconIndexWrite land-time path); the pipeline then re-aggregates
    // its Bloom from stored hashes instead of re-shingling benchmark
    // text — identical packed output and funnel report
    val ix = DeconIndex.deconIndexBuild(
      docs.filter(col("source").isin("src0", "src1")), "doc_id", "text", 5)
    val viaIndex = curate(deconIndex = Some(ix))
    try {
      assert(rows(viaIndex.packed) === rows(cur.packed),
        "index-backed decon must be flag-identical")
      // a width-mismatched index must refuse, not silently no-match
      intercept[IllegalArgumentException] {
        curate(deconN = 7, deconIndex = Some(ix))
      }
    } finally {
      viaIndex.release()
      ix.release()
    }
  }

  test("stage boundaries are leaves: no plan re-prints its upstream") {
    // the session's 64 KB cap lifted, so the full text is measured
    val key = "spark.sql.maxPlanStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (1 << 28).toString)
    try {
      for ((name, df) <- Seq("report" -> cur.report, "packed" -> cur.packed)) {
        val n = df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).length
        assert(n < 64 * 1024, s"$name's formatted plan is $n chars")
      }
    } finally spark.conf.set(key, prev)
  }

  test("each leaf reads its boundary's cache") {
    def scans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: InMemoryTableScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    assert(cur.cached.size === 5)
    cur.cached.foreach { df =>
      assert(scans(df.queryExecution.executedPlan).nonEmpty,
        "a boundary leaf must read the persisted frame, not recompute it")
    }
  }

  test("a leaf carries its boundary's size estimate") {
    leaves(cur).zip(cur.cached).foreach { case (leaf, origin) =>
      assert(leaf.queryExecution.optimizedPlan.stats.sizeInBytes ===
        origin.queryExecution.optimizedPlan.stats.sizeInBytes)
    }
  }

  test("a leaf keeps its lineage: released and lost blocks recompute") {
    val c = curate()
    val before = leaves(c).map(rows)
    c.release()
    // lose every block the leaves' own RDDs hold, as when the
    // executor that stored them dies: a checkpoint-backed leaf has
    // nothing left to read, a lineage-backed one recomputes
    leaves(c).foreach(_.queryExecution.analyzed.collectLeaves().foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    })
    assert(leaves(c).map(rows) === before)
  }

  test("release unpersists the stage caches") {
    assert(cur.isLive)
    cur.release()
    assert(!cur.isLive)
    assert(cur.cached.nonEmpty)
    assert(cur.cached.forall(_.storageLevel === StorageLevel.NONE))
  }
}
