package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Boundary, CdcIndex, CuratePipeline, Curation, DeconIndex, Dedup, Graph, Tier}
import graft.sources.Tables

/** The one cache boundary: every result an operator returns is a
  * filled leaf that one `Boundary.release` frees, a leaf recomputes a
  * lost block from lineage, and no operator result re-prints its
  * upstream plan. */
class BoundarySpec extends SparkSpec {

  private def cacheEmpty: Boolean = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager.isEmpty

  /** Persisted RDDs other than local checkpoints: lineage truncation
    * inside the connected-components loop and the substring index's
    * tombstones is not a cache boundary. Compared as "nothing added":
    * the context cleaner may drop older ones at any time. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)
  private def isBatch(id: String) = pmod(col(id), lit(10)) === 3

  private def curated(): CuratePipeline.Curated =
    CuratePipeline.curate(
      docs, "doc_id", "text", "lang", "source", col("n_chars"),
      benchSources = Seq("src0", "src1"),
      shingleK = 3, tau = 0.6,
      minWords = 10, maxWords = 50000, minSentences = 0,
      bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
      wTokenLen = 0.1, wPunct = -4.0,
      maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05,
      deconN = 5, bloomBits = 1 << 22, bloomHashes = 3,
      langShares = Map("en" -> 0.25, "de" -> 0.35), defaultRate = 0.6,
      epochShares = Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.05),
      budgetFactor = 1.0, maxEpochs = 4.0,
      nShards = 8, packBudget = 2048)

  test("(a) a released operator result leaves no cache behind") {
    spark.catalog.clearCache()
    val baseline = persisted
    val corpus = docs.filter(!isBatch("doc_id"))
    val batch = docs.filter(isBatch("doc_id"))
    val toks = Text.tokens(col("text"))
    val edgeDf = spark.createDataFrame(
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))).toDF("a", "b")
    val sparseFeats = spark.createDataFrame((0 until 40).flatMap { i =>
      val y = if (i % 3 == 0) 1.0 else 0.0
      Seq((i.toLong, y, 0L, 1.0), (i.toLong, y, (i % 4 + 1).toLong, 0.5))
    }).toDF("doc_id", "y", "bucket", "value")
    def distributed[T](f: => T): T = Tier.pinned(spark, "distributed")(f)

    // a result and what to check and release once it is released
    type Run = () => (DataFrame, () => Unit)
    def plain(f: => DataFrame): Run = () => (f, () => ())
    // a probe over a standing index: releasing the probe's result must
    // leave the index live; the index's own release() then drops it
    def withIndex[I](build: => I, leaves: I => Seq[DataFrame],
        release: I => Unit)(probe: I => DataFrame): Run = () => {
      val ix = build
      (probe(ix), () => {
        leaves(ix).foreach(l => assert(Boundary.isLive(l),
          "releasing a probe result dropped its standing index"))
        release(ix)
      })
    }

    val results: Seq[(String, Run)] = Seq(
      "ngramJaccardPairs" -> plain(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)),
      "ngramJaccardPairs distributed" -> plain(distributed(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6))),
      "containmentPairs" -> plain(
        Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.8)),
      "containmentPairs distributed" -> plain(distributed(
        Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.8))),
      "cdcDocStats" -> plain(Dedup.cdcDocStats(docs, "doc_id", "text", 4, 8, 4)),
      "minhashLshPairs" -> plain(
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)),
      "minhashLshIncremental" -> plain(Dedup.minhashLshIncremental(
        corpus, batch, "doc_id", "text", 3, 64, 16, 0.5)),
      "embeddingPairsLsh" -> plain(Dedup.embeddingPairsLsh(
        emb, "vec_id", "embedding", 64, 4, 8, 42L, 0.4)),
      "embeddingPairsLsh distributed" -> plain(distributed(Dedup.embeddingPairsLsh(
        emb, "vec_id", "embedding", 64, 4, 8, 42L, 0.4))),
      "editDistancePairs" -> plain(Dedup.editDistancePairs(docs, "doc_id", "text",
        maxDist = 32, lenBucket = 32, maxBlock = Dedup.CapPolicy.Fixed(1000))),
      "perplexityBuckets" -> plain(distributed(
        Curation.perplexityBuckets(docs, "doc_id", toks, 0.8))),
      "pmiCollocations" -> plain(
        Curation.pmiCollocations(docs, col("text"), 2, 5L)),
      "pmiCollocations distributed" -> plain(distributed(
        Curation.pmiCollocations(docs, col("text"), 2, 5L))),
      "logisticTrainSparse" -> plain(Curation.logisticTrainSparse(
        sparseFeats, "doc_id", "y", "bucket", "value", iters = 3)),
      "dsirWeights" -> plain(Curation.dsirWeights(
        docs, "doc_id", col("text"), col("lang") === "en", 32)),
      "dsirWeightsSparse" -> plain(Curation.dsirWeightsSparse(
        docs, "doc_id", col("text"), col("lang") === "en", 32)),
      "triangleCensus" -> plain(Graph.triangleCensus(edgeDf, "a", "b")),
      "triangleCensus distributed" -> plain(
        distributed(Graph.triangleCensus(edgeDf, "a", "b"))),
      "hotSupplierGraph" -> plain(SparkEntry.hotSupplierGraph(spark, sfDir)),
      "minhashProbe" -> withIndex(
        Dedup.minhashIndex(corpus, "doc_id", "text", 3, 64, 16),
        (ix: Dedup.MinhashIndex) => Seq(ix.sigs, ix.banded),
        (ix: Dedup.MinhashIndex) => ix.release())(
        Dedup.minhashProbe(_, batch, "doc_id", "text", 0.5)),
      "substringProbe" -> withIndex(
        Dedup.substringIndex(corpus, "doc_id", "text", 20),
        (ix: Dedup.SubstringIndex) => Seq(ix.hashes, ix.members),
        (ix: Dedup.SubstringIndex) => ix.release())(
        Dedup.substringProbe(_, batch, "doc_id", "text")),
      "embeddingProbe" -> withIndex(
        Dedup.embeddingIndex(emb.filter(!isBatch("vec_id")), "vec_id",
          "embedding", 64, 4, 8, 42L),
        (ix: Dedup.EmbeddingLshIndex) => Seq(ix.vecs, ix.banded),
        (ix: Dedup.EmbeddingLshIndex) => ix.release())(
        Dedup.embeddingProbe(_, emb.filter(isBatch("vec_id")),
          "vec_id", "embedding", 0.4)),
      "embeddingPairsFromIndex" -> withIndex(
        Dedup.embeddingIndex(emb, "vec_id", "embedding", 64, 4, 8, 42L),
        (ix: Dedup.EmbeddingLshIndex) => Seq(ix.vecs, ix.banded),
        (ix: Dedup.EmbeddingLshIndex) => ix.release())(
        Dedup.embeddingPairsFromIndex(_, 0.4)),
      "cdcProbeFromIndex" -> withIndex(
        CdcIndex.cdcIndexBuild(corpus, "doc_id", "text"),
        (_: CdcIndex.CdcIndex) => Nil,
        (ix: CdcIndex.CdcIndex) => ix.release())(
        CdcIndex.cdcProbeFromIndex(_, batch, "doc_id", "text")),
      "minhashPairsFromIndex" -> withIndex(
        Dedup.minhashIndex(corpus, "doc_id", "text", 3, 64, 16),
        (ix: Dedup.MinhashIndex) => Seq(ix.sigs, ix.banded),
        (ix: Dedup.MinhashIndex) => ix.release())(
        Dedup.minhashPairsFromIndex(_, 0.5)),
      "deconProbeFromIndex" -> withIndex(
        DeconIndex.deconIndexBuild(corpus, "doc_id", "text", 5),
        (ix: DeconIndex.DeconIndex) => Seq(ix.shingles, ix.members),
        (ix: DeconIndex.DeconIndex) => ix.release())(
        DeconIndex.deconProbeFromIndex(_, batch, "doc_id", "text")),
      "deconBloomFromIndex" -> withIndex(
        DeconIndex.deconIndexBuild(corpus, "doc_id", "text", 5),
        (ix: DeconIndex.DeconIndex) => Seq(ix.shingles, ix.members),
        (ix: DeconIndex.DeconIndex) => ix.release())(
        DeconIndex.deconBloomFromIndex(_, batch, "doc_id", "text", 1 << 16, 3)))

    for ((name, run) <- results; round <- 1 to 2) {
      val (out, after) = run()
      out.collect()
      Boundary.release(out)
      assert(!Boundary.isLive(out), s"$name (call $round) is still live")
      after()
      assert(cacheEmpty, s"$name (call $round) left a cache entry")
      assert((persisted -- baseline).isEmpty, s"$name (call $round) left a persisted RDD")
    }
    for (round <- 1 to 2) {
      val c = curated()
      c.packed.collect(); c.report.collect()
      c.release()
      assert(!c.isLive)
      assert(cacheEmpty, s"curate (call $round) left a cache entry")
      assert((persisted -- baseline).isEmpty, s"curate (call $round) left a persisted RDD")
    }
  }

  test("(b) a Dedup result leaf recomputes a lost cache from lineage") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
    def rows = pairs.orderBy("doc_a", "doc_b").collect().toSeq
    val before = rows
    assert(before.nonEmpty, "gate corpus should contain near-dups")
    // lose the cache the leaf reads, as when the executor holding its
    // blocks dies: a lineage-backed leaf recomputes the same rows
    Boundary.origin(pairs).get.unpersist(blocking = true)
    assert(!Boundary.isLive(pairs))
    assert(rows === before)
    Boundary.release(pairs)
  }

  test("a frame read before it is staged still reads its filled cache") {
    val df = docs.select(col("doc_id"), length(col("text")).as("n"))
    val expected = df.collect().toSet // plans and runs df's own QueryExecution
    val leaf = Boundary.stage(df)
    val (rows, record) = LayerCollector(spark).measure("leaf-read")(leaf.collect().toSet)
    assert(rows.get === expected)
    // a cache read counts its batches, a recompute every source row
    val read = record("sources.read_records").toLong
    assert(read < expected.size, s"the leaf re-read $read records")
    Boundary.release(leaf)
  }

  test("(c) dedup_recall and dedup_edit plans stay under 64 KB") {
    val key = "spark.sql.maxPlanStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (1 << 28).toString)
    try {
      for (name <- Seq("dedup_recall", "dedup_edit")) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val n = df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).length
        Boundary.release(df)
        assert(n < 64 * 1024, s"$name's formatted plan is $n chars")
      }
    } finally spark.conf.set(key, prev)
  }
}
