package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.functions.Text
import graft.operators.{Boundary, CdcIndex, Clusters, DeconIndex, Dedup, Tier}
import graft.sources.Tables
import graft.streaming.{ClusterStream, DsirLoop, DsirStream, LmLoop, LmStream, TextClusterStream}

/** Standing state swaps generations through `Boundary`: releasing an
  * index or a loop frees every generation it swapped through, local
  * checkpoints included, and the streaming caches leave nothing
  * behind once released. */
class GenerationReleaseSpec extends SparkSpec {

  /** Every persisted RDD, local checkpoints included. Compared as
    * "nothing added": the context cleaner may drop older ones. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cacheEmpty: Boolean = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager.isEmpty

  // every generation's frames stay referenced until the suite ends, so
  // the context cleaner cannot free their blocks behind the asserts
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  private lazy val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
  private lazy val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def part(id: String, r: Int): Column = pmod(col(id), lit(10)) === r

  /** Nothing persisted since `baseline` is left. A loop-internal
    * truncation (the CC rounds' local checkpoints) is garbage once its
    * loop returns and the context cleaner frees it after a GC; a
    * generation is still referenced here, so only its release frees it. */
  private def assertFreed(what: String, baseline: Set[Int]): Unit =
    eventually(timeout(20.seconds), interval(500.millis)) {
      System.gc()
      val left = persisted -- baseline
      assert(left.isEmpty, s"$what left ${left.size} persisted RDDs: ${left.toSeq.sorted}")
    }

  test("releasing an index frees every generation it swapped through") {
    val corpus = docs.filter(!part("doc_id", 3))
    val batch = docs.filter(part("doc_id", 3))
    val victims = docs.filter(part("doc_id", 7)).select("doc_id")
    def lifecycle[I](name: String)(build: => I, frames: I => Seq[DataFrame])(
        append: I => I, remove: I => I, release: I => Unit): Unit = {
      val baseline = persisted
      val built = build
      held ++= frames(built)
      val appended = append(built)
      held ++= frames(appended)
      val removed = remove(appended)
      held ++= frames(removed)
      release(removed)
      assertFreed(s"$name build → append → remove → release()", baseline)
    }

    lifecycle("MinHash index")(
      Dedup.minhashIndex(corpus, "doc_id", "text", 3, 64, 16),
      (ix: Dedup.MinhashIndex) => Seq(ix.sigs, ix.banded))(
      Dedup.minhashIndexAppend(_, batch, "doc_id", "text"),
      Dedup.minhashIndexRemove(_, victims, "doc_id"), _.release())
    lifecycle("substring index")(
      Dedup.substringIndex(corpus, "doc_id", "text", 20),
      (ix: Dedup.SubstringIndex) => Seq(ix.hashes, ix.members, ix.tombs))(
      Dedup.substringIndexAppend(_, batch, "doc_id", "text"),
      Dedup.substringIndexRemove(_, victims, "doc_id"), _.release())
    lifecycle("embedding index")(
      Dedup.embeddingIndex(emb.filter(!part("vec_id", 3)), "vec_id", "embedding",
        64, 4, 8, 42L),
      (ix: Dedup.EmbeddingLshIndex) => Seq(ix.vecs, ix.banded))(
      Dedup.embeddingIndexAppend(_, emb.filter(part("vec_id", 3)), "vec_id", "embedding"),
      Dedup.embeddingIndexRemove(_, emb.filter(part("vec_id", 7)).select("vec_id"),
        "vec_id"), _.release())
    lifecycle("CDC index")(
      CdcIndex.cdcIndexBuild(corpus, "doc_id", "text"),
      (ix: CdcIndex.CdcIndex) => Seq(ix.chunks, ix.members))(
      CdcIndex.cdcIndexAppend(_, batch, "doc_id", "text"),
      CdcIndex.cdcIndexRemove(_, victims, "doc_id"), _.release())
    lifecycle("decon index")(
      DeconIndex.deconIndexBuild(docs.filter(col("source") === "src0"),
        "doc_id", "text", 5),
      (ix: DeconIndex.DeconIndex) => Seq(ix.shingles, ix.members))(
      DeconIndex.deconIndexAppend(_, docs.filter(col("source") === "src1"), "doc_id", "text"),
      DeconIndex.deconIndexRemove(_, victims, "doc_id"), _.release())
  }

  test("releasing a cluster loop frees every labeling, index and tomb generation") {
    val baseline = persisted
    val loop = ClusterStream.empty(spark, "vec_id", "embedding", 64, 4, 8, 42L, 0.4)
    for (r <- 0 until 3) {
      Boundary.release(loop.ingest(emb.filter(pmod(col("vec_id"), lit(3)) === r)))
      held ++= Seq(loop.labels, loop.standingIndex.vecs, loop.standingIndex.banded)
    }
    Boundary.release(loop.retract(emb.filter(part("vec_id", 7)).select("vec_id")))
    held += loop.labels
    loop.release()
    assertFreed("ClusterStream: three ingests, one retract, release()", baseline)

    val text = TextClusterStream.empty(spark, "doc_id", "text", 3, 64, 16, 0.5)
    for (r <- 0 until 3) {
      Boundary.release(text.ingest(docs.filter(pmod(col("doc_id"), lit(3)) === r)))
      held ++= Seq(text.labels, text.standingIndex.sigs, text.standingIndex.banded)
    }
    Boundary.release(text.retract(docs.filter(part("doc_id", 7)).select("doc_id")))
    held += text.labels
    text.release()
    assertFreed("TextClusterStream: three ingests, one retract, release()", baseline)
  }

  test("an embedding retract caches its pair rows once") {
    val loop = ClusterStream.empty(spark, "vec_id", "embedding", 64, 4, 8, 42L, 0.4)
    Boundary.release(loop.ingest(emb))
    // a cache's RDD is named after the plan it holds: pair caches
    // carry the vec_a column, the labeling and the delta do not
    val pairCaches = mutable.Set.empty[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach { r =>
          if (r.storageLevel.isValid && r.name.contains("vec_a"))
            pairCaches.synchronized(pairCaches += r.id)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val delta = try {
      val d = loop.retract(emb.filter(part("vec_id", 7)).select("vec_id"))
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(delta.count() > 0, "the retract should emit tombstones")
    Boundary.release(delta)
    loop.release()
    assert(pairCaches.size === 1, s"pair caches filled by one retract: $pairCaches")
  }

  private def toks = Text.tokens(col("text"))

  test("LmLoop's standing bigram plan does not grow with refreshes") {
    val key = "spark.sql.maxPlanStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (1 << 28).toString)
    val loop = new LmLoop(
      LmStream.trainLm(docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", toks), 0.9)
    try {
      val lens = (1 to 4).map { r =>
        Boundary.release(loop.ingest(r.toLong, docs.filter(pmod(col("doc_id"), lit(5)) === r)))
        loop.refresh()
        loop.current.bigram.queryExecution
          .explainString(ExplainMode.fromString("formatted")).length
      }
      assert(lens.last <= lens.head, s"formatted plan chars after refreshes 1-4: $lens")
    } finally {
      loop.release()
      spark.conf.set(key, prev)
    }
  }

  test("released LmLoop and DsirLoop state leaves no cache behind") {
    spark.catalog.clearCache()
    val baseline = persisted
    def batch(r: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === r)
    val lm = new LmLoop(LmStream.trainLm(batch(0), "doc_id", toks), 0.9)
    Boundary.release(lm.ingest(1L, batch(1)))
    Boundary.release(lm.ingest(1L, batch(1))) // replay: scored, not landed
    lm.refresh()
    Boundary.release(lm.ingest(2L, batch(2))) // landed, never refreshed
    lm.release()
    assert(cacheEmpty, "LmLoop left a cache entry")
    assertFreed("LmLoop", baseline)

    val tgt = col("source") === "src0"
    val dsir = new DsirLoop(DsirStream.train(batch(0), "doc_id", col("text"), tgt, 32))
    Boundary.release(dsir.ingest(1L, batch(1), tgt))
    dsir.refresh()
    Boundary.release(dsir.ingest(2L, batch(2), tgt))
    assert(cacheEmpty, "DsirLoop left a cache entry")
    assertFreed("DsirLoop", baseline)
  }

  test("a distributed CC loop leaves only its returned labels' blocks") {
    val sess = spark
    import sess.implicits._
    val chain = (1L until 48L).map(i => (i, i + 1)).toDF("a", "b")
    def cc(maxIter: Int) = Tier.pinned(spark, "distributed")(
      Clusters.connectedComponents(chain, "a", "b", maxIter = maxIter))
    // the chain needs more than three rounds
    intercept[IllegalArgumentException](cc(3))
    val baseline = persisted
    val labels = cc(50)
    // no System.gc(): the loop itself frees what it superseded
    assert(persisted -- baseline ===
      ColumnBridge.leafRddIds(labels.queryExecution.analyzed).toSet)
    assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq === Seq(1L))
    assert(labels.count() === 48)
  }
}
