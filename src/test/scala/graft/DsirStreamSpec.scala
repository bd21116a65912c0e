package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Curation}
import graft.sources.Tables
import graft.streaming.{DsirLoop, DsirStream}
import graft.streaming.DsirStream.Doc

/** Continuous DSIR: frozen-generation scoring with exact additive
  * refresh (the LM-loop staleness contract over the selection
  * scorer's 2·B-long model). */
class DsirStreamSpec extends SparkSpec {
  import spark.implicits._

  implicit private def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val B = 32
  private def docs = Tables.documents(spark, sfDir)

  test("merge is exact: merge(train(A), train(B)) == train(A ∪ B)") {
    val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val tgt = col("lang") === "en"
    val merged = DsirStream.merge(
      DsirStream.train(a, "doc_id", col("text"), tgt, B),
      DsirStream.train(b, "doc_id", col("text"), tgt, B))
    val full = DsirStream.train(docs, "doc_id", col("text"), tgt, B)
    assert(merged.ct.toSeq === full.ct.toSeq)
    assert(merged.cr.toSeq === full.cr.toSeq)
  }

  test("scoreBatch(train(corpus), corpus) ≡ the batch operator exactly") {
    val tgt = col("lang") === "en"
    val m = DsirStream.train(docs, "doc_id", col("text"), tgt, B)
    val streamed = DsirStream.scoreBatch(m, docs, "doc_id", col("text"))
      .as[(Long, Double)].collect().toMap
    val batch = Curation.dsirWeights(docs, "doc_id", col("text"), tgt, B)
      .as[(Long, Double)].collect().toMap
    assert(streamed === batch)
  }

  test("loop: frozen between refreshes; refresh ≡ retrain on corpus ∪ landed") {
    val tgt = col("lang") === "en"
    val half = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val rest = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val probe = docs.limit(10)
    val loop = new DsirLoop(DsirStream.train(half, "doc_id", col("text"), tgt, B))
    def probeScores = DsirStream.scoreBatch(loop.current, probe, "doc_id",
      col("text")).as[(Long, Double)].collect().toMap
    val before = probeScores
    val scored = loop.ingest(0L, rest, tgt)
    Boundary.release(scored)
    // landed but not refreshed: scores unchanged (frozen generation)
    assert(probeScores === before)
    // at-least-once replay: the SAME batchId re-delivered must
    // re-score but never re-fold its counts
    Boundary.release(loop.ingest(0L, rest, tgt))
    loop.refresh()
    // after refresh: exactly the model trained on the union — a
    // double-folded replay would double rest's counts here
    val union = DsirStream.train(docs, "doc_id", col("text"), tgt, B)
    assert(loop.current.ct.toSeq === union.ct.toSeq)
    assert(loop.current.cr.toSeq === union.cr.toSeq)
    // idempotent: an empty refresh is a no-op reference-wise
    val gen = loop.current
    loop.refresh()
    assert(loop.current eq gen)
  }

  test("dsirWrite → dsirLoad roundtrips the model; guard directions throw") {
    val tgt = col("lang") === "en"
    val m = DsirStream.train(docs, "doc_id", col("text"), tgt, B)
    dropTables("dsir_spec", "dsir_not_a_model")
    try {
      DsirStream.dsirWrite(spark, m, "dsir_spec")
      val loaded = DsirStream.dsirLoad(spark, "dsir_spec")
      assert(loaded.ct.toSeq === m.ct.toSeq && loaded.cr.toSeq === m.cr.toSeq)
      // resumed loop scores identically
      val loop = DsirLoop.resume(spark, "dsir_spec")
      val probe = docs.limit(5)
      val a = DsirStream.scoreBatch(loop.current, probe, "doc_id", col("text"))
        .as[(Long, Double)].collect().toMap
      val b = DsirStream.scoreBatch(m, probe, "doc_id", col("text"))
        .as[(Long, Double)].collect().toMap
      assert(a === b)
      // guard: a non-dsirWrite table throws
      spark.range(3).selectExpr("CAST(id AS INT) AS b", "id AS ct", "id AS cr")
        .write.mode("overwrite").saveAsTable("dsir_not_a_model")
      intercept[IllegalArgumentException] {
        DsirStream.dsirLoad(spark, "dsir_not_a_model")
      }
      // guard: a stamped table whose rows disagree with the width
      spark.sql("ALTER TABLE dsir_not_a_model SET TBLPROPERTIES (" +
        "'graft.dsir.version'='1', 'graft.dsir.nbuckets'='32')")
      intercept[IllegalArgumentException] {
        DsirStream.dsirLoad(spark, "dsir_not_a_model")
      }
      // guard: a stamp this loader does not understand throws
      spark.sql("ALTER TABLE dsir_spec SET TBLPROPERTIES " +
        "('graft.dsir.futurePolicy'='x')")
      intercept[IllegalArgumentException] {
        DsirStream.dsirLoad(spark, "dsir_spec")
      }
    } finally dropTables("dsir_spec", "dsir_not_a_model")
  }

  test("streaming driver: batch N scores under a generation that saw batches < N only") {
    val corpus = ((1L to 10L).map(i => (i, "alpha beta gamma", true)) ++
      (11L to 20L).map(i => (i, "zeta eta theta", false)))
      .toDF("doc_id", "text", "target")
    val loop = new DsirLoop(DsirStream.train(corpus, "doc_id", col("text"),
      col("target"), B))
    // batch 1 floods the RAW-ONLY slice with novel vocabulary; batch
    // 2 re-scores a doc made of that vocabulary. With refreshEvery = 1
    // the same text must score LOWER in batch 2 (unseen vocab starts
    // at the smoothed OOV ceiling; the refresh teaches the model it
    // is raw-like) — and batch 1's own score must have used the
    // pre-batch-1 generation.
    val novel = "delta epsilon delta epsilon delta"
    val b1 = Seq(Doc(100L, novel, target = false))
    val b2 = Seq(Doc(200L, novel, target = false))
    val got = scala.collection.mutable.Map.empty[Long, Double]
    val mem = MemoryStream[Doc]
    val q = DsirStream.refreshingScoreQuery(mem.toDS(), loop, refreshEvery = 1) {
      scored => scored.as[(Long, Double)].collect()
        .foreach(r => got(r._1) = r._2)
    }
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // batch-1 score = the initial generation's score for novel text
    val init = DsirStream.train(corpus, "doc_id", col("text"), col("target"), B)
    val expB1 = DsirStream.scoreBatch(init,
      Seq((100L, novel)).toDF("doc_id", "text"), "doc_id", col("text"))
      .as[(Long, Double)].collect().head._2
    assert(got(100L) === expB1, "batch 1 must score under the pre-ingest generation")
    assert(got(200L) < got(100L),
      s"refresh must lower the raw-flooded vocab score: ${got(200L)} vs ${got(100L)}")
  }

  test("checkpointTo folds pending and persists the replay ledger; " +
      "a resumed loop never re-folds a checkpointed batch") {
    val tgt = col("lang") === "en"
    val half = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val rest = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    dropTables("dsir_ledger_spec")
    try {
      val loop = new DsirLoop(
        DsirStream.train(half, "doc_id", col("text"), tgt, B))
      Boundary.release(loop.ingest(0L, rest, tgt))
      // checkpoint WITHOUT an explicit refresh: the un-refreshed
      // pending delta must land in the checkpoint, not silently drop
      loop.checkpointTo(spark, "dsir_ledger_spec")
      val union = DsirStream.train(docs, "doc_id", col("text"), tgt, B)
      val landed = DsirStream.dsirLoad(spark, "dsir_ledger_spec")
      assert(landed.ct.toSeq === union.ct.toSeq)
      assert(landed.cr.toSeq === union.cr.toSeq)
      // driver restart: the stream checkpoint re-delivers batch 0 to
      // a RESUMED loop — its durable ledger must refuse the re-fold
      val resumed = DsirLoop.resume(spark, "dsir_ledger_spec")
      Boundary.release(resumed.ingest(0L, rest, tgt))
      resumed.refresh()
      assert(resumed.current.ct.toSeq === union.ct.toSeq,
        "re-delivered checkpointed batch double-folded after resume")
      assert(resumed.current.cr.toSeq === union.cr.toSeq)
      // a genuinely NEW batch id still folds
      Boundary.release(resumed.ingest(1L, rest.limit(5), tgt))
      resumed.refresh()
      assert(resumed.current.cr.sum > union.cr.sum,
        "post-checkpoint batch must fold on the resumed loop")
    } finally dropTables("dsir_ledger_spec")
  }
}
