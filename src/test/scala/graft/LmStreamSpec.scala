package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Boundary
import graft.sources.Tables
import graft.streaming.LmStream
import graft.streaming.LmStream.Doc

/** Frozen-LM streaming quality scoring: the model is trained once on
  * the corpus; arriving docs score against it, batch-independently. */
class LmStreamSpec extends SparkSpec {
  import spark.implicits._

  implicit private def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("frozen LM scores: corpus-typical order beats scrambled, OOV stays finite") {
    val phrase = "the quick brown fox jumps over the lazy dog"
    val corpus = (1L to 20L).map(i => (i, phrase)).toDF("doc_id", "text")
    val model = LmStream.trainLm(corpus, "doc_id", Text.tokens(col("text")))
    try {
      val probe = Seq(
        Doc(100L, phrase),
        Doc(101L, "dog the brown lazy jumps fox quick over the"),
        Doc(102L, "entirely unseen vocabulary right here today")).toDF()
      val out = LmStream.scoreBatch(model, probe, "doc_id",
          Text.tokens(col("text")), lambda = 0.9)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
      assert(out(100L) > out(101L), "frozen LM must prefer corpus word order")
      assert(out(101L) > out(102L), "in-vocab beats out-of-vocab")
      assert(!out(102L).isNegInfinity && !out(102L).isNaN,
        "OOV must stay finite (add-one floor)")
    } finally model.release()
  }

  test("streamed scoring over batches ≡ one-shot batch scoring (frozen model)") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val streamDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id"), col("text")).as[Doc].collect().sortBy(_.doc_id).toSeq
    val model = LmStream.trainLm(corpus, "doc_id", Text.tokens(col("text")))
    try {
      val expected = LmStream.scoreBatch(model, streamDocs.toDF(), "doc_id",
          Text.tokens(col("text")), lambda = 0.9)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(expected.nonEmpty)
      val got = scala.collection.mutable.Map.empty[Long, (Long, Double)]
      val mem = MemoryStream[Doc]
      val q = LmStream.scoreQuery(mem.toDS(), model, lambda = 0.9) { scored =>
        scored.as[(Long, Long, Double)].collect()
          .foreach(r => got(r._1) = (r._2, r._3))
      }
      try {
        val size = math.max(1, streamDocs.size / 3)
        streamDocs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      // exact-equality caveat: avg() folds a doc's log terms in
      // partial-aggregation order, so the two runs can differ at the
      // ulp and, on a .00005 rounding boundary, by one 4dp step —
      // compare with that tolerance, not set equality
      assert(got.keySet === expected.keySet)
      got.foreach { case (id, (n, score)) =>
        assert(n === expected(id)._1, s"doc $id bigram count")
        assert(math.abs(score - expected(id)._2) <= 1e-4 + 1e-9,
          s"doc $id: streamed $score vs batch ${expected(id)._2}")
      }
    } finally model.release()
  }

  // ---- mergeLm: exact additive refresh ----

  private def toks = Text.tokens(col("text"))

  private def scoresOf(model: LmStream.LmModel, probe: org.apache.spark.sql.DataFrame) =
    LmStream.scoreBatch(model, probe, "doc_id", toks, lambda = 0.9)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

  test("mergeLm(trainLm(A), trainLm(B)) has bit-identical count tables to trainLm(A ∪ B)") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val ma = LmStream.trainLm(a, "doc_id", toks)
    val mb = LmStream.trainLm(b, "doc_id", toks)
    val merged = LmStream.mergeLm(ma, mb)
    val full = LmStream.trainLm(docs, "doc_id", toks)
    try {
      assert(merged.total === full.total)
      assert(merged.vocab === full.vocab)
      // integer count tables as SETS — the strongest possible parity
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long)].collect().toSet
      assert(rows(merged.unigram) === rows(full.unigram))
      assert(rows(merged.bigram) === rows(full.bigram))
      assert(rows(merged.prefix) === rows(full.prefix))
    } finally { ma.release(); mb.release(); merged.release(); full.release() }
  }

  // ---- LmLoop: frozen generations, exact refresh ----

  test("LmLoop: scores freeze between refreshes; refresh ≡ retrain on corpus ∪ landed; empty refresh is a no-op") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val probe = docs.filter(pmod(col("doc_id"), lit(3)) === 2).limit(20)
      .persist(); probe.count()
    val loop = new graft.streaming.LmLoop(
      LmStream.trainLm(corpus, "doc_id", toks), lambda = 0.9)
    try {
      val before = scoresOf(loop.current, probe)
      // empty refresh: nothing landed → the generation is untouched
      val gen0 = loop.current
      loop.refresh()
      assert(loop.current eq gen0, "empty refresh must not swap generations")

      val scored = loop.ingest(0L, batch)
      assert(scored.count() > 0); Boundary.release(scored)
      assert(loop.pendingBatches === 1)
      // FROZEN: landing a batch must not move any probe score
      assert(scoresOf(loop.current, probe) === before,
        "scores drifted before refresh — the generation leaked")
      // at-least-once replay: the SAME batchId re-delivered must not
      // land twice (a double-land would double its n-gram counts in
      // the refreshed model forever)
      Boundary.release(loop.ingest(0L, batch))
      assert(loop.pendingBatches === 1, "replayed batch landed twice")

      loop.refresh()
      assert(loop.pendingBatches === 0)
      val after = scoresOf(loop.current, probe)
      val fullModel = LmStream.trainLm(corpus.union(batch), "doc_id", toks)
      val expected = scoresOf(fullModel, probe)
      fullModel.release()
      assert(after.keySet === expected.keySet)
      after.foreach { case (id, (n, s)) =>
        assert(n === expected(id)._1, s"doc $id bigram count")
        // same avg-fold tolerance as the streamed-scoring spec
        assert(math.abs(s - expected(id)._2) <= 1e-4 + 1e-9,
          s"doc $id: refreshed $s vs from-scratch ${expected(id)._2}")
      }
      // and the refresh actually changed something (novel vocab landed)
      assert(after !== before, "refresh had no observable effect")
    } finally { loop.release(); probe.unpersist() }
  }

  // ---- durable write/load ----

  test("lmWrite → lmLoad roundtrips scores; guard directions throw") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val model = LmStream.trainLm(docs, "doc_id", toks)
    val probe = docs.limit(15)
    val expected = scoresOf(model, probe)
    val specTables = Seq("lm_uni_t", "lm_bi_t", "lm_pre_t",
      "lm_not_an_lm", "lm_uni_h", "lm_bi_h", "lm_pre_h")
    dropTables(specTables: _*)
    try {
      LmStream.lmWrite(model, "lm_uni_t", "lm_bi_t", "lm_pre_t")
      val loaded = LmStream.lmLoad(spark, "lm_uni_t", "lm_bi_t", "lm_pre_t")
      assert(loaded.total === model.total && loaded.vocab === model.vocab)
      assert(scoresOf(loaded, probe) === expected)
      // guard: a non-lmWrite table must throw
      spark.range(1).select(col("id").as("token_h"), col("id").as("ucnt"))
        .write.mode("overwrite").saveAsTable("lm_not_an_lm")
      intercept[IllegalArgumentException] {
        LmStream.lmLoad(spark, "lm_not_an_lm", "lm_bi_t", "lm_pre_t")
      }
      // guard: mixing tables from two different landed models throws
      val half = LmStream.trainLm(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", toks)
      LmStream.lmWrite(half, "lm_uni_h", "lm_bi_h", "lm_pre_h")
      half.release()
      intercept[IllegalArgumentException] {
        LmStream.lmLoad(spark, "lm_uni_h", "lm_bi_t", "lm_pre_t")
      }
      // guard: a stamp this loader does not understand throws
      spark.sql("ALTER TABLE lm_pre_t SET TBLPROPERTIES " +
        "('graft.lm.futurePolicy'='x')")
      intercept[IllegalArgumentException] {
        LmStream.lmLoad(spark, "lm_uni_t", "lm_bi_t", "lm_pre_t")
      }
    } finally {
      model.release()
      dropTables(specTables: _*)
    }
  }

  // ---- refreshing streaming driver ----

  test("refreshingScoreQuery: batch N scores under generations that saw batches < N only") {
    val phrase = "alpha beta gamma delta"
    val corpus = (1L to 10L).map(i => (i, phrase)).toDF("doc_id", "text")
    val loop = new graft.streaming.LmLoop(
      LmStream.trainLm(corpus, "doc_id", toks), lambda = 0.9)
    try {
      // batch 1 plants novel vocabulary; batch 2 contains a probe doc
      // made entirely of that vocabulary. With refreshEvery = 1 the
      // loop refreshes after batch 1, so batch 2's probe must score
      // as under trainLm(corpus ∪ batch1) — not under the original
      // corpus (OOV floor), not under a model that saw batch 2.
      val b1 = Seq(Doc(100L, "epsilon zeta epsilon zeta epsilon"))
      val b2 = Seq(Doc(200L, "epsilon zeta epsilon"), Doc(201L, phrase))
      val got = scala.collection.mutable.Map.empty[Long, Double]
      val mem = MemoryStream[Doc]
      val q = LmStream.refreshingScoreQuery(mem.toDS(), loop, refreshEvery = 1) {
        scored => scored.as[(Long, Long, Double)].collect()
          .foreach(r => got(r._1) = r._3)
      }
      try {
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
      val withB1 = LmStream.trainLm(
        corpus.union(b1.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")),
        "doc_id", toks)
      val expected = scoresOf(withB1,
        b2.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      withB1.release()
      assert(math.abs(got(200L) - expected(200L)._2) <= 1e-4 + 1e-9,
        s"batch-2 probe must score under corpus ∪ batch1: ${got(200L)} vs ${expected(200L)._2}")
      assert(math.abs(got(201L) - expected(201L)._2) <= 1e-4 + 1e-9)
      // batch 1 itself scored under the ORIGINAL corpus (pure OOV):
      // every probe token unseen there, so its score must be strictly
      // below what the refreshed model would give it
      val refreshedB1 = scoresOf(loop.current,
        b1.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      assert(got(100L) < refreshedB1(100L)._2,
        "batch 1 must have scored under the generation that had not seen it")
    } finally loop.release()
  }

  test("LmLoop.checkpointTo folds pending and persists the ledger; " +
      "a resumed loop never re-lands a checkpointed batch") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    dropTables("lm_ck_uni", "lm_ck_bi", "lm_ck_pre")
    val loop = new graft.streaming.LmLoop(
      LmStream.trainLm(corpus, "doc_id", toks), lambda = 0.9)
    try {
      Boundary.release(loop.ingest(0L, batch))
      assert(loop.pendingBatches === 1)
      // checkpoint WITHOUT an explicit refresh: the pending batch
      // must fold into the landed model, not silently miss it
      loop.checkpointTo("lm_ck_uni", "lm_ck_bi", "lm_ck_pre")
      assert(loop.pendingBatches === 0,
        "checkpointTo must refresh before writing")
      val landed = LmStream.lmLoad(spark, "lm_ck_uni", "lm_ck_bi", "lm_ck_pre")
      val full = LmStream.trainLm(corpus.union(batch), "doc_id", toks)
      assert(landed.total === full.total && landed.vocab === full.vocab,
        "checkpoint missed the pending batch's counts")
      full.release()
      // driver restart: the stream checkpoint re-delivers batch 0 —
      // the resumed loop's durable ledger must refuse the re-land
      val resumed = graft.streaming.LmLoop.resume(
        spark, "lm_ck_uni", "lm_ck_bi", "lm_ck_pre", lambda = 0.9)
      Boundary.release(resumed.ingest(0L, batch))
      assert(resumed.pendingBatches === 0,
        "re-delivered checkpointed batch landed again after resume")
      // a genuinely NEW batch id still lands
      Boundary.release(resumed.ingest(1L, batch.limit(3)))
      assert(resumed.pendingBatches === 1)
    } finally {
      loop.release()
      dropTables("lm_ck_uni", "lm_ck_bi", "lm_ck_pre")
    }
  }
}
