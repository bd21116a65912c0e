package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Boundary, Tier}
import graft.sources.{StampedTables, Tables}

/** Streaming LM quality scoring — the continuous deployment shape of
  * [[graft.operators.Curation.interpLogProb]]: the n-gram LM is a
  * FROZEN artifact trained once on a reference corpus (and refreshed
  * offline — the standing-index pattern), and every arriving document
  * is scored against it at ingest. This is how CCNet-style quality
  * filters actually run: the model must NOT drift with the stream it
  * is filtering, so scoring is pure stream-static lookup.
  *
  * Because the model is frozen, a document's score is independent of
  * its batch — streamed scores over any batching equal the one-shot
  * batch scoring exactly (parity spec).
  */
object LmStream {

  case class Doc(doc_id: Long, text: String)

  /** Frozen hash-keyed LM tables (standing boundaries) + the two
    * corpus scalars. `vocab` counts distinct unigrams; unseen tokens
    * take add-one mass over (total + vocab + 1) — the +1 is the OOV
    * class, so every token (seen or not) gets positive probability
    * and no score is −∞. */
  final case class LmModel(bigram: DataFrame, prefix: DataFrame,
      unigram: DataFrame, total: Long, vocab: Long) {
    def release(): Unit = Seq(bigram, prefix, unigram).foreach(Boundary.release)
  }

  // bigram/unigram builders are SHARED with the batch operator
  // (Curation.bigramHashRows / unigramHashCounts) — one definition of
  // the tokenization + hash-seed convention, so frozen-LM scores can
  // never silently diverge from Curation.interpLogProb
  private def bigramRows(docs: DataFrame, idCol: String, tokens: Column): DataFrame =
    graft.operators.Curation.bigramHashRows(docs, idCol, tokens)

  /** Train (and materialize) the frozen LM: three map-side-combining
    * frequency aggregates over the corpus, 8-byte hash keys
    * throughout (the interpLogProb shapes), filled once as the
    * standing lookup tables. The corpus is tokenized twice (unigram
    * pass + bigram pass) and never again. */
  def trainLm(corpus: DataFrame, idCol: String, tokens: Column): LmModel = {
    val uni = Boundary.standing(
      graft.operators.Curation.unigramHashCounts(corpus, tokens))
    val withB = bigramRows(corpus, idCol, tokens)
    val bf = Boundary.standing(withB.groupBy("bigram_h").agg(count("*").as("bcnt")))
    val pf = Boundary.standing(withB.groupBy("prefix_h").agg(count("*").as("pcnt")))
    // two corpus scalars (land-time driver state, the centroid/codebook
    // pattern): total token occurrences and distinct vocab
    val Array(total, vocab) = uni
      .agg(sum("ucnt").cast("long"), count("*")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    LmModel(bf, pf, uni, total, vocab)
  }

  /** Exact additive merge of two frozen LMs — the standing-index
    * append analogue for the MODEL family (the answer
    * minhashIndexAppend gave the indexes in r4-r7): n-gram counts
    * are sums, so union → group-sum over the count tables of corpora
    * A and B yields tables IDENTICAL to training on A ∪ B — no
    * approximation, and A is never re-tokenized. total adds; vocab
    * is the merged table's row count (distinct union). Cost ∝ model
    * table sizes (vocab-bounded), never ∝ corpus — the property that
    * makes periodic refresh affordable at 100 TB standing state.
    * Returns a new filled model whose tables are plan leaves, so a
    * chain of merges keeps a constant plan; inputs stay live
    * (callers release). */
  def mergeLm(a: LmModel, b: LmModel): LmModel = {
    def merged(x: DataFrame, y: DataFrame, key: String, cnt: String) =
      Boundary.standing(x.select(col(key), col(cnt)).union(y.select(col(key), col(cnt)))
        .groupBy(key).agg(sum(cnt).as(cnt)))
    val bf = merged(a.bigram, b.bigram, "bigram_h", "bcnt")
    val pf = merged(a.prefix, b.prefix, "prefix_h", "pcnt")
    val uni = merged(a.unigram, b.unigram, "token_h", "ucnt")
    // distinct union vocab: the filled leaf's exact rowCount, no job
    LmModel(bf, pf, uni, a.total + b.total, Tier.rows(uni))
  }

  /** Version of the LM hash/tokenization convention (whitespace
    * tokens, xxhash64 seeds 1L/2L via Curation.bigramHashRows).
    * Bump if any of those change — a landed LM must hard-fail a
    * load from a session whose scorer would hash differently. */
  private[graft] val lmVersion = 1

  /** Land a frozen LM as three hash-bucketed tables (the durable
    * contract every standing index in this engine follows): bucketed
    * by their join key so a later session's [[scoreBatch]] joins
    * shuffle only the batch side. The corpus scalars and the hash
    * convention version are stamped as table properties and
    * validated both directions on load. */
  def lmWrite(model: LmModel, unigramTable: String, bigramTable: String,
      prefixTable: String, buckets: Int = 16,
      maxBatch: Option[Long] = None): Unit = {
    Tables.writeBucketed(model.unigram, unigramTable, "token_h", buckets)
    Tables.writeBucketed(model.bigram, bigramTable, "bigram_h", buckets)
    Tables.writeBucketed(model.prefix, prefixTable, "prefix_h", buckets)
    // each table's stamps — including the replay ledger's high-water
    // when checkpointing (r9 ADVICE) — land in ONE statement per
    // table: a crash mid-sequence leaves some table without its
    // version stamp, which lmLoad REFUSES loudly; there is no state
    // where a loadable model carries folded batches but no ledger
    StampedTables.stamp(model.unigram.sparkSession,
      Seq(unigramTable, bigramTable, prefixTable), "lm",
      Map("version" -> lmVersion, "total" -> model.total, "vocab" -> model.vocab) ++
        maxBatch.map("maxbatch" -> _))
  }

  /** Reattach a durable LM written by [[lmWrite]]. Each table must
    * carry the version + scalar stamps (a table not written by
    * lmWrite, or written under a different hash convention, throws),
    * and the three tables must agree on the scalars (mixing tables
    * from two different landed models would silently mis-normalize
    * every score). */
  def lmLoad(spark: org.apache.spark.sql.SparkSession, unigramTable: String,
      bigramTable: String, prefixTable: String): LmModel =
    loadStamped(spark, unigramTable, bigramTable, prefixTable)._1

  /** [[lmLoad]] plus the replay ledger's high-water stamp (-1 when the
    * tables carry none), from one read of the stamps. */
  private[streaming] def loadStamped(spark: org.apache.spark.sql.SparkSession,
      unigramTable: String, bigramTable: String, prefixTable: String): (LmModel, Long) = {
    val stamps = StampedTables.check(spark, Seq(unigramTable, bigramTable, prefixTable),
      "lm", Map("version" -> lmVersion), Seq("total", "vocab"), Seq("maxbatch"))
    (LmModel(spark.table(bigramTable), spark.table(prefixTable),
      spark.table(unigramTable), stamps("total").toLong, stamps("vocab").toLong),
      stamps.get("maxbatch").map(_.toLong).getOrElse(-1L))
  }

  /** Score one (micro-)batch against the frozen model:
    * avg ln(λ·P(w|prev) + (1−λ)·P_add1(w)) per doc, where
    * P(w|prev) = bcnt/pcnt (0 when the prefix or bigram is unseen —
    * the mixture backs off to the unigram) and
    * P_add1(w) = (ucnt+1)/(total+vocab+1) (positive for OOV tokens,
    * so scores are always finite). Docs with < 2 tokens drop out. */
  def scoreBatch(model: LmModel, batch: DataFrame, idCol: String,
      tokens: Column, lambda: Double): DataFrame = {
    require(lambda >= 0.0 && lambda < 1.0,
      s"lambda must be in [0,1) for OOV-safe scoring, got $lambda")
    val denom = (model.total + model.vocab + 1).toDouble
    bigramRows(batch, idCol, tokens)
      .join(model.bigram, Seq("bigram_h"), "left")
      .join(model.prefix, Seq("prefix_h"), "left")
      .join(model.unigram, Seq("token_h"), "left")
      .groupBy("doc_id")
      .agg(count("*").as("n_bigrams"),
        round(avg(log(
          lit(lambda) * coalesce(col("bcnt") / col("pcnt"), lit(0.0)) +
            lit(1.0 - lambda) *
              ((coalesce(col("ucnt"), lit(0L)) + 1) / lit(denom)))), 4)
          .as("avg_logprob"))
  }

  /** Drive [[scoreBatch]] per micro-batch via foreachBatch — the
    * ingest-time quality filter. Scores flow to the caller's sink
    * callback; the frozen tables are never recomputed or held as
    * streaming state. */
  def scoreQuery(stream: Dataset[Doc], model: LmModel, lambda: Double)(
      onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], _: Long) =>
        onBatch(scoreBatch(model, batch.toDF(), "doc_id",
          graft.functions.Text.tokens(col("text")), lambda))
      }
      .start()

  /** Drive an [[LmLoop]] per micro-batch: each batch scores against
    * the loop's CURRENT frozen generation and lands for the next
    * refresh; every `refreshEvery`-th batch triggers the
    * merge-and-swap AFTER its own scoring (a batch never influences
    * its own scores). Scored frames are boundary leaves — the
    * callback consumes them, then this driver releases them. */
  def refreshingScoreQuery(stream: Dataset[Doc], loop: LmLoop,
      refreshEvery: Int)(onBatch: DataFrame => Unit): StreamingQuery = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
        val scored = loop.ingest(batchId, batch.toDF())
        try onBatch(scored)
        finally Boundary.release(scored)
        if ((batchId + 1) % refreshEvery == 0) loop.refresh()
      }
      .start()
  }
}

/** Continuous LM deployment with periodic refresh — the staleness
  * answer for the MODEL family that the indexes got in r4-r7. The
  * CCNet deployment shape stays: scoring is always against a FROZEN
  * generation (a document's score never depends on its own batch);
  * what's new is the generation lifecycle:
  *
  *   - [[ingest]] scores a micro-batch against the current frozen
  *     model and LANDS the batch (a standing boundary, batch-sized)
  *     for the next refresh;
  *   - [[refresh]] trains a DELTA LM on the landed batches only and
  *     [[LmStream.mergeLm]]s it into the standing model — exact ≡
  *     retraining on corpus ∪ landed (counts add), at cost ∝ landed
  *     batches + model tables, never ∝ corpus — then swaps
  *     generations (new model materialized BEFORE the old one is
  *     released; foreachBatch frames are not replayable).
  *
  * All mutators synchronize on this loop (the ClusterStream
  * contract): ingest and a control-plane refresh may run on
  * different threads, and a lost swap would silently drop landed
  * counts. Durable story: [[LmStream.lmWrite]] the current model at
  * a checkpoint cadence; a later session [[LmStream.lmLoad]]s and
  * resumes the loop. */
final class LmLoop(initial: LmStream.LmModel, lambda: Double,
    initialHighWater: Long = -1L) {
  import LmStream.{scoreBatch, trainLm, mergeLm, LmModel}

  @volatile private var model: LmModel = initial
  private var landed: List[DataFrame] = Nil
  // replay ledger: foreachBatch is at-least-once, and a re-delivered
  // batch must not land twice — mergeLm is exact-additive, so a
  // double-landed batch would double its n-gram counts in the
  // standing model FOREVER. 8 bytes per batch ever seen (the
  // DsirLoop / idempotent-index-append contract). The durable form
  // is the high-water mark (batchIds are contiguous and monotone per
  // streaming query): checkpointTo stamps it, resume restores it,
  // and ids at or below it count as seen.
  private val seen = scala.collection.mutable.Set.empty[Long]
  private var highWater: Long = initialHighWater

  /** The current frozen generation (read-only view; lifecycle owned
    * by this loop — [[release]]). */
  def current: LmModel = model

  /** Number of batches landed since the last refresh. */
  def pendingBatches: Int = synchronized { landed.size }

  /** Score one micro-batch against the FROZEN current generation and
    * land it for the next refresh — UNLESS this batchId was already
    * ingested (at-least-once replay): replays re-score (downstream
    * consumes by batchId) but never re-land. The scored frame is a
    * filled boundary leaf (the operator result contract) —
    * `Boundary.release` it once consumed. */
  def ingest(batchId: Long, batch: DataFrame): DataFrame = synchronized {
    // land eagerly: foreachBatch frames die with the batch
    val b = Boundary.standing(batch.select(col("doc_id"), col("text")))
    val scored = Boundary.stage(scoreBatch(model, b, "doc_id",
      graft.functions.Text.tokens(col("text")), lambda))
    if (batchId > highWater && !seen.contains(batchId)) {
      landed = b :: landed
      seen += batchId
    } else Boundary.release(b) // replay: nothing to land
    scored
  }

  /** Merge-and-swap: fold every landed batch into the standing model
    * (exact — see [[LmStream.mergeLm]]) and release the previous
    * generation. No-op when nothing has landed (the model reference
    * is untouched — replay-safe). */
  def refresh(): Unit = synchronized {
    if (landed.nonEmpty) {
      val union = landed.reduce(_ union _)
      val delta = trainLm(union, "doc_id",
        graft.functions.Text.tokens(col("text")))
      val next = mergeLm(model, delta) // materializes before the swap
      val prev = model
      model = next
      prev.release(); delta.release()
      landed.foreach(Boundary.release)
      landed = Nil
    }
  }

  def release(): Unit = synchronized {
    model.release()
    landed.foreach(Boundary.release)
    landed = Nil
  }

  /** Land the loop durably so a later session can [[LmLoop.resume]]:
    * refresh() first — every landed batch folds before the write, so
    * un-refreshed pending batches can never silently miss the
    * checkpoint — then [[LmStream.lmWrite]] the model with the replay
    * ledger's high-water batchId stamped on each table (the DsirLoop
    * contract). A resumed loop never re-lands a batch the stream
    * checkpoint re-delivers after a driver restart. */
  def checkpointTo(unigramTable: String, bigramTable: String,
      prefixTable: String, buckets: Int = 16): Unit = synchronized {
    refresh()
    val hw = if (seen.isEmpty) highWater else math.max(highWater, seen.max)
    // high-water rides in lmWrite's per-table stamp statements (r9
    // ADVICE): no separate stamping pass, so no crash window where a
    // loadable model lacks its ledger
    LmStream.lmWrite(model, unigramTable, bigramTable, prefixTable,
      buckets, maxBatch = Some(hw))
  }
}

object LmLoop {
  /** Reattach a loop from [[LmLoop.checkpointTo]] (or plain
    * [[LmStream.lmWrite]]) tables, restoring the replay ledger's
    * high-water mark — plain lmWrite tables carry no ledger stamp
    * and resume with an empty ledger (only compose that with a
    * FRESH stream checkpoint). */
  def resume(spark: org.apache.spark.sql.SparkSession,
      unigramTable: String, bigramTable: String, prefixTable: String,
      lambda: Double): LmLoop = {
    val (model, hw) = LmStream.loadStamped(spark, unigramTable, bigramTable, prefixTable)
    new LmLoop(model, lambda, hw)
  }
}
