package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Boundary, Curation}
import graft.sources.StampedTables

/** Continuous DSIR deployment — the staleness answer for the
  * data-selection scorer, mirroring the LM loop (LmStream): scoring
  * is always against a FROZEN model generation (a batch never
  * influences its own importance weights — the no-self-influence
  * rule every scorer here keeps), and the model refreshes by EXACT
  * additive merge.
  *
  * Unlike the LM loop, nothing corpus-sized ever lands: the DSIR
  * model is two B-long count vectors, and counts are additive, so
  * each micro-batch folds to its own count delta AT INGEST TIME (one
  * B-row aggregate over the batch) and refresh() is pure driver
  * arithmetic — merge ≡ retraining on corpus ∪ batches, bit-exact,
  * at zero corpus cost. This is the cheapest refresh in the engine:
  * model state 2·B longs, refresh cost O(B).
  *
  * Reference pipeline has no selection stage (main_dag.py merges
  * everything); this is the continuous form of the modern
  * replacement (Xie et al. 2023), built like the index loops.
  */
object DsirStream {

  /** Streaming document with its target-slice membership. */
  case class Doc(doc_id: Long, text: String, target: Boolean)

  /** The DSIR model: per-bucket token counts for the target slice
    * and the raw corpus. Exact longs — generations merge additively
    * and two training orders give identical models. */
  final case class DsirModel(ct: Array[Long], cr: Array[Long]) {
    require(ct.length == cr.length && ct.nonEmpty,
      "count vectors must be same non-zero length")
    def nBuckets: Int = cr.length
    /** Smoothed log-ratios — requires a non-empty target slice. */
    def logRatios: IndexedSeq[Double] = Curation.dsirLogRatios(ct, cr)
  }

  /** Fit the model: one map-side-combining B-row aggregate. */
  def train(docs: DataFrame, idCol: String, textCol: Column,
      isTarget: Column, nBuckets: Int): DsirModel = {
    val (ct, cr) = Curation.dsirCounts(
      Curation.dsirBucketize(docs, idCol, textCol, isTarget, nBuckets), nBuckets)
    DsirModel(ct, cr)
  }

  /** Exact additive merge: counts add, so
    * merge(train(A), train(B)) == train(A ∪ B) bit-for-bit. */
  def merge(a: DsirModel, b: DsirModel): DsirModel = {
    require(a.nBuckets == b.nBuckets,
      s"bucket widths differ: ${a.nBuckets} vs ${b.nBuckets}")
    DsirModel(
      Array.tabulate(a.nBuckets)(i => a.ct(i) + b.ct(i)),
      Array.tabulate(a.nBuckets)(i => a.cr(i) + b.cr(i)))
  }

  /** Score a batch under a FROZEN model: the same fixed-order
    * literal-ratio dot as the batch operator, so
    * scoreBatch(train(corpus), corpus) ≡ Curation.dsirWeights(corpus)
    * exactly (spec-pinned). */
  def scoreBatch(model: DsirModel, batch: DataFrame, idCol: String,
      textCol: Column): DataFrame =
    Curation.dsirBucketize(batch, idCol, textCol, lit(false), model.nBuckets)
      .select(col("__id").as(idCol),
        round(Curation.dsirDotCol(model.logRatios), 6).as("dsir_logweight"))

  /** DSIR model-table stamp version — bumps when the bucket hash
    * convention changes (a model written under another convention
    * must hard-fail on load, not silently mis-score). */
  private val dsirVersion = 1

  /** Land the model as ONE tiny (b, ct, cr) table — durable-state
    * contract (the lmWrite pattern): width + version stamped as
    * table properties and validated both directions on load. The
    * table is B rows; no bucketing needed (it rides the driver as
    * literals at scoring time, never a join side). */
  def dsirWrite(spark: org.apache.spark.sql.SparkSession,
      model: DsirModel, table: String,
      maxBatch: Option[Long] = None): Unit = {
    import spark.implicits._
    (0 until model.nBuckets)
      .map(b => (b, model.ct(b), model.cr(b))).toDF("b", "ct", "cr")
      .write.format("parquet").mode("overwrite").saveAsTable(table)
    // ONE statement carries every stamp, including the replay
    // ledger's high-water (r9 ADVICE): a crash between saveAsTable and
    // the stamp leaves a table WITHOUT the version stamp, which
    // dsirLoad/resume REFUSE — loud recovery, never a silent hw=-1
    // re-fold of batches the landed model already contains
    StampedTables.stamp(spark, Seq(table), "dsir",
      Map("version" -> dsirVersion, "nbuckets" -> model.nBuckets) ++
        maxBatch.map("maxbatch" -> _))
  }

  /** Reattach a durable DSIR model written by [[dsirWrite]]. A table
    * without the stamps (or written under a different hash-convention
    * version, or whose row set disagrees with the stamped width)
    * throws. */
  def dsirLoad(spark: org.apache.spark.sql.SparkSession,
      table: String): DsirModel = loadStamped(spark, table)._1

  /** [[dsirLoad]] plus the replay ledger's high-water stamp (-1 when
    * the table carries none), from one read of the stamps. */
  private[streaming] def loadStamped(spark: org.apache.spark.sql.SparkSession,
      table: String): (DsirModel, Long) = {
    val stamps = StampedTables.check(spark, Seq(table), "dsir",
      Map("version" -> dsirVersion), Seq("nbuckets"), Seq("maxbatch"))
    val b = stamps("nbuckets").toInt
    val rows = spark.table(table).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    require(rows.length == b && rows.map(_._1).sorted.sameElements(0 until b),
      s"table $table rows disagree with the stamped width $b")
    val ct = Array.fill(b)(0L)
    val cr = Array.fill(b)(0L)
    rows.foreach { case (i, c1, c2) => ct(i) = c1; cr(i) = c2 }
    (DsirModel(ct, cr), stamps.get("maxbatch").map(_.toLong).getOrElse(-1L))
  }

  /** foreachBatch driver: score each micro-batch against the current
    * generation, fold its count delta, refresh every `refreshEvery`
    * batches AFTER scoring (a batch never influences its own
    * weights). Scored frames are boundary leaves — the callback
    * consumes them, then this driver releases them. */
  def refreshingScoreQuery(stream: Dataset[Doc], loop: DsirLoop,
      refreshEvery: Int)(onBatch: DataFrame => Unit): StreamingQuery = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
        val scored = loop.ingest(batchId, batch.toDF(), col("target"))
        try onBatch(scored)
        finally Boundary.release(scored)
        if ((batchId + 1) % refreshEvery == 0) loop.refresh()
      }
      .start()
  }
}

/** The DSIR generation loop. All mutators synchronize on this
  * instance (the ClusterStream/LmLoop contract): ingest and a
  * control-plane refresh may run on different threads, and a lost
  * swap would silently drop landed counts.
  *
  * `initialHighWater` restores the replay ledger across sessions:
  * batchIds at or below it were folded into the model some earlier
  * session checkpointed, so a stream checkpoint re-delivering them
  * after a driver restart re-scores but never re-folds. Structured
  * Streaming batchIds are contiguous and monotone per query, which
  * is what lets the durable ledger be ONE long instead of a set. */
final class DsirLoop(initial: DsirStream.DsirModel,
    initialHighWater: Long = -1L) {
  import DsirStream.{DsirModel, merge}

  @volatile private var model: DsirModel = initial
  private var pending: Option[DsirModel] = None
  // replay ledger: foreachBatch is at-least-once, and a re-delivered
  // batch must not fold its counts twice (the merge ≡ union-retrain
  // invariant would silently break). 8 bytes per batch ever seen —
  // the same role the idempotent index appends play structurally.
  // The durable form is the high-water mark: checkpointTo stamps it,
  // resume restores it, and ids at or below it count as seen.
  private val seen = scala.collection.mutable.Set.empty[Long]
  private var highWater: Long = initialHighWater

  /** The current frozen generation. */
  def current: DsirModel = model

  /** Score one micro-batch against the FROZEN generation, then fold
    * the batch's count delta for the next refresh — UNLESS this
    * batchId was already ingested (at-least-once replay): replays
    * re-score (downstream consumes by batchId) but never re-fold.
    * The batch is tokenized/bucketized ONCE, feeding both the
    * scoring dot and the count delta. The scored frame is a filled
    * boundary leaf, filled BEFORE the delta fold can swap state —
    * `Boundary.release` it once consumed. */
  def ingest(batchId: Long, batch: DataFrame, isTarget: Column): DataFrame =
    synchronized {
      val base = Boundary.stage(graft.operators.Curation.dsirBucketize(
        batch, "doc_id", col("text"), isTarget, model.nBuckets))
      val scored = Boundary.stage(base.select(col("__id").as("doc_id"),
        round(graft.operators.Curation.dsirDotCol(model.logRatios), 6)
          .as("dsir_logweight")))
      if (batchId > highWater && !seen.contains(batchId)) {
        val (ct, cr) = graft.operators.Curation.dsirCounts(base, model.nBuckets)
        val delta = DsirModel(ct, cr)
        pending = Some(pending.fold(delta)(merge(_, delta)))
        seen += batchId
      }
      Boundary.release(base)
      scored
    }

  /** Swap in corpus ∪ landed — pure O(B) driver arithmetic, exact by
    * count additivity. No-op when nothing landed (replay-safe). */
  def refresh(): Unit = synchronized {
    pending.foreach { p => model = merge(model, p); pending = None }
  }

  /** Land the loop durably so a later session can
    * [[DsirLoop.resume]]: refresh() first — every ingested batch
    * folds before the write, so un-refreshed pending counts can
    * never silently miss the checkpoint — then write the model with
    * the replay ledger's high-water batchId stamped alongside the
    * model stamps. A resumed loop therefore never re-folds a batch
    * the stream checkpoint re-delivers after a driver restart. */
  def checkpointTo(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = synchronized {
    refresh()
    val hw = if (seen.isEmpty) highWater else math.max(highWater, seen.max)
    // high-water rides in dsirWrite's own stamp statement (r9 ADVICE
    // closed the write→stamp crash window: an unstamped table now
    // fails validation on resume instead of silently re-folding)
    DsirStream.dsirWrite(spark, model, table, maxBatch = Some(hw))
  }
}

object DsirLoop {
  /** Reattach a loop from a [[DsirLoop.checkpointTo]] (or plain
    * [[DsirStream.dsirWrite]]) table, restoring the replay ledger's
    * high-water mark — a plain dsirWrite table carries no ledger
    * stamp and resumes with an empty ledger (only compose that with
    * a FRESH stream checkpoint). */
  def resume(spark: org.apache.spark.sql.SparkSession,
      table: String): DsirLoop = {
    val (model, hw) = DsirStream.loadStamped(spark, table)
    new DsirLoop(model, hw)
  }
}
