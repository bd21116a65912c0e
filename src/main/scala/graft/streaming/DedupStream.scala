package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.{Boundary, Dedup}

/** Streaming incremental dedup — the continuous twins of
  * [[graft.operators.Dedup.exactIncremental]] (exact hash probe) and
  * [[graft.operators.Dedup.minhashLshIncremental]] (near-dup index
  * probe): documents arrive in micro-batches and are deduplicated
  * against a STANDING corpus, exactly the continuous-ingestion shape
  * where re-running self-dedup per batch would cost O(corpus) per
  * run.
  */
object DedupStream {

  case class Doc(doc_id: Long, text: String)
  /** Internal join row (public: Catalyst's generated deserializer
    * must construct it). */
  case class Probed(doc_id: Long, h: String, corpus_dup: Option[Long])
  case class ProbeResult(doc_id: Long, dup_of: Option[Long])

  /** Standing exact index of a corpus: content hash → lowest doc id,
    * PERSISTED AND MATERIALIZED here (the minhashIndex land-time
    * pattern) — without it the stream-static join would re-scan the
    * corpus and re-run the groupBy on every micro-batch, which is
    * exactly the O(corpus)-per-batch cost this module exists to
    * avoid. Refresh by building a new index and swapping; callers own
    * the lifecycle (`unpersist()` when done — same contract as the
    * batch pair operators). */
  def exactIndex(corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val idx = corpus.select(md5(col(textCol)).as("h"), col(idCol).as("__cid"))
      .groupBy("h").agg(min("__cid").as("corpus_dup"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    idx.count()
    idx
  }

  /** Continuous exact-dedup probe with CROSS-BATCH memory.
    *
    * Each document's `dup_of` is the STANDING REPRESENTATIVE of its
    * content hash at arrival: the lowest matching corpus id, or the
    * lowest-id stream document with identical content seen earlier
    * (earlier batch, or same batch with a lower id); null = first
    * sighting. This is what the batch probe cannot do: a duplicate
    * arriving two batches after its original (neither in the corpus)
    * is caught here, while `exactIncremental` against the static
    * corpus would pass both as new.
    *
    * Mechanics: md5 per row (stateless) → stream-static LEFT join
    * against the persisted corpus index → one `GroupState[Long]` per
    * DISTINCT CONTENT HASH holding the representative id (8 bytes per
    * distinct document — the same asymptotic state the standing index
    * itself costs). On an UNBOUNDED stream pass `stateTtl`: each
    * hash's entry expires `stateTtl` after its last sighting
    * (ProcessingTimeTimeout), bounding state to the hashes active
    * within one TTL window at the documented cost that expired
    * content re-admits. Within a batch, a
    * hash's rows fold in doc_id order — deterministic under shuffle
    * reordering. The representative tightens to the minimum id seen,
    * so with ids arriving in order the emitted dup_of equals the
    * batch reference exactly (parity spec).
    */
  def exactProbe(stream: Dataset[Doc], corpusIndex: DataFrame,
      stateTtl: Option[java.time.Duration] = None): Dataset[ProbeResult] = {
    val spark = stream.sparkSession
    import spark.implicits._
    def fold(key: String, rows: Iterator[Probed],
        state: GroupState[Long]): Iterator[ProbeResult] = {
      // TTL expiry callback: drop the representative. An expired
      // hash RE-ADMITS — a later duplicate of expired stream content
      // is treated as a first sighting (corpus matches are unaffected:
      // the standing index rebuilds corpus_dup on every probe). That
      // recall trade is exactly what bounds state on an unbounded
      // stream; size the TTL to the dedup horizon the deployment
      // actually needs.
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val rs = rows.toSeq.sortBy(_.doc_id)
      var keeper: Option[Long] = state.getOption.orElse(rs.head.corpus_dup)
      val out = rs.map { r =>
        val dup = keeper
        keeper = Some(keeper.fold(r.doc_id)(math.min(_, r.doc_id)))
        ProbeResult(r.doc_id, dup)
      }
      state.update(keeper.get)
      stateTtl.foreach(ttl => state.setTimeoutDuration(ttl.toMillis))
      out.iterator
    }
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    // NO broadcast hint on the index: it is corpus-sized (one row per
    // distinct corpus doc) — the opposite of exactIncremental, where
    // the SMALL batch side broadcasts. Catalyst picks broadcast
    // itself when the persisted index is small; at scale the join
    // shuffles the micro-batch (tiny) against the cached index blocks
    // instead of shipping the index to every task per batch
    stream.select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusIndex, Seq("h"), "left")
      .select(col("doc_id"), col("h"), col("corpus_dup"))
      .as[Probed]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(fold)
  }

  /** Continuous NEAR-dup probe: each micro-batch is probed against a
    * standing [[Dedup.MinhashIndex]] (persisted signatures + band
    * table, built ONCE at corpus-land time). Per batch this is
    * exactly [[Dedup.minhashProbe]] — only the batch is shingled and
    * signed, its bands broadcast into the index join, the corpus
    * never recomputed or shuffled — driven through `foreachBatch`
    * (the landing pattern: near-dup pair output feeds an idempotent
    * sink, here a caller callback). Per-batch results over a batch
    * sequence ≡ the one-shot batch operator over their union,
    * because corpus×batch pairs partition by batch (parity spec).
    */
  def minhashProbeQuery(stream: Dataset[Doc], index: Dedup.MinhashIndex,
      tau: Double)(onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], _: Long) =>
        // the probe's result boundary is released once the consumer
        // returns — a long-lived stream must not accrete one cached
        // frame per micro-batch
        val pairs = Dedup.minhashProbe(index, batch.toDF(), "doc_id", "text", tau)
        try onBatch(pairs) finally Boundary.release(pairs)
      }
      .start()

  /** Continuous SUBSTRING-dup probe — passage granularity at ingest
    * (the streaming [[Dedup.substringDupSpans]]): each micro-batch's
    * docs are screened against the standing corpus window universe
    * ([[Dedup.SubstringIndex]], built once at land time,
    * [[Dedup.substringIndexAppend]]-refreshed). Per batch only the
    * batch is windowed, its (hash, pos) rows broadcast into the index
    * join — the corpus is never rescanned. Completes the streaming
    * dedup family exact → MinHash → embedding → substring. */
  def substringProbeQuery(stream: Dataset[Doc], index: Dedup.SubstringIndex)
      (onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], _: Long) =>
        val spans = Dedup.substringProbe(index, batch.toDF(), "doc_id", "text")
        try onBatch(spans) finally Boundary.release(spans)
      }
      .start()

  /** Continuous CDC-chunk probe — passage-share at ingest (the
    * streaming [[graft.operators.CdcIndex.cdcProbeFromIndex]]): each
    * micro-batch's docs are chunked and their hashes broadcast into
    * the standing chunk table; the corpus is never rescanned. Because
    * chunk boundaries are content-defined, an arriving doc that
    * embeds an indexed passage matches its interior chunks verbatim
    * regardless of surrounding edits. Extends the streaming dedup
    * family exact → MinHash → embedding → substring → CDC. */
  def cdcProbeQuery(stream: Dataset[Doc],
      index: graft.operators.CdcIndex.CdcIndex)
      (onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], _: Long) =>
        val stats = graft.operators.CdcIndex.cdcProbeFromIndex(
          index, batch.toDF(), "doc_id", "text")
        try onBatch(stats) finally Boundary.release(stats)
      }
      .start()

  case class EmbDoc(vec_id: Long, embedding: Array[Double])

  /** Continuous EMBEDDING near-dup probe — the SemDeDup ingest shape:
    * each micro-batch of vectors is probed against a standing
    * [[Dedup.EmbeddingLshIndex]] (persisted vectors + banded
    * hyperplane signatures, built once at corpus-land time, or
    * [[Dedup.embeddingIndexLoad]]ed from durable tables). Per batch
    * this is exactly [[Dedup.embeddingProbe]] — only the batch is
    * signed, its probe keys broadcast into the index join, the corpus
    * never re-signed or shuffled. Per-batch results over a batch
    * sequence ≡ the one-shot probe over their union, because
    * corpus×batch pairs partition by batch (parity spec). Completes
    * the streaming dedup family exact → MinHash → embedding. */
  def embeddingProbeQuery(stream: Dataset[EmbDoc], index: Dedup.EmbeddingLshIndex,
      tau: Double, probeRadius: Int = 0)
      (onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[EmbDoc], _: Long) =>
        val pairs = Dedup.embeddingProbe(index, batch.toDF(),
          "vec_id", "embedding", tau, probeRadius)
        try onBatch(pairs) finally Boundary.release(pairs)
      }
      .start()
}
