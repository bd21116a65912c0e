package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.expr.NativeFunctions.cdc_chunk_hashes
import graft.sources.{StampedTables, Tables}

/** STANDING content-defined-chunk index (r11): the incremental /
  * continuous-ingest story for [[Dedup.cdcDuplicateChunks]], with the
  * same lifecycle every other probe family here has (minhash /
  * embedding / substring / decon indexes): chunk the corpus ONCE at
  * land time, fold new arrivals in incrementally and idempotently,
  * RETRACT taken-down documents, persist durably with
  * stamped+validated params, and probe batches (one-shot or
  * streaming) against the standing tables.
  *
  * Why CDC at ingest: an arriving document that embeds an
  * already-indexed passage shares that passage's chunk hashes
  * VERBATIM even when its surrounding text shifts every fixed-stride
  * window — the probe is one hash join, no candidate generation, no
  * verify pass.
  *
  * Scale shape: `members` carries (hash, doc_id) over ≥minLen-word
  * chunks — ≈ tokens/D rows, 16 bytes each; `chunks` is the
  * distinct-hash probe view with per-hash doc counts. A probe chunks
  * only the BATCH and broadcasts its hashes into the standing side
  * (corpus-bucketed on the hash), so the corpus is never rescanned
  * or reshuffled at ingest. Append cost ∝ the batch's chunks;
  * removal ∝ the retired docs' membership.
  *
  * Reference anchor: the reference pipeline (main_dag.py) has no
  * dedup at all — this family is part of the training-data surface
  * the brief adds on top.
  */
object CdcIndex {

  /** Version stamp of the token/fold family the chunk hashes derive
    * from — shares [[Dedup]]'s constant (CdcChunkHashes folds
    * TokenHashing word hashes with the shingle seed/mix), so a
    * session whose hash family moved hard-fails on load instead of
    * silently matching nothing. */
  private[graft] val cdcHashVersion = Dedup.minhashHashVersion

  /** The standing index: `members` = distinct (ch, doc_id) membership
    * of ≥minLen-word chunks (the removal-soundness frame: retracting
    * a doc re-derives exactly the affected hashes); `chunks` =
    * per-hash doc counts (the probe view — a hash row vanishes when
    * its last member retires). Params are carried and validated, not
    * trusted. */
  final case class CdcIndex(chunks: DataFrame, members: DataFrame,
      w: Int, modD: Int, minLen: Int) {
    def release(): Unit = {
      Boundary.release(chunks)
      Boundary.release(members)
    }
  }

  private def docChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int, modD: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(cdc_chunk_hashes(col(textCol), w, modD)).as("c"))
      .select(col("doc_id"), col("c.hash").as("ch"), col("c.len").as("len"))

  private def memberChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int, modD: Int, minLen: Int): DataFrame =
    docChunks(docs, idCol, textCol, w, modD)
      .filter(col("len") >= minLen)
      .select(col("ch"), col("doc_id"))
      .distinct()

  private def countsOf(members: DataFrame): DataFrame =
    members.groupBy("ch").agg(countDistinct(col("doc_id")).as("n_docs"))

  /** Build the index from a landed corpus: one chunking pass, then
    * the distinct membership + per-hash counts, each a
    * [[Boundary.generation]] so append/remove chains compose without
    * replaying prior generations (the deconIndexBuild contract). */
  def cdcIndexBuild(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 4, modD: Int = 8, minLen: Int = 4): CdcIndex = {
    val members = Boundary.generation(memberChunks(docs, idCol, textCol, w, modD, minLen))
    CdcIndex(Boundary.generation(countsOf(members)), members, w, modD, minLen)
  }

  /** Fold a NEW batch in — replay-IDEMPOTENT (the
    * embeddingIndexAppend contract): the batch's membership anti-joins
    * the standing one, so a re-delivered micro-batch is a no-op and a
    * re-landed (ch, doc_id) pair never double-counts. Only hashes the
    * batch actually touches re-aggregate. */
  def cdcIndexAppend(index: CdcIndex, docs: DataFrame,
      idCol: String, textCol: String): CdcIndex = {
    val fresh = memberChunks(docs, idCol, textCol,
        index.w, index.modD, index.minLen)
      .join(index.members, Seq("ch", "doc_id"), "left_anti")
    val members2 = Boundary.generation(index.members.unionByName(fresh))
    val affected = fresh.select(col("ch")).distinct()
    val chunks2 = Boundary.generation(index.chunks.join(affected, Seq("ch"), "left_anti")
      .unionByName(countsOf(members2.join(affected, Seq("ch")))))
    index.release()
    CdcIndex(chunks2, members2, index.w, index.modD, index.minLen)
  }

  /** RETRACTION — a taken-down document's chunks stop matching (the
    * minhashIndexRemove contract): drop its membership, re-derive
    * counts for exactly the affected hashes; a hash whose last member
    * leaves disappears from the probe view. Unknown ids no-op; a
    * later append re-admits. */
  def cdcIndexRemove(index: CdcIndex, ids: DataFrame,
      idCol: String): CdcIndex = {
    val del = ids.select(col(idCol).as("doc_id")).distinct()
    val affected = index.members.join(del, Seq("doc_id"))
      .select(col("ch")).distinct()
    val members2 = Boundary.generation(index.members.join(del, Seq("doc_id"), "left_anti"))
    val chunks2 = Boundary.generation(index.chunks.join(affected, Seq("ch"), "left_anti")
      .unionByName(countsOf(members2.join(affected, Seq("ch")))))
    index.release()
    CdcIndex(chunks2, members2, index.w, index.modD, index.minLen)
  }

  /** Probe a batch against the standing index: per batch doc, how
    * much of it is made of chunks the CORPUS already carries —
    * `(doc_id, n_chunks, n_shared, shared_ratio)` with n_chunks
    * counting ALL the doc's chunks (the ratio denominator,
    * [[Dedup.cdcDocStats]] convention) and n_shared the ≥minLen
    * occurrences whose hash is indexed. Only the batch is chunked;
    * its hashes broadcast into the standing side; zero-overlap docs
    * surface with ratio 0 via the batch-sized left join (never an
    * outer join against the corpus-scale table). */
  def cdcProbeFromIndex(index: CdcIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bc = Boundary.stage(docChunks(batch, idCol, textCol, index.w, index.modD))
    val probeSide = broadcast(
      bc.filter(col("len") >= index.minLen).select(col("doc_id"), col("ch")))
    val shared = index.chunks.join(probeSide, Seq("ch"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val out = bc.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_ratio", round(col("n_shared") / col("n_chunks"), 4))
    val result = Boundary.stage(out)
    Boundary.release(bc)
    result
  }

  /** Land the index durably (the deconIndexWrite contract): both
    * frames bucket on the chunk hash; (w, modD, minLen) and the
    * hash-family version travel WITH the tables. */
  def cdcIndexWrite(index: CdcIndex, chunksTable: String,
      membersTable: String, buckets: Int = 16): Unit = {
    Tables.writeBucketed(index.chunks, chunksTable, "ch", buckets)
    index.members.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "ch").saveAsTable(membersTable)
    StampedTables.stamp(index.members.sparkSession, Seq(chunksTable, membersTable),
      "cdc", cdcStamp(index.w, index.modD, index.minLen))
  }

  private def cdcStamp(w: Int, modD: Int, minLen: Int): Map[String, Any] =
    Map("w" -> w, "modD" -> modD, "minLen" -> minLen, "hashVersion" -> cdcHashVersion)

  /** Reattach a durable index written by [[cdcIndexWrite]] under the
    * [[graft.sources.StampedTables.check]] policy: the requested
    * params and the session's hash-family version must equal the
    * stamps; missing stamps (not a cdcIndexWrite table) or a
    * `graft.cdc.*` property this loader does not understand (a newer
    * writer's policy this session cannot honor) throw. */
  def cdcIndexLoad(spark: SparkSession, chunksTable: String,
      membersTable: String, w: Int, modD: Int, minLen: Int): CdcIndex = {
    StampedTables.check(spark, Seq(chunksTable, membersTable), "cdc",
      cdcStamp(w, modD, minLen))
    CdcIndex(spark.table(chunksTable), spark.table(membersTable),
      w, modD, minLen)
  }
}
