package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.expr.NativeFunctions.shingle_hashes
import graft.functions.expr.SketchAggregates.{bloom_agg, bloom_contains_any}

/** STANDING decontamination index (r10 — the r8/r9 wishlist item):
  * benchmarks change on their own release cadence, but the r9 decon
  * operators re-shingled the whole benchmark suite per run. This
  * gives the decon family the same lifecycle every other probe
  * family here has (minhash/embedding/substring indexes): build the
  * benchmark shingle tables ONCE at benchmark-land time, append new
  * benchmark releases incrementally and idempotently, RETRACT
  * retired benchmarks, persist durably with stamped+validated
  * params, and probe corpora (batch or streaming) against the
  * standing tables.
  *
  * Two probe forms off one index, matching the two one-shot
  * operators: the EXACT row join ([[Curation.contaminationFlags]]
  * semantics — per-doc shared-shingle/bench-doc counts) and the
  * BLOOM form ([[Curation.contaminationFlagsBloom]] semantics — the
  * filter is re-aggregated from the standing shingle table, a
  * #distinct-shingles scan that never touches benchmark text again).
  *
  * Scale shape: `members` (h, bench_id) carries 16 bytes/row over
  * distinct benchmark shingles — benchmark suites are MBs against a
  * 100 TB corpus, so the probe side always broadcasts; the corpus is
  * never shuffled in either probe form. Append cost ∝ the new
  * benchmark docs' shingles; removal ∝ the retired docs' membership.
  *
  * Reference anchor: the reference pipeline has no decon step at all
  * (main_dag.py's five tasks end at load) — this family is part of
  * the training-data surface the brief adds on top.
  */
object DeconIndex {

  /** Version stamp of the shingle-hash family the index stores —
    * shares [[Dedup]]'s constant: the tables hold ShingleHashes
    * output, so a session whose hash family moved must hard-fail on
    * load, not silently match nothing. */
  private[graft] val deconHashVersion = Dedup.minhashHashVersion

  /** The standing index: `members` = distinct (h, bench_id) benchmark
    * shingle membership (the removal-soundness frame: retracting a
    * bench doc re-derives exactly the affected hashes), `shingles` =
    * per-hash doc counts (the probe view — a hash row vanishes when
    * its last member retires). `n` is the shingle width (a probe
    * with a different n would match nothing — validated, not
    * trusted). */
  final case class DeconIndex(shingles: DataFrame, members: DataFrame,
      n: Int) {
    def release(): Unit = {
      Boundary.release(shingles)
      Boundary.release(members)
    }
  }

  private def benchShingles(bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    bench.select(col(idCol).as("bench_id"),
        explode(shingle_hashes(col(textCol), n)).as("h"))
      .distinct()

  private def countsOf(members: DataFrame): DataFrame =
    members.groupBy("h").agg(countDistinct(col("bench_id")).as("n_bench_docs"))

  /** Build the index from a benchmark suite: one shingle pass, then
    * the distinct membership + per-hash counts. Frames are
    * localCheckpoint'd (truncated lineage — append/remove chains
    * compose without replaying every prior generation). */
  def deconIndexBuild(bench: DataFrame, idCol: String, textCol: String,
      n: Int): DeconIndex = {
    val members = benchShingles(bench, idCol, textCol, n)
      .localCheckpoint(true)
    DeconIndex(countsOf(members).localCheckpoint(true), members, n)
  }

  /** Fold a NEW benchmark release in — replay-IDEMPOTENT (the
    * embeddingIndexAppend contract): the batch's shingles anti-join
    * the standing membership, so a re-delivered release is a no-op
    * and a re-landed (bench_id, h) pair never double-counts. Only
    * hashes the batch actually touches re-aggregate. */
  def deconIndexAppend(index: DeconIndex, bench: DataFrame,
      idCol: String, textCol: String): DeconIndex = {
    val fresh = benchShingles(bench, idCol, textCol, index.n)
      .join(index.members, Seq("h", "bench_id"), "left_anti")
    val members2 = index.members.unionByName(fresh).localCheckpoint(true)
    val affected = fresh.select(col("h")).distinct()
    val shingles2 = index.shingles.join(affected, Seq("h"), "left_anti")
      .unionByName(countsOf(members2.join(affected, Seq("h"))))
      .localCheckpoint(true)
    index.release()
    DeconIndex(shingles2, members2, index.n)
  }

  /** RETRACTION — a retired benchmark's docs stop flagging the
    * corpus (the minhashIndexRemove contract): drop their
    * membership, re-derive counts for exactly the affected hashes; a
    * hash whose last member leaves disappears from the probe view.
    * Unknown ids no-op; a later append re-admits. */
  def deconIndexRemove(index: DeconIndex, ids: DataFrame,
      idCol: String): DeconIndex = {
    val del = ids.select(col(idCol).as("bench_id")).distinct()
    val affected = index.members.join(del, Seq("bench_id"))
      .select(col("h")).distinct()
    val members2 = index.members.join(del, Seq("bench_id"), "left_anti")
      .localCheckpoint(true)
    val shingles2 = index.shingles.join(affected, Seq("h"), "left_anti")
      .unionByName(countsOf(members2.join(affected, Seq("h"))))
      .localCheckpoint(true)
    index.release()
    DeconIndex(shingles2, members2, index.n)
  }

  /** EXACT probe from the standing tables —
    * [[Curation.contaminationFlags]] semantics without re-shingling
    * the benchmark: per corpus doc, distinct shared shingles and
    * distinct benchmark docs carrying them. The index side
    * broadcasts (benchmark ≪ corpus); the corpus explodes its own
    * shingles once and is never shuffled on row identity. */
  def deconProbeFromIndex(index: DeconIndex, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("doc_id"),
        explode(shingle_hashes(col(textCol), index.n)).as("h"))
      .join(broadcast(index.members), "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))

  /** BLOOM probe from the standing tables —
    * [[Curation.contaminationFlagsBloom]] semantics: the filter
    * re-aggregates from the stored distinct-shingle hashes (a
    * #shingles scan — benchmark TEXT is never touched again), then
    * every corpus doc is probed in-row against the broadcast bitset. */
  def deconBloomFromIndex(index: DeconIndex, corpus: DataFrame,
      idCol: String, textCol: String, numBits: Int,
      kHashes: Int): DataFrame = {
    val bloom = index.shingles
      .agg(bloom_agg(col("h"), numBits, kHashes).as("__bf"))
    corpus.crossJoin(broadcast(bloom))
      .select(col(idCol).as("doc_id"),
        bloom_contains_any(col("__bf"),
          shingle_hashes(col(textCol), index.n), kHashes).as("flagged"))
  }

  /** Land the index durably (the substringIndexWrite contract):
    * both frames bucket on the shingle hash; the shingle width and
    * hash-family version travel WITH the tables. */
  def deconIndexWrite(index: DeconIndex, shinglesTable: String,
      membersTable: String, buckets: Int = 16): Unit = {
    val spark = index.members.sparkSession
    index.shingles.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "h").sortBy("h").saveAsTable(shinglesTable)
    index.members.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "h").saveAsTable(membersTable)
    Seq(shinglesTable, membersTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        s"'graft.decon.n'='${index.n}', " +
        s"'graft.decon.hashVersion'='$deconHashVersion')")
    }
  }

  /** Reattach a durable index written by [[deconIndexWrite]],
    * validating BOTH directions (the clustersLoad contract): the
    * requested n and the session's hash-family version must equal
    * the stamps; a table missing them was not written by
    * deconIndexWrite and throws; a `graft.decon.*` property this
    * loader does not understand throws (a newer writer's policy this
    * session cannot honor). */
  def deconIndexLoad(spark: SparkSession, shinglesTable: String,
      membersTable: String, n: Int): DeconIndex = {
    val known = Set("n", "hashVersion")
    Seq(shinglesTable, membersTable).foreach { t =>
      val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
        .collect { case (key, v) if key.startsWith("graft.decon.") =>
          key.stripPrefix("graft.decon.") -> v }
      val unknown = props.keySet -- known
      require(unknown.isEmpty,
        s"index table $t stamps params this loader does not understand: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
      Seq("n" -> n, "hashVersion" -> deconHashVersion).foreach {
        case (name, v) => props.get(name) match {
          case Some(s) => require(s == v.toString,
            s"index table $t was built with $name=$s, load requested $v")
          case None => throw new IllegalArgumentException(
            s"table $t lacks graft.decon.$name — not a deconIndexWrite table")
        }
      }
    }
    DeconIndex(spark.table(shinglesTable), spark.table(membersTable), n)
  }
}
