package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run manifest / watermark ledger — the orchestration surface of the
  * reference's weekly schedule (main_dag.py:491-523
  * `schedule_interval` + the timestamp.csv run marker): which
  * interval has been processed, by which run, committed or not.
  *
  * The engine stays a library — scheduling belongs to the
  * orchestrator — but INCREMENTAL batch needs one durable
  * convention the orchestrator and the jobs agree on:
  *
  *  - the ledger is a parquet directory of run rows
  *    `(run_id, lo_watermark, hi_watermark, committed_at_epoch_ms)`,
  *    one PARTITION DIRECTORY per run_id (`run_id=<id>/`), each
  *    committed by an ATOMIC RENAME of a staged directory into the
  *    per-run_id slot;
  *  - a run processes `(last committed hi, new hi]` — the half-open
  *    interval convention makes consecutive runs tile without overlap
  *    or gaps;
  *  - a run commits its row only AFTER its outputs land (write-then-
  *    commit ordering), so a crashed run leaves no ledger row and the
  *    next run simply re-processes its interval — which is safe
  *    because every sink in this library is idempotent (partitioned
  *    parquet overwrite / version-guarded ExternalSink);
  *  - re-submitting an ALREADY COMMITTED run_id is a no-op (the
  *    replay guard an at-least-once scheduler needs);
  *  - two committers racing the SAME run_id: exactly one wins the
  *    rename into `run_id=<id>/`; the loser cleans its staging and
  *    throws [[java.lang.IllegalStateException]] — a double commit is
  *    LOUD, never a silent duplicate ledger row. Two schedulers
  *    racing DIFFERENT run_ids over the same interval remain the
  *    orchestrator's run-lock problem (the ledger serializes RUNS,
  *    not SCHEDULERS) — but overlap processing is safe under the
  *    idempotent-sink rule; only the ledger rows would disagree on
  *    tiling.
  */
object RunManifest {

  private val dataSchema =
    "lo_watermark long, hi_watermark long, committed_at_epoch_ms long"
  private val fullSchema = dataSchema + ", run_id string"

  /** run_id doubles as a partition directory name: constrain it to
    * path-literal characters so the on-disk layout never needs the
    * engine-specific escaping rules of hive partition values. */
  private def validateRunId(runId: String): Unit =
    require(runId.nonEmpty && runId.matches("[A-Za-z0-9_\\-.]+"),
      s"run_id '$runId' must match [A-Za-z0-9_\\-.]+ " +
        "(it names a partition directory)")

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** All committed runs (empty frame if no ledger yet). The
    * empty-ledger probe goes through the Hadoop FileSystem API, not
    * java.io.File — the ledger lives on durable storage (hdfs://,
    * s3a://, ...) where a local-file probe would always read "empty"
    * and silently reset the watermark (re-processing committed
    * intervals and appending duplicate ledger rows). Hidden entries
    * (in-flight `.staging-*` dirs) are not committed runs. */
  def runs(spark: SparkSession, path: String): DataFrame = {
    val (fs, p) = fsOf(spark, path)
    val visible = fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    if (!visible)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(fullSchema))
        .select(col("run_id"), col("lo_watermark"), col("hi_watermark"),
          col("committed_at_epoch_ms"))
    else spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(fullSchema))
      .parquet(path)
      .select(col("run_id"), col("lo_watermark"), col("hi_watermark"),
        col("committed_at_epoch_ms"))
  }

  /** The committed high watermark — the `lo` of the next run.
    * None when no run has committed (first run processes from the
    * caller's epoch floor). */
  def lastWatermark(spark: SparkSession, path: String): Option[Long] = {
    val r = runs(spark, path).agg(max(col("hi_watermark"))).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** The atomic commit step: stage the 1-row frame beside the ledger,
    * then RENAME it into the per-run_id partition slot. Exactly one
    * committer can win — the slot existing (or the rename landing
    * anywhere but the slot, the move-into-existing-dir semantics some
    * filesystems give renames) means another committer got there
    * first, and this one throws after cleaning its staging. */
  private[graft] def commit(spark: SparkSession, path: String,
      runId: String, lo: Long, hi: Long): Unit = {
    validateRunId(runId)
    val (fs, p) = fsOf(spark, path)
    val commitDir = new Path(p, s"run_id=$runId")
    val staging = new Path(p,
      s".staging-$runId-${java.util.UUID.randomUUID().toString}")
    import spark.implicits._
    Seq((lo, hi, System.currentTimeMillis()))
      .toDF("lo_watermark", "hi_watermark", "committed_at_epoch_ms")
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    def loseRace(cleanup: Path): Nothing = {
      fs.delete(cleanup, true)
      throw new IllegalStateException(
        s"run '$runId' was committed concurrently — lost the commit race " +
          s"(slot $commitDir already exists)")
    }
    if (fs.exists(commitDir)) loseRace(staging)
    val renamed = fs.rename(staging, commitDir)
    // some FileSystems rename INTO an existing destination directory
    // instead of failing — detect the nested landing and lose loudly
    val nested = new Path(commitDir, staging.getName)
    if (!renamed) loseRace(staging)
    if (fs.exists(nested)) loseRace(nested)
  }

  /** Run `body` over the next incremental interval and commit.
    *
    * `newHi` is the target watermark (e.g. the batch's max event
    * time, or "now" floored to the schedule grain — the caller's
    * clock discipline). `body(lo, hi)` must land its outputs
    * IDEMPOTENTLY before returning; the ledger row commits only
    * afterwards, via the atomic per-run_id rename ([[commit]]).
    * Returns the processed interval, or None when the run_id already
    * committed (replay) or the interval is empty (hi <= lo — the
    * scheduler fired early). Throws IllegalStateException when a
    * concurrent committer wins the SAME run_id's slot between this
    * run's probe and its commit.
    */
  def incrementalRun(spark: SparkSession, path: String, runId: String,
      newHi: Long, epochFloor: Long = Long.MinValue)(
      body: (Long, Long) => Unit): Option[(Long, Long)] = {
    validateRunId(runId)
    // ONE ledger scan answers both probes (replay guard + watermark) —
    // this sits on every scheduled run's hot path
    val probe = runs(spark, path).agg(
      max(col("hi_watermark")).as("hi"),
      sum(when(col("run_id") === runId, 1L).otherwise(0L)).as("seen"))
      .collect()(0)
    if (!probe.isNullAt(1) && probe.getLong(1) > 0) return None // replayed run: no-op
    val lo = if (probe.isNullAt(0)) epochFloor else probe.getLong(0)
    if (newHi <= lo) return None // nothing new to process
    body(lo, newHi) // outputs land first...
    commit(spark, path, runId, lo, newHi) // ...then the atomic commit
    Some((lo, newHi))
  }
}
