package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Boundary, Clusters, Dedup}

/** The continuous SemDeDup LOOP — the wired composition the probe
  * operators feed: a STANDING (node, cluster_id) labeling kept
  * current per micro-batch, with keep/drop DECISION DELTAS emitted as
  * each batch lands.
  *
  * Per batch:
  *   1. the standing embedding-LSH index is extended with the batch
  *      ([[Dedup.embeddingIndexAppend]] — replay-idempotent, so
  *      at-least-once foreachBatch delivery cannot duplicate index
  *      rows);
  *   2. the batch is probed against the EXTENDED index
  *      ([[Dedup.embeddingProbe]] — batch-only signing, probe keys
  *      broadcast), which surfaces corpus×batch AND batch×batch
  *      near-dup pairs in one pass (self-hits filtered, unordered
  *      pairs normalized);
  *   3. the new pairs fold into the standing labeling through the
  *      label-quotient graph ([[Clusters.incrementalComponents]] —
  *      CC rounds on the frontier-sized cluster graph, ONE remap join
  *      over the labeling); batch docs with no near-dup become their
  *      own singleton clusters;
  *   4. the emitted DELTA is every node whose (node → cluster_id)
  *      mapping is new or changed, with `keep = (node = cluster_id)`
  *      (min-id representative). That is the full decision feed: a
  *      newly-arrived duplicate emits `keep=false`; a batch that
  *      bridges two standing clusters re-labels the absorbed cluster,
  *      INCLUDING flipping its old representative to `keep=false` —
  *      the non-local effect a per-batch-only probe cannot express.
  *      A REPLAYED batch changes no mapping and emits an empty delta
  *      (idempotent against an upsert sink).
  *
  * State shape at 100 TB: the labeling is one (long, long) row per
  * corpus doc and the index one vector + `tables` band rows per doc —
  * both partitioned data, never driver state. Each batch touches the
  * corpus only in the one remap join and the id-projection anti-join
  * of the append; everything else is ∝ batch (probe candidates,
  * quotient CC). Standing frames are re-materialized lineage-free per
  * batch (`localCheckpoint`, the generation-swap pattern) so lineage
  * cannot grow with stream length; the durable cross-session twin is
  * [[checkpointTo]] / [[ClusterStream.resume]] on the
  * [[Clusters.clustersWrite]] bucketed table.
  *
  * CONCURRENCY: ingest/retract/checkpointTo/release are synchronized
  * on the loop instance — the takedown feed may run on a different
  * thread than the foreachBatch driver, and the index/labeling swap
  * is a read-modify-write that @volatile alone cannot make atomic
  * (an unsynchronized concurrent ingest+retract could silently drop
  * one side's swap: a lost batch or a resurrected retracted doc).
  * Contention is nil — one micro-batch at a time.
  */
/** The labeling-fold core shared by the embedding loop
  * ([[ClusterStream]]) and the text loop ([[TextClusterStream]]):
  * given the previous labeling, the batch ids and the new
  * (normalized, deduped) pairs, produce the next labeling
  * (lineage-free) and the decision delta (persisted, materialized
  * while the previous generation is still alive). */
private[graft] object ClusterFold {

  /** @return (next labels, delta). Caller releases `prev` AFTER this
    *         returns (the delta is already materialized). The pair
    *         frame is persisted for the duration of the fold: the CC
    *         inside is ITERATIVE, and an unpersisted pair plan would
    *         re-derive its candidate joins every round. */
  def ingestFold(prev: DataFrame, ids: DataFrame,
      pairs: DataFrame): (DataFrame, DataFrame) = {
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // batch ids ride the incremental remap as extraNodes: edge-less
    // new docs become their own singleton label inside the SAME
    // resolution join, so each ingest pays exactly two labeling-sized
    // exchanges (resolution + remap) — not a third anti-join against
    // the corpus-sized result (r7 verdict plan-tightening)
    val next = Clusters.incrementalComponents(prev, p, "vec_a", "vec_b",
      extraNodes = Some(ids)).localCheckpoint(true)
    val delta = changedDelta(next, prev)
    p.unpersist(blocking = false)
    (next, delta)
  }

  /** Retraction fold: untouched clusters pass through, the touched
    * clusters' remaining members re-cluster from `subPairs`, and the
    * delta carries tombstones (cluster_id NULL) + changed mappings. */
  def retractFold(prev: DataFrame, del: DataFrame, touched: DataFrame,
      remaining: DataFrame, subPairs: DataFrame): (DataFrame, DataFrame) = {
    val p = subPairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cc = Clusters.connectedComponents(p, "vec_a", "vec_b")
    val singles = remaining.select("node")
      .join(cc.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster_id"))
    val untouched = prev.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("node"), col("cluster_id"))
    val next = untouched.union(cc.select(col("node"), col("cluster_id")))
      .union(singles).localCheckpoint(true)
    val tombstones = del.join(prev, Seq("node"), "left_semi")
      .select(col("node"), lit(null).cast("long").as("cluster_id"),
        lit(false).as("keep"))
    val delta = changedDelta(next, prev, materialize = false)
      .union(tombstones)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    delta.count() // materialize while prev is still alive
    p.unpersist(blocking = false)
    (next, delta)
  }

  private def changedDelta(next: DataFrame, prev: DataFrame,
      materialize: Boolean = true): DataFrame = {
    val changed = next.as("n")
      .join(prev.select(col("node"), col("cluster_id").as("old_cid")).as("p"),
        Seq("node"), "left")
      .filter(col("old_cid").isNull || col("old_cid") =!= col("cluster_id"))
      .select(col("node"), col("cluster_id"),
        (col("node") === col("cluster_id")).as("keep"))
    if (!materialize) changed
    else {
      val delta = changed
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      delta.count()
      delta
    }
  }

  /** Normalize a raw pair frame (possibly with self-hits and both
    * orientations) to deduped unordered (vec_a < vec_b) pairs. */
  def normalizePairs(raw: DataFrame, aCol: String, bCol: String): DataFrame =
    raw.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("vec_a"),
        greatest(col(aCol), col(bCol)).as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
}

/** TOMBSTONED-id bookkeeping shared by the SemDeDup loops (r18 —
  * previously ~100 near-identical lines in each loop): retraction
  * marks ids dead instead of rewriting the standing index, because a
  * takedown's cost must track the touched clusters, not the index
  * size (a per-takedown generation-swap of a 100 TB index is the
  * scan the retract probe kept paying). Probes filter pairs against
  * this set (broadcast anti-joins, tomb-sized); a threshold
  * compaction amortizes the one physical index rewrite over many
  * takedowns. The OWNER performs the actual rewrite (the index
  * family's remove fn) and calls [[reset]].
  *
  * The set is SESSION-LOCAL by design — which is exactly why every
  * durable landing (checkpoint, index write, external
  * `standingIndex` read) must compact FIRST: a resumed session
  * starts with zero tombs, so any dead row that reaches disk
  * silently resurrects retracted content (the r17 hole). */
private[graft] final class TombSet(session: => SparkSession) {
  @volatile private var tombsState: DataFrame = _
  @volatile private var countState: Long = 0L

  def count: Long = countState
  private def empty(): DataFrame =
    session.range(0).select(col("id").as("node"))
  def live(): DataFrame = {
    if (tombsState == null) tombsState = empty()
    tombsState
  }

  /** Fold a retraction's (already distinct, `node`-columned) ids in —
    * tomb-sized work (union + distinct + count over the tomb set). */
  def add(del: DataFrame): Unit = {
    val old = live()
    val next = old.union(del).distinct().localCheckpoint(true)
    countState = next.count()
    old.unpersist(blocking = false)
    tombsState = next
  }

  /** Drop every pair touching a tombstoned id (two broadcast
    * anti-joins; no-op frame-identical when the set is empty). */
  def dropPairs(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    if (countState == 0L) pairs
    else pairs
      .join(broadcast(live().select(col("node").as(aCol))), Seq(aCol), "left_anti")
      .join(broadcast(live().select(col("node").as(bCol))), Seq(bCol), "left_anti")

  /** Does a batch re-admit a tombstoned id? (1-row short-circuit —
    * the owner compacts first so the index append's already-indexed
    * anti-join sees no dead rows and the re-add actually lands.) */
  def intersects(ids: DataFrame): Boolean =
    countState > 0L &&
      ids.join(live(), Seq("node"), "left_semi").limit(1).count() > 0

  /** Compaction trigger — DERIVED from the standing-index size (r17
    * hard-coded 100k; the CapPolicy convention): see
    * [[TombSet.compactThreshold]]. `indexSize` is by-name — only
    * evaluated when tombs exist (one count over the materialized
    * index id table). */
  def needsCompact(indexSize: => Long): Boolean =
    countState > 0L && countState >= TombSet.compactThreshold(indexSize)

  /** Reset after the owner physically removed the tombstoned rows. */
  def reset(): Unit = {
    if (tombsState != null) tombsState.unpersist(blocking = false)
    tombsState = empty()
    countState = 0L
  }

  def release(): Unit =
    if (tombsState != null) tombsState.unpersist(blocking = false)
}

private[graft] object TombSet {
  /** Tomb count that triggers a physical index compaction. */
  val floor = 10000L
  /** Fraction of the index a tomb set may reach before compacting. */
  val eps = 0.05

  /** max(floor, ε·N) capped at N: proportional, so a 100 TB index is
    * not rewritten too eagerly, with an absolute floor amortizing
    * small indexes — but never letting the tomb set outgrow the
    * index itself (a small standing index must not carry a tomb set
    * larger than the rows it guards; at that point the rewrite is
    * cheaper than the standing anti-joins). */
  def compactThreshold(indexSize: Long): Long =
    math.max(1L, math.min(indexSize,
      math.max(floor, (eps * indexSize).toLong)))
}

final class ClusterStream private (
    @volatile private var index: Dedup.EmbeddingLshIndex,
    @volatile private var labelsState: DataFrame,
    idCol: String, vecCol: String, tau: Double, probeRadius: Int) {

  /** The standing (node, cluster_id) labeling (read-only view). */
  def labels: DataFrame = labelsState

  /** The standing embedding index (lifecycle owned by this loop —
    * [[release]]). COMPACTS FIRST when tombs are outstanding (r18):
    * this accessor is the only way external code — in particular a
    * durable [[Dedup.embeddingIndexWrite]] landing — reaches the
    * index, and the tomb set is session-local, so a landed index
    * carrying tombstoned rows would resurrect retracted content on
    * [[ClusterStream.resume]] (zero tombs there). The internal fast
    * paths read the private field and stay tombstone-amortized.
    *
    * COST NOTE (r18 ADVICE): because of that contract, merely
    * READING this accessor with tombs outstanding pays a full
    * physical index rewrite (a generation swap). Monitoring-style
    * reads that only need sizes should track the loop's own deltas;
    * durable landings should prefer the one-call
    * [[checkpointIndexTo]] recipe, which owns the same compaction
    * explicitly. */
  def standingIndex: Dedup.EmbeddingLshIndex = synchronized {
    if (tombSet.count > 0L) compact()
    index
  }

  // TOMBSTONED ids (r17; shared bookkeeping hoisted to [[TombSet]]
  // r18): retraction marks ids dead instead of rewriting the
  // standing index — probes filter pairs against the set, a derived
  // threshold compaction amortizes the one physical rewrite.
  private val tombSet = new TombSet(labelsState.sparkSession)
  // r19 (r18 verdict item 3): the index row count as MAINTAINED
  // driver state. The index changes only at append/compact, so the
  // retract path's threshold check must not re-run an O(index
  // partitions) count job per takedown — the count is computed at
  // most ONCE per index generation (lazily, over the
  // already-materialized cached table) and invalidated exactly where
  // the generation swaps. A takedown burst — the hot retract path —
  // pays zero count jobs after the first.
  @volatile private var indexSizeState: Long = -1L
  private def indexSize(): Long = {
    if (indexSizeState < 0L) indexSizeState = index.vecs.count()
    indexSizeState
  }
  /** Physically drop all tombstoned rows from the index (ONE
    * generation swap absorbing every takedown since the last
    * compaction) and reset the tomb set. */
  private def compact(): Unit = {
    index = Dedup.embeddingIndexRemove(index,
      tombSet.live().select(col("node").as("id")), "id")
    indexSizeState = -1L // generation swap: size re-derives on demand
    tombSet.reset()
  }

  /** Fold one micro-batch of (id, vector) docs into the standing
    * state and return the decision delta:
    * `(node, cluster_id, keep)` for every node whose mapping is new
    * or changed. The delta is eagerly persisted (the pair-operator
    * caching contract) — callers unpersist when consumed. */
  def ingest(batch: DataFrame): DataFrame = synchronized {
    val prev = labelsState
    val ids = batch.select(col(idCol).cast("long").as("node")).distinct()
    // RE-ADMISSION of a tombstoned id compacts first (rare): the
    // append's already-indexed anti-join would otherwise see the
    // dead rows and silently skip the live re-add, resurrecting the
    // RETRACTED content instead of indexing the new
    if (tombSet.intersects(ids)) compact()
    // append first, then probe AGAINST THE EXTENDED index: one pass
    // yields corpus×batch and batch×batch pairs (a batch doc meets
    // itself — filtered — and each batch-internal pair meets in both
    // orientations — normalized + deduped)
    val extended = Dedup.embeddingIndexAppend(index, batch, idCol, vecCol)
    val raw = Dedup.embeddingProbe(extended, batch, idCol, vecCol, tau, probeRadius)
    // tombstoned corpus rows may still sit in the un-compacted index:
    // their candidate hits die here, so a retracted doc can never
    // match a probe or re-enter the labeling
    val pairs = tombSet.dropPairs(
      ClusterFold.normalizePairs(raw, "vec_a", "vec_b"), "vec_a", "vec_b")
    // generation swap inside the fold: the new labeling materializes
    // lineage-free BEFORE the old one is released (foreachBatch
    // frames are not replayable after the micro-batch ends)
    val (next, delta) = ClusterFold.ingestFold(prev, ids, pairs)
    Boundary.release(raw)
    prev.unpersist(blocking = false)
    index = extended
    indexSizeState = -1L // appended a batch: size re-derives on demand
    labelsState = next
    delta
  }

  /** RETRACT documents from the standing state — the takedown path
    * (deleted/redacted corpus docs must stop matching probes AND
    * leave the clustering as if they never arrived). Removal from a
    * labeling is not a row delete: dropping a BRIDGE doc must SPLIT
    * its cluster, and dropping a representative renames the cluster
    * to its new min member. Both fall out of a LOCALIZED recompute:
    *
    *   1. the ids join the standing TOMB SET (r17 — the index is NOT
    *      rewritten per takedown: marking is tomb-sized, and the
    *      physical [[Dedup.embeddingIndexRemove]] rewrite is
    *      amortized behind a threshold compaction, so retraction
    *      cost no longer scales with standing-state size);
    *   2. only the TOUCHED clusters (those containing a retracted
    *      node) are re-clustered: their remaining members' pairs are
    *      re-derived from the index restricted to exactly those ids
    *      ([[Dedup.embeddingPairsFromIndex]] over a filtered view —
    *      work ∝ touched-cluster membership, not corpus; the
    *      restriction set never contains a tombstoned id), and CC
    *      re-runs on that subgraph;
    *   3. untouched clusters pass through without recompute — the
    *      corpus-sized work is the two labeling anti-joins/scans and
    *      the labeling generation swap.
    *
    * Returns the decision delta: retracted nodes as tombstones
    * (`cluster_id` NULL, `keep` false), plus every surviving node
    * whose mapping changed (splits, representative renames) with the
    * usual `keep = (node = cluster_id)`. Retracting unknown ids is a
    * no-op. Eagerly persisted — callers unpersist. */
  def retract(ids: DataFrame): DataFrame = synchronized {
    val prev = labelsState
    val del = ids.select(col(ids.columns.head).cast("long").as("node")).distinct()

    tombSet.add(del) // tomb-sized driver action
    val touched = prev.join(del, Seq("node"), "left_semi")
      .select(col("cluster_id")).distinct()
    val remaining = prev.join(touched, Seq("cluster_id"))
      .join(del, Seq("node"), "left_anti")
    // pairs among the remaining members of touched clusters, from the
    // index restricted to those ids — candidate join + cosine verify
    // scoped to the touched membership (prev never labels a
    // tombstoned node, so the restriction excludes dead rows without
    // consulting the tomb set)
    val remIds = remaining.select(col("node").as("id"))
    val sub = Dedup.EmbeddingLshIndex(
      index.vecs.join(remIds, Seq("id"), "left_semi"),
      index.banded.join(remIds, Seq("id"), "left_semi"),
      index.dim, index.bits, index.tables, index.seed)
    val pairs = Dedup.embeddingPairsFromIndex(sub, tau, probeRadius)
    val (next, delta) =
      ClusterFold.retractFold(prev, del, touched, remaining, pairs)
    Boundary.release(pairs)
    prev.unpersist(blocking = false)
    labelsState = next
    // derived threshold (r18) against the MAINTAINED size (r19): no
    // per-retract count job — indexSize() memoizes per generation
    if (tombSet.needsCompact(indexSize())) compact()
    delta
  }

  /** Land the standing labeling durably ([[Clusters.clustersWrite]]
    * contract — node-bucketed, similarity-regime params stamped).
    * Compacts outstanding tombstones first (r18): a checkpoint marks
    * a durable-landing moment, and the tomb set does NOT survive the
    * session — [[ClusterStream.resume]] starts with zero tombs, so
    * anything landed around this point must already be clean. */
  def checkpointTo(table: String, sourceParams: Map[String, String],
      buckets: Int = 16): Unit = synchronized {
    if (tombSet.count > 0L) compact()
    Clusters.clustersWrite(labelsState, table, sourceParams, buckets)
  }

  /** Land the standing INDEX durably — the one-call durable-index
    * recipe that owns compaction (r18; pairs with [[checkpointTo]]
    * for the labeling half and [[ClusterStream.resume]] to reattach
    * both). Rows re-band from the landed vectors inside
    * [[Dedup.embeddingIndexWrite]]; LSH params are stamped and
    * validated on load. */
  def checkpointIndexTo(vecsTable: String, bandTable: String,
      buckets: Int = 16): Unit = synchronized {
    if (tombSet.count > 0L) compact()
    Dedup.embeddingIndexWrite(index.vecs.select(col("id"), col("v")),
      "id", "v", index.dim, index.bits, index.tables, index.seed,
      vecsTable, bandTable, buckets)
  }

  def release(): Unit = synchronized {
    index.release()
    labelsState.unpersist(blocking = false)
    tombSet.release()
  }
}

/** The TEXT-granularity twin of [[ClusterStream]]: continuous dedup
  * DECISIONS over documents, with MinHash-LSH near-dup pairs feeding
  * the same standing (node, cluster_id) labeling — the loop a text
  * corpus runs when embeddings aren't available (or alongside the
  * embedding loop at a different similarity regime). Identical
  * contract: per-batch keep/drop deltas (empty on replay), takedown
  * [[retract]] with localized re-clustering, durable checkpoint via
  * [[Clusters.clustersWrite]] + [[Dedup.minhashIndexWrite]]. The
  * fold core is shared ([[ClusterFold]]); only the index family and
  * pair derivation differ. */
final class TextClusterStream private (
    @volatile private var index: Dedup.MinhashIndex,
    @volatile private var labelsState: DataFrame,
    idCol: String, textCol: String, tau: Double) {

  def labels: DataFrame = labelsState

  /** The standing text index — COMPACTS FIRST when tombs are
    * outstanding, for the same reason as the embedding twin (r18):
    * every external/durable consumer of the index goes through this
    * accessor, and the session-local tomb set cannot protect a row
    * that reaches disk. Same COST NOTE as the twin: a read with
    * tombs outstanding pays the physical rewrite — durable landings
    * should prefer [[checkpointIndexTo]]. */
  def standingIndex: Dedup.MinhashIndex = synchronized {
    if (tombSet.count > 0L) compact()
    index
  }

  // tombstoned ids — the [[ClusterStream]] takedown convention
  // (r17; shared bookkeeping hoisted to [[TombSet]] r18)
  private val tombSet = new TombSet(labelsState.sparkSession)
  // maintained index size (r19) — see the embedding twin
  @volatile private var indexSizeState: Long = -1L
  private def indexSize(): Long = {
    if (indexSizeState < 0L) indexSizeState = index.sigs.count()
    indexSizeState
  }
  private def compact(): Unit = {
    index = Dedup.minhashIndexRemove(index,
      tombSet.live().select(col("node").as("doc_id")), "doc_id")
    indexSizeState = -1L
    tombSet.reset()
  }

  /** Fold one micro-batch of (id, text) docs into the standing state;
    * returns the (node, cluster_id, keep) decision delta (persisted —
    * callers unpersist). */
  def ingest(batch: DataFrame): DataFrame = synchronized {
    val prev = labelsState
    val ids = batch.select(col(idCol).cast("long").as("node")).distinct()
    // re-admission of a tombstoned id compacts first — see
    // [[ClusterStream.ingest]]
    if (tombSet.intersects(ids)) compact()
    val extended = Dedup.minhashIndexAppend(index, batch, idCol, textCol)
    val raw = Dedup.minhashProbe(extended, batch, idCol, textCol, tau)
    val pairs = tombSet.dropPairs(
      ClusterFold.normalizePairs(raw, "doc_a", "doc_b"), "vec_a", "vec_b")
    val (next, delta) = ClusterFold.ingestFold(prev, ids, pairs)
    Boundary.release(raw)
    prev.unpersist(blocking = false)
    index = extended
    indexSizeState = -1L
    labelsState = next
    delta
  }

  /** Takedown — [[ClusterStream.retract]] at text granularity:
    * tombstone the ids (no per-takedown index rewrite; threshold
    * compaction amortizes the physical
    * [[Dedup.minhashIndexRemove]]) + localized re-cluster of the
    * touched clusters from the index restricted to their remaining
    * members. */
  def retract(ids: DataFrame): DataFrame = synchronized {
    val prev = labelsState
    val del = ids.select(col(ids.columns.head).cast("long").as("node")).distinct()
    tombSet.add(del)
    val touched = prev.join(del, Seq("node"), "left_semi")
      .select(col("cluster_id")).distinct()
    val remaining = prev.join(touched, Seq("cluster_id"))
      .join(del, Seq("node"), "left_anti")
    val remIds = remaining.select(col("node").as("doc_id"))
    val sub = Dedup.MinhashIndex(
      index.sigs.join(remIds, Seq("doc_id"), "left_semi"),
      index.banded.join(remIds, Seq("doc_id"), "left_semi"),
      index.k, index.perms, index.bands)
    // the raw pairs are lazy (retractFold persists its own
    // normalized copy): nothing to release after the fold
    val pairs = ClusterFold.normalizePairs(
      Dedup.minhashPairsFromIndex(sub, tau), "doc_a", "doc_b")
    val (next, delta) =
      ClusterFold.retractFold(prev, del, touched, remaining, pairs)
    prev.unpersist(blocking = false)
    labelsState = next
    // maintained size (r19): no per-retract count job
    if (tombSet.needsCompact(indexSize())) compact()
    delta
  }

  /** Durable labeling landing — compacts outstanding tombstones
    * first; see [[ClusterStream.checkpointTo]]. */
  def checkpointTo(table: String, sourceParams: Map[String, String],
      buckets: Int = 16): Unit = synchronized {
    if (tombSet.count > 0L) compact()
    Clusters.clustersWrite(labelsState, table, sourceParams, buckets)
  }

  /** Land the standing text index durably — the one-call
    * durable-index recipe owning compaction (r18). The loop holds
    * signatures, not source texts, so the landing goes through
    * [[Dedup.minhashIndexWriteSigned]] (identical table layout +
    * param stamps to [[Dedup.minhashIndexWrite]];
    * [[Dedup.minhashIndexLoad]] reattaches). */
  def checkpointIndexTo(sigsTable: String, bandTable: String,
      buckets: Int = 16): Unit = synchronized {
    if (tombSet.count > 0L) compact()
    Dedup.minhashIndexWriteSigned(index, sigsTable, bandTable, buckets)
  }

  def release(): Unit = synchronized {
    index.release()
    labelsState.unpersist(blocking = false)
    tombSet.release()
  }
}

object TextClusterStream {

  /** Start from an already-labeled corpus (index + labeling; the
    * loop takes ownership of both). */
  def apply(index: Dedup.MinhashIndex, labels: DataFrame,
      idCol: String, textCol: String, tau: Double): TextClusterStream =
    new TextClusterStream(index,
      labels.select(col("node"), col("cluster_id")).localCheckpoint(true),
      idCol, textCol, tau)

  /** Cold start: the first batches build the corpus. */
  def empty(spark: org.apache.spark.sql.SparkSession,
      idCol: String, textCol: String,
      k: Int, perms: Int, bands: Int, tau: Double): TextClusterStream = {
    import spark.implicits._
    val noSigs = Seq.empty[(Long, Seq[Long])].toDF("doc_id", "sig")
    val noBands = Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bh")
    val noLabels = Seq.empty[(Long, Long)].toDF("node", "cluster_id")
    new TextClusterStream(Dedup.MinhashIndex(noSigs, noBands, k, perms, bands),
      noLabels, idCol, textCol, tau)
  }

  /** Resume from the durable pair — a [[Dedup.minhashIndexLoad]]ed
    * index and a [[Clusters.clustersLoad]]ed labeling (params
    * validated by those loaders; a hash-family or similarity-regime
    * mismatch throws there) — the [[ClusterStream.resume]] twin. */
  def resume(spark: org.apache.spark.sql.SparkSession,
      sigsTable: String, bandTable: String, clustersTable: String,
      clusterParams: Map[String, String], idCol: String, textCol: String,
      k: Int, perms: Int, bands: Int, tau: Double): TextClusterStream =
    apply(Dedup.minhashIndexLoad(spark, sigsTable, bandTable, k, perms, bands),
      Clusters.clustersLoad(spark, clustersTable, clusterParams),
      idCol, textCol, tau)

  /** Drive from a stream: one ingest per micro-batch, delta handed to
    * `onBatch` (idempotent upsert sink; replays emit empty deltas). */
  def semdedupQuery(stream: Dataset[DedupStream.Doc], loop: TextClusterStream)
      (onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[DedupStream.Doc], _: Long) =>
        val delta = loop.ingest(batch.toDF())
        try onBatch(delta) finally delta.unpersist(blocking = false)
      }
      .start()
}

object ClusterStream {

  /** Start a loop from an already-labeled standing corpus: `index`
    * over the corpus vectors and `labels` its (node, cluster_id)
    * labeling (e.g. a previous [[Clusters.connectedComponents]] run
    * over [[Dedup.embeddingPairsFromIndex]] pairs). The loop takes
    * ownership of both. */
  def apply(index: Dedup.EmbeddingLshIndex, labels: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      probeRadius: Int = 0): ClusterStream =
    new ClusterStream(index,
      labels.select(col("node"), col("cluster_id")).localCheckpoint(true),
      idCol, vecCol, tau, probeRadius)

  /** Start a loop from EMPTY state (cold start: the first batches
    * build the corpus). */
  def empty(spark: org.apache.spark.sql.SparkSession,
      idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, seed: Long, tau: Double,
      probeRadius: Int = 0): ClusterStream = {
    import spark.implicits._
    val noVecs = Seq.empty[(Long, Seq[Double], Double)].toDF("id", "v", "n2")
    val noBands = Seq.empty[(Long, Int, Long)].toDF("id", "tbl", "bucket")
    val noLabels = Seq.empty[(Long, Long)].toDF("node", "cluster_id")
    new ClusterStream(
      Dedup.EmbeddingLshIndex(noVecs, noBands, dim, bits, tables, seed),
      noLabels, idCol, vecCol, tau, probeRadius)
  }

  /** Resume a loop from the durable pair: a
    * [[Dedup.embeddingIndexLoad]]ed index and a
    * [[Clusters.clustersLoad]]ed labeling (params validated by those
    * loaders — a similarity-regime mismatch throws there). */
  def resume(spark: org.apache.spark.sql.SparkSession,
      vecsTable: String, bandTable: String, clustersTable: String,
      clusterParams: Map[String, String], idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, seed: Long, tau: Double,
      probeRadius: Int = 0): ClusterStream =
    apply(Dedup.embeddingIndexLoad(spark, vecsTable, bandTable, dim, bits, tables, seed),
      Clusters.clustersLoad(spark, clustersTable, clusterParams),
      idCol, vecCol, tau, probeRadius)

  /** Drive the loop from a stream: one [[ClusterStream.ingest]] per
    * micro-batch, the decision delta handed to `onBatch` (an
    * idempotent upsert sink in production — replays emit empty
    * deltas). The delta's persist is released when `onBatch`
    * returns. */
  def semdedupQuery(stream: Dataset[DedupStream.EmbDoc], loop: ClusterStream)
      (onBatch: DataFrame => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[DedupStream.EmbDoc], _: Long) =>
        val delta = loop.ingest(batch.toDF())
        try onBatch(delta) finally delta.unpersist(blocking = false)
      }
      .start()
}
