package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.sources.{StampedTables, Tables}

/** Single-task min-root union-find over Long node ids — the in-memory
  * strategy [[Clusters.connectedComponents]] dispatches to when the
  * MEASURED edge count fits one task (the AQE-broadcast reasoning
  * applied to a fixpoint: when the whole graph provably fits one
  * task's memory, one linear union-find pass replaces the entire
  * distributed convergence loop and its per-round driver actions).
  *
  * Open-addressed (linear probing, splitmix64-mixed), doubling at
  * half load; path-halving find. Unions attach the larger root under
  * the smaller, so the invariant "root = min id of its set" holds at
  * every step and the emitted labels match the distributed min-label
  * loop EXACTLY (property-spec'd against it on random graphs).
  */
private[graft] final class LongUnionFind {
  private val EMPTY = Long.MinValue
  private var cap = 16
  private var mask = cap - 1
  private var keys = Array.fill[Long](cap)(EMPTY)
  private var parent = new Array[Int](cap)
  private var n = 0

  /** The slot holding `k`, or the empty slot where it would go. */
  private def slot(k: Long): Int = {
    // splitmix64 finalizer: ids are typically sequential — spread them
    var h = k
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^= h >>> 31
    var i = h.toInt & mask
    while (keys(i) != k && keys(i) != EMPTY) i = (i + 1) & mask
    i
  }

  /** Double the table, keeping the load at most one half: every slot
    * index moves, so parents are remapped through the new slots. */
  private def grow(): Unit = {
    require(cap < (1 << 29), s"LongUnionFind is full at $n nodes")
    val (oldKeys, oldParent) = (keys, parent)
    cap <<= 1; mask = cap - 1
    keys = Array.fill[Long](cap)(EMPTY)
    parent = new Array[Int](cap)
    val moved = new Array[Int](oldKeys.length)
    for (i <- oldKeys.indices if oldKeys(i) != EMPTY) {
      val j = slot(oldKeys(i))
      keys(j) = oldKeys(i)
      moved(i) = j
    }
    for (i <- oldKeys.indices if oldKeys(i) != EMPTY)
      parent(moved(i)) = moved(oldParent(i))
  }

  /** `k`'s slot, inserting it; the caller made room first. */
  private def idx(k: Long): Int = {
    require(k != EMPTY, "node id Long.MinValue is reserved")
    val i = slot(k)
    if (keys(i) != k) { keys(i) = k; parent(i) = i; n += 1 }
    i
  }

  private def find(s0: Int): Int = {
    var s = s0
    while (parent(s) != s) { parent(s) = parent(parent(s)); s = parent(s) }
    s
  }

  def union(a: Long, b: Long): Unit = {
    // grow before either insert: a grow moves every slot index
    if (2 * (n + 2) > cap) grow()
    val ra = find(idx(a))
    val rb = find(idx(b))
    if (ra != rb) {
      if (keys(ra) <= keys(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** (node, min id of its component) for every id ever seen. */
  def labels: Iterator[(Long, Long)] =
    Iterator.range(0, cap).filter(i => keys(i) != EMPTY)
      .map(i => (keys(i), keys(find(i))))
}

/** Connected components over a near-duplicate pair list — the step
  * that turns pairwise dedup output into dedup decisions (keep one
  * doc per cluster, drop the rest).
  *
  * Min-label propagation with pointer jumping: every node starts as
  * its own label; each round every node takes the min of its own and
  * its neighbors' labels, and (from round 3, once dense clusters have
  * already converged) the min of its label's own label — the shortcut
  * step that makes long-chain convergence O(log diameter) rounds
  * instead of O(diameter). Each round is one co-partitioned join +
  * aggregate (plus one self-join in jump rounds) — the Pregel/
  * "shortcutting" step of Kiveris et al.'s MapReduce
  * connected-components family. Lineage is truncated per round so
  * plans stay flat no matter the iteration count.
  *
  * Checkpointing: with a configured checkpoint dir the rounds use
  * reliable checkpoints (executor loss mid-iteration cannot kill the
  * lineage-truncated frames on a real cluster), and superseded
  * generations' files are deleted as soon as the next generation has
  * materialized — at return, only the FINAL labels snapshot remains
  * on disk (it backs the returned frame; it is cleaned with the
  * application's checkpoint dir). The checkpoint dir is assumed
  * private to this application, as Spark itself assumes. Without a
  * checkpoint dir, executor-local checkpoints are used (a lost
  * executor fails the job, which is then rerun — acceptable for a
  * retryable batch operator): the loop unpersists each superseded
  * labeling and jump intermediate once the next generation's count
  * has filled it, and the edge set when it returns, so only the
  * returned labels' blocks stay. The single-task path's result is
  * lazy over the edge set's blocks, so those stay until the context
  * cleaner collects them.
  */
object Clusters {

  /** Symmetrized-edge-row count at or below which the single-task
    * union-find strategy replaces the distributed loop (2²¹ rows =
    * ~1M undirected pairs ⇒ ≤2M distinct nodes ⇒ ≤96 MB of union-find
    * arrays in the one task — comfortably inside any sane executor).
    * The count is MEASURED on the already-materialized edge frame
    * (one job over checkpointed blocks), so the dispatch is a
    * runtime fact, not a guess — above it the loop runs unchanged.
    * The probe costs ≤ half a round at ANY scale (the loop reads the
    * same blocks twice per round, and runs ~log₂(diameter)+2
    * rounds), so even a corpus-sized graph pays ~5% for the
    * possibility of skipping the whole loop. */
  private[operators] val LocalEdgeThreshold: Long = 1L << 21

  /** @param truncateEvery lineage-truncation cadence (the pagerank
    *        knob): 1 (default) materializes every round — right for
    *        corpus-sized graphs, where re-executing a round to serve
    *        the convergence count would be expensive; k>1 checkpoints
    *        every k-th round and lets the in-between convergence
    *        counts re-execute the joins since the last checkpoint —
    *        right for FRONTIER-sized graphs (the incremental fold's
    *        quotient CC), where each skipped eager materialization
    *        saves a whole driver-scheduled job and the recompute is a
    *        few hundred rows. NOTE the recompute is not linear in the
    *        skipped rounds: each un-truncated jump round references
    *        its parent TWICE (propagate + self-join), so a
    *        convergence count can re-execute up to 2^(k-1) copies of
    *        the last checkpointed chain — bounded and cheap at the
    *        default k≤3 on frontier-sized graphs, but do not raise k
    *        on deep chains. Plan depth stays ≤ k (bounded). Forced
    *        to 1 under a reliable checkpoint dir: the
    *        generation-deletion bookkeeping assumes each round's
    *        frame is file-backed before its parent is deleted, and
    *        on a real cluster per-round truncation is what you want
    *        anyway.
    * @return (node, cluster_id) for every node appearing in `pairs`,
    *         cluster_id = min node id of the component. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, truncateEvery: Int = 1): DataFrame = {
    require(truncateEvery >= 1, s"truncateEvery $truncateEvery must be >= 1")
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    lazy val ckptPath = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
    lazy val fs = ckptPath.getFileSystem(sc.hadoopConfiguration)

    def listDir(): Set[String] =
      if (!reliable) Set.empty
      else fs.listStatus(ckptPath).map(_.getPath.toString).toSet

    // truncate lineage; returns the materialized frame + the
    // checkpoint files that back it (reliable mode only)
    def truncate(df: DataFrame): (DataFrame, Set[String]) =
      if (!reliable) (df.localCheckpoint(true), Set.empty)
      else {
        val before = listDir()
        val cp = df.checkpoint(true)
        (cp, listDir() -- before)
      }

    def delete(files: Set[String]): Unit =
      files.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))

    // the local-checkpoint RDDs a non-reliable frame reads, and their
    // release: a superseded generation is freed at once, not when a GC
    // lets the context cleaner find it
    def blocks(df: DataFrame): Set[Int] =
      if (reliable) Set.empty
      else ColumnBridge.leafRddIds(df.queryExecution.analyzed).toSet
    def free(ids: Set[Int]): Unit = {
      val rdds = sc.getPersistentRDDs
      ids.foreach(id => rdds.get(id).foreach(_.unpersist(blocking = false)))
    }

    // undirected: propagate both ways. Non-reliable mode marks the
    // checkpoint LAZILY — the dispatch count below (or the first
    // round) materializes + lineage-truncates in the SAME action
    // (the r13 fusion applied to the edge frame: one driver action,
    // not a truncation job plus a count job). Reliable mode keeps
    // the eager form — the file bookkeeping needs the write fenced.
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val (e, eFiles) =
      if (reliable) truncate(sym) else (sym.localCheckpoint(false), Set.empty[String])

    // ADAPTIVE STRATEGY PICK — the broadcast-join decision applied to
    // a fixpoint. The convergence loop costs one driver action (plus
    // its AQE exchange jobs) per round; a graph that provably fits
    // one task needs none of that — one linear union-find pass over
    // the materialized edge blocks IS the fixpoint (DuckDB's
    // recursive CTE runs the same computation in-process; matching
    // it when the data is measured-tiny is honest adaptivity, not a
    // shortcut — the loop below is what runs at corpus scale).
    val nodeType = e.schema("src").dataType
    val integral = nodeType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // Counted, no size pre-gate: an upstream join multiplies `e`'s
    // estimate (the incremental fold's 110 rows read 440 GB at sf0.1),
    // and the count fills the lazy checkpoint the loop reads anyway.
    if (Tier.pick("cc", Tier.Input, e, Tier.CountedRows(LocalEdgeThreshold))(integral)) {
      import e.sparkSession.implicits._
      val out = e
        .select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .coalesce(1) // no exchange: one task fetches the blocks
        .mapPartitions { it =>
          val uf = new LongUnionFind
          it.foreach { case (a, b) => uf.union(a, b) }
          uf.labels
        }
        .toDF("node", "cluster_id")
        .select(col("node").cast(nodeType).as("node"),
          col("cluster_id").cast(nodeType).as("cluster_id"))
      // non-reliable mode: stay lazy — re-execution reads the
      // localCheckpointed blocks and union-find is deterministic.
      // Reliable mode: land the labels as the one surviving
      // snapshot so the edge generation can be deleted (the loop's
      // contract: at return only the final labels remain on disk).
      return if (!reliable) out
      else {
        val cp = out.checkpoint(true)
        delete(eFiles)
        cp
      }
    }

    var (labels, liveFiles) = truncate(
      e.select(col("src").as("node")).distinct()
        .withColumn("cluster_id", col("node")))
    var liveBlocks = blocks(labels)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val doTrunc = reliable || (iter + 1) % truncateEvery == 0
      // neighbor min
      val nbMin = e.join(labels, e("dst") === labels("node"))
        .groupBy(col("src").as("nb_node"))
        .agg(min("cluster_id").as("nb_min"))
      val prop = labels.join(nbMin, col("node") === col("nb_node"), "left")
        .select(col("node"), col("cluster_id").as("old_cluster"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id"))).as("mid"))
      // dense near-dup clusters converge in ≤2 plain rounds — pay for
      // the pointer-jumping self-join only once a long chain is the
      // plausible remaining shape. In truncating rounds prop is
      // materialized BEFORE the self-join so the propagate join runs
      // once, not twice; in frugal (k>1) rounds the double execution
      // of a frontier-sized chain is cheaper than the extra job.
      var stepBlocks = Set.empty[Int]
      val (stepped, stepFiles) =
        if (iter < 2) (prop, Set.empty[String])
        else if (doTrunc) {
          val (p, pf) = truncate(prop)
          stepBlocks = blocks(p)
          val jump = p.select(col("node").as("j_node"), col("mid").as("j_mid"))
          (p.join(jump, col("mid") === col("j_node"), "left")
            .select(col("node"), col("old_cluster"),
              least(col("mid"), coalesce(col("j_mid"), col("mid"))).as("mid")), pf)
        } else {
          val jump = prop.select(col("node").as("j_node"), col("mid").as("j_mid"))
          (prop.join(jump, col("mid") === col("j_node"), "left")
            .select(col("node"), col("old_cluster"),
              least(col("mid"), coalesce(col("j_mid"), col("mid"))).as("mid")),
            Set.empty[String])
        }
      val stepOut = stepped.select(col("node"),
        col("mid").as("cluster_id"),
        (col("mid") < col("old_cluster")).as("chg"))
      // LAZY truncation fused with the convergence count (r13): the
      // checkpoint is only MARKED here; the changed-count action —
      // which must run every round anyway — computes the frame,
      // caches its blocks, and truncates lineage in the SAME job, so
      // a truncating round costs one driver-scheduled action, not
      // two (reliable mode writes its checkpoint files in the
      // follow-up job Spark schedules automatically — bookkeeping
      // reads the dir around the action either way)
      // reliable mode persists the frame BEFORE marking the lazy
      // checkpoint: the changed-count job fills the cache and the
      // checkpoint-write job (scheduled inside the same action) reads
      // it back, so the value the count observed and the bytes on
      // disk come from ONE execution — min-labels are deterministic
      // either way, but the shared-execution form is the contract the
      // pagerank tolerance branch (FP sums) needs, kept identical here
      if (doTrunc && reliable) stepOut.persist()
      val next =
        if (!doTrunc) stepOut
        else if (reliable) stepOut.checkpoint(false)
        else stepOut.localCheckpoint(false)
      val before = if (doTrunc && reliable) listDir() else Set.empty[String]
      changed = next.filter(col("chg")).count()
      if (doTrunc) {
        // next is materialized by the count: the previous generation
        // (and this round's jump intermediate) is no longer referenced
        val nextFiles =
          if (reliable) listDir() -- before else Set.empty[String]
        delete(liveFiles ++ stepFiles)
        free(liveBlocks ++ stepBlocks)
        liveFiles = nextFiles
        liveBlocks = blocks(next)
        // checkpoint files exist (doCheckpoint runs inside the count
        // action) — the cached blocks are redundant now
        if (reliable) stepOut.unpersist(blocking = false)
      }
      labels = next.drop("chg")
      iter += 1
    }
    delete(eFiles) // the returned labels stand alone
    // unless the last round was a frugal one, whose labels still read e
    if (!blocks(labels).exists(blocks(e))) free(blocks(e))
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds " +
        s"(pointer jumping bounds rounds by ~log2(component size); " +
        s"$maxIter covers components beyond practical corpus sizes)")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC
    * '14) — the round-count A/B ALTERNATIVE to [[connectedComponents]]'
    * pointer-jumping loop, kept as a first-class strategy so the two
    * can be measured against each other on any graph shape (results
    * in SURVEY §6, the large-star/small-star entry).
    *
    * Each iteration runs two deterministic relabelings over the
    * canonical (u < v) edge set:
    *   - LARGE-STAR: every node u computes m = min(Γ(u) ∪ {u}) and
    *     connects each STRICTLY LARGER neighbor v > u to m;
    *   - SMALL-STAR: every node y owns its smaller neighbors
    *     N = {x : (x, y), x < y}, computes m = min(N), and connects
    *     y and each x ∈ N \ {m} to m.
    * Both are one groupBy-min + one self-join + distinct — every
    * shuffle keys on a node id. The edge set only ever shrinks
    * toward stars rooted at component minima; convergence = the
    * (count, xor-of-hashes) signature of the edge set repeating,
    * read in the same action that materializes the round (the lazy
    * checkpoint fusion contract). O(log² n) rounds worst case.
    *
    * Output contract identical to [[connectedComponents]]:
    * (node, cluster_id = component min), property-spec'd equal. */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    def truncate(df: DataFrame): DataFrame = df.localCheckpoint(false)
    val canon = pairs.select(
      least(col(aCol), col(bCol)).as("u"),
      greatest(col(aCol), col(bCol)).as("v"))
    var e = canon
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // all nodes (children converge onto roots; roots self-label) —
    // derived from the UNFILTERED pair set, so a node appearing only
    // in self-loop pairs still self-labels, exactly as
    // connectedComponents emits it
    val nodes = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .distinct()
      .localCheckpoint(true)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        // bit_xor: order-free, overflow-free set digest (ANSI-safe
        // where a sum of 64-bit hashes would throw)
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(e)
    var iter = 0
    var done = sig._1 == 0L // empty edge set is already converged
    while (!done && iter < maxIter) {
      iter += 1
      // LARGE-STAR: min over the symmetrized neighborhood, larger
      // neighbors re-home to it
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u").as("c"), least(col("u"), col("mv")).as("m"))
      val ls = truncate(sym.join(mins, col("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(least(col("m"), col("v")).as("u"),
          greatest(col("m"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      // SMALL-STAR: each node y re-homes its smaller neighbors (and
      // itself) to their min
      val sMins = ls.groupBy(col("v").as("y")).agg(min("u").as("m"))
      val joined = ls.join(sMins, col("v") === col("y"))
      val ss = truncate(
        joined.select(col("m").as("u"), col("v")) // y → m
          .union(joined.filter(col("u") =!= col("m"))
            .select(col("m").as("u"), col("u").as("v"))) // x → m, x ≠ m
          .filter(col("u") =!= col("v"))
          .distinct())
      val newSig = signature(ss) // one action: materializes + reads
      e = ss
      if (newSig == sig) done = true else sig = newSig
    }
    require(done || iter < maxIter,
      s"connectedComponentsStars did not converge in $maxIter rounds")
    // converged edge set is stars (root, child): children label to
    // their root, roots (and only roots) are absent from the v side
    nodes.join(e.select(col("v").as("node"), col("u").as("lbl")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("lbl"), col("node")).as("cluster_id"))
  }

  /** Format version of the durable cluster-state tables. Bump if the
    * labeling contract itself changes (e.g. representative choice);
    * stamped at write, validated on load. */
  private[graft] val clustersFormatVersion = 1

  /** Land a (node, cluster_id) labeling DURABLY as a saved table —
    * the cross-session standing state [[incrementalComponents]]
    * consumes (the minhashIndexWrite contract applied to cluster
    * state): bucketed on `node` so the remap join and any
    * label-keyed lookup read pre-clustered buckets, with the
    * SOURCE PARAMETERS of the pair family that produced the labeling
    * (shingle k, τ, LSH shape, …) stamped as table properties.
    * A later session merging new pairs from a DIFFERENT pair family
    * into this labeling would silently mix similarity regimes —
    * [[clustersLoad]] hard-fails on any mismatch instead.
    *
    * @param sourceParams caller-chosen description of the pair
    *        family (e.g. "pairs" -> "ngram_jaccard", "k" -> "3",
    *        "tau" -> "0.6"); validated key-for-key on load. Keys must
    *        be word-charset identifiers (they become property-name
    *        suffixes); values are SQL-escaped, so any string is
    *        safe. */
  def clustersWrite(labels: DataFrame, table: String,
      sourceParams: Map[String, String], buckets: Int = 16): Unit = {
    StampedTables.requireKeys(sourceParams.keys.toSeq)
    Tables.writeBucketed(labels.select(col("node"), col("cluster_id")), table, "node", buckets)
    StampedTables.stamp(labels.sparkSession, Seq(table), "clusters",
      sourceParams + ("format" -> clustersFormatVersion.toString))
  }

  /** Reattach a durable labeling written by [[clustersWrite]]. The
    * requested source parameters (plus the format stamp) must match
    * the stamped set EXACTLY — in BOTH directions: a mismatched
    * value, a requested-but-unstamped key, a table not written by
    * clustersWrite, or a STAMPED-but-unrequested key all throw. The
    * last case matters: a caller naming only a subset of the stamped
    * params would otherwise silently accept a labeling whose
    * unstated params (a different τ, a different LSH shape) encode a
    * different similarity regime. */
  def clustersLoad(spark: org.apache.spark.sql.SparkSession, table: String,
      sourceParams: Map[String, String]): DataFrame = {
    StampedTables.check(spark, Seq(table), "clusters",
      sourceParams + ("format" -> clustersFormatVersion.toString))
    spark.table(table)
  }

  /** Incremental connected components: fold NEW edges into an
    * existing (node, cluster_id) labeling WITHOUT recomputing
    * components from scratch — the standing cluster state the
    * streaming dedup probes feed, where a full
    * [[connectedComponents]] per batch would cost O(corpus) per
    * batch.
    *
    * The old labeling is a certificate of the old edge set: every
    * component is collapsed to its min-id representative. New edges
    * therefore only need to propagate through the QUOTIENT graph —
    * each new edge (a, b) becomes (label(a), label(b)) (a node unseen
    * by the labeling is its own label), and components of that
    * frontier-sized cluster graph are exactly the groups of old
    * clusters the new edges merge. The merged mapping (old label →
    * new min label) then rewrites the full labeling with one
    * hash join; untouched clusters pass through unchanged. Min labels
    * compose (min of merged clusters = min over member reps = min
    * over member nodes), so the result is IDENTICAL to a full
    * recompute over (old edges ∪ new edges) — oracle-gated.
    *
    * Cost shape at 100 TB: the cluster-graph CC runs on edges ∝ the
    * new batch (its rounds bound by log of MERGED-GROUP size, not
    * corpus component size); the corpus-sized work is one scan of
    * `labels` for the remap join (the merged mapping is
    * frontier-sized — AQE broadcasts it when small).
    *
    * @param labels   (node, cluster_id) from a previous run —
    *                 cluster_id must be the component's min node id
    *                 (the [[connectedComponents]] contract)
    * @param newPairs new undirected edges (aCol, bCol)
    * @return updated (node, cluster_id) covering labels ∪ new-edge
    *         endpoints
    */
  /** @param extraNodes additional batch nodes to cover (self-labeled
    *        when previously unseen): the streaming ingest fold passes
    *        its batch ids here so SINGLETON DETECTION rides the same
    *        resolution join the remap already performs — without this
    *        the fold would pay a third labeling-sized join (an
    *        anti-join of ids against the corpus-sized result) per
    *        micro-batch. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 50,
      extraNodes: Option[DataFrame] = None): DataFrame = {
    val lab = labels.select(col("node"), col("cluster_id"))
    val edges = newPairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val endpoints = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
    val universe = extraNodes
      .map(e => endpoints.union(e.select(col("node")))).getOrElse(endpoints)
      .distinct()
    // ONE left join resolves current representatives AND surfaces
    // never-seen nodes (null cluster_id → their own label): the
    // resolution and the new-node detection share a single
    // labeling-sized join — `seen` is referenced thrice below, but
    // the identical subtrees shuffle the labeling once
    // (ReusedExchange); the remap at the bottom is the second and
    // only other labeling-sized exchange per call.
    val seen = universe.join(lab, Seq("node"), "left")
    val resolved = seen.select(col("node"),
      coalesce(col("cluster_id"), col("node")).as("lbl"))
    val clusterEdges = edges
      .join(resolved.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(resolved.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb"))
    // frontier-sized by contract → frugal truncation cadence: the
    // convergence counts re-execute ≤3 rounds of joins over frontier
    // rows, cheaper than an eager materialization job per round
    // (forced back to per-round under a reliable checkpoint dir)
    val merged = connectedComponents(clusterEdges, "la", "lb", maxIter,
        truncateEvery = 3)
      .select(col("node").as("old_lbl"), col("cluster_id").as("new_lbl"))
    val newSelf = seen.filter(col("cluster_id").isNull)
      .select(col("node"), col("node").as("cluster_id"))
    lab.union(newSelf)
      .join(merged, col("cluster_id") === col("old_lbl"), "left")
      .select(col("node"),
        coalesce(col("new_lbl"), col("cluster_id")).as("cluster_id"))
  }
}
