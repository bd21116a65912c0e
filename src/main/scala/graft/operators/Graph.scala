package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis operators over edge lists. PageRank is the
  * web-corpus quality signal (a crawl-curation staple: rank domains /
  * pages before sampling) and the canonical iterative-join workload —
  * the shape that separates an engine that can only run DAGs from one
  * that can run fixpoint algorithms at scale.
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * rank₀ = 1/N; rankₖ₊₁(v) = (1−d)/N + d · Σ_{(u,v)∈E} rankₖ(u)/outdeg(u).
    *
    * Scale shape: the edge list is joined to the (node, rank) frame
    * once per iteration on the SAME src key — both sides
    * hash-partition on src, so on a real cluster each iteration is
    * one co-partitioned join + one aggregate on dst (the inflow
    * shuffle). Ranks are ∝ |V| rows, always the small side; edges are
    * scanned, never re-shuffled after the first iteration's exchange
    * is reused. Lineage is truncated per iteration (the Clusters
    * pattern) so the plan stays flat for any iteration count. N is
    * the one driver scalar (a count, as GraphX's PageRank also
    * materializes) — no other driver state.
    *
    * Dangling nodes (appearing only as dst) receive teleport + inflow
    * but emit nothing. By default their mass is DROPPED (the original
    * formulation's behavior — fine for symmetrized graphs, which have
    * no danglers). With `danglingRedistribution = true` each
    * iteration adds d·Dₖ/N to every node, where Dₖ = Σ ranks of
    * dangling nodes — the standard correction that makes Σ rank = 1
    * hold EXACTLY every iteration (spec-asserted). The mass scalar is
    * a 1-row aggregate cross-joined back in (broadcast by
    * construction — no per-iteration driver collect).
    *
    * Convergence: `iterations` is the cap. With `tolerance =
    * Some(ε)` the loop ALSO stops once the L1 step delta
    * Σ|rankₖ₊₁ − rankₖ| < ε — the per-iteration scalar read is
    * fixpoint control, the same legitimate driver interaction as
    * connectedComponents' changed-count (each iteration is
    * materialized anyway when its delta is read, so the extra cost is
    * one ∝|V| join). `onIteration` observes (iteration, delta) —
    * production monitoring and spec hook.
    *
    * @return (node, rank) — one row per distinct node in `edges`.
    */
  /** @param weightCol optional POSITIVE edge-weight column — the
    *        weighted formulation rankₖ₊₁(v) = (1−d)/N + d·Σ
    *        rankₖ(u)·w(u,v)/W(u), W(u) = Σ out-weights of u (a web
    *        host graph's edges carry link counts). None (the
    *        default) is the classic unweighted form — implemented as
    *        weight 1.0, so outputs are bit-identical to the original
    *        (sum of exact 1.0s = the count). Non-positive weights
    *        are dropped up front: a zero-weight edge is a non-edge,
    *        and a src left with no positive out-edges is a genuine
    *        dangler. */
  /** The default (no-op) iteration observer — a stable reference so
    * the adaptive dispatch can detect "nobody is watching the
    * iterations" (a custom observer pins the distributed loop, whose
    * per-iteration driver reads are what the observer observes). The
    * [[NoRound]] convention applied to [[pagerank]]. */
  val NoIteration: (Int, Double) => Unit = (_, _) => ()

  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      truncateEvery: Int = 1,
      danglingRedistribution: Boolean = false,
      tolerance: Option[Double] = None,
      onIteration: (Int, Double) => Unit = NoIteration,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"iterations $iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, s"damping $damping outside (0, 1)")
    require(truncateEvery >= 1, s"truncateEvery $truncateEvery must be >= 1")
    require(tolerance.forall(_ > 0.0), "tolerance must be positive")
    // reliable checkpoints when a dir is configured (executor loss
    // mid-iteration survives on a real cluster), executor-local
    // otherwise — the Clusters.connectedComponents contract; bounded
    // iteration counts keep the checkpoint footprint trivial
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

    // the raw edge list is truncated FIRST: everything below (degree
    // join input AND node set) derives from the materialized blocks,
    // so an expensive upstream edge derivation (pair explosion,
    // dedup) runs exactly once, not once per consumer. r18 cadence:
    // in LOCAL mode these upfront truncations are LAZY
    // (localCheckpoint(false)) — the nodes.count() driver action
    // right below computes, caches and lineage-truncates e AND nodes
    // in ONE job, and ew folds into iteration 1's first action,
    // instead of three eager truncation jobs per call (measured on
    // crawl_hostrank's 65-host graph, where job launches are most of
    // the wall). All consumers still read the cached blocks, so the
    // expensive edge build still runs once. Reliable mode keeps
    // EAGER checkpoints: an executor loss between the write and a
    // consumer must not silently re-run the upstream derivation.
    def truncateUpfront(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(false)
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val e = truncateUpfront(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("__w"))
      .filter(col("__w") > 0.0))

    // ADAPTIVE STRATEGY PICK (r19 — the Clusters/labelPropagation r14
    // contract applied to the rank loop): when the MEASURED filtered
    // edge list fits one task, the whole power iteration runs
    // in-memory in that task — same formula, same dangling handling,
    // same node-key null semantics (property-spec'd ≡ the loop on the
    // declared 6dp surface) — instead of paying one co-partitioned
    // join + inflow aggregate + truncation job per iteration.
    // Eligibility mirrors LPA: a custom onIteration pins the loop
    // (the observer watches its per-iteration driver reads), the
    // tolerance branch needs those reads anyway, and the
    // `distributed` [[Tier]] pins the distributed path. The gate is
    // one count() of the frame the distributed path was about to
    // materialize anyway — in local mode it computes, caches and
    // lineage-truncates `e` (the lazy localCheckpoint above), so the
    // expensive upstream edge derivation still runs exactly once.
    if (Tier.allows(edges.sparkSession, Tier.Input)(
        tolerance.isEmpty && (onIteration eq NoIteration) &&
          e.count() <= Clusters.LocalEdgeThreshold)) {
      val nodeType = e.schema("src").dataType
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      val (iters, d, dang) = (iterations, damping, danglingRedistribution)
      return e.coalesce(1) // no exchange: one task fetches the blocks
        .mapPartitions(it => Graph.pagerankLocal(it, iters, d, dang))(
          org.apache.spark.sql.Encoders.row(outSchema))
    }
    // (src, dst, w, outw): the per-iteration join input, materialized
    // once. sum(w) over src = out-weight (= outdegree when
    // unweighted: the sum of exact 1.0s IS the count, so the classic
    // form's values are unchanged).
    val deg = e.groupBy("src").agg(sum("__w").as("__outw"))
    val ew = truncateUpfront(e.join(deg, "src"))
    val nodes = truncateUpfront(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    val n = nodes.count()
    // truncateEvery > 1 trades bounded lineage growth (plan depth ∝
    // truncateEvery) against fewer materialization barriers — each
    // skipped truncation saves one full rank-frame job; ranks are
    // ∝ |V| rows so the recompute inside a window is cheap
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      i += 1
      val inflow = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst"), (col("rank") * col("__w") / col("__outw")).as("__c"))
        .groupBy("dst").agg(sum("__c").as("__in"))
      val next =
        if (!danglingRedistribution)
          nodes.join(inflow, nodes("node") === inflow("dst"), "left")
            .select(col("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank"))
        else {
          // Dₖ = Σ rank over nodes with no out-edges — a 1-row agg,
          // broadcast back (never a corpus shuffle)
          val dm = ranks.join(deg, ranks("node") === deg("src"), "left_anti")
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
          nodes.join(inflow, nodes("node") === inflow("dst"), "left")
            .crossJoin(broadcast(dm))
            .select(col("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                  col("__dm") / n)).as("rank"))
        }
      tolerance match {
        case Some(eps) =>
          // delta needs next materialized anyway — truncate every
          // iteration in this mode, LAZILY: the checkpoint is marked
          // and the delta-read job itself computes, caches, and
          // lineage-truncates the frame (one action per iteration,
          // not a truncation job plus the delta job). Reliable mode
          // persists FIRST so the delta job fills the cache and the
          // checkpoint-write job reads it back — rank sums are FP,
          // whose shuffle-order can differ between executions, so the
          // value the delta measured and the bytes on disk must come
          // from ONE execution
          if (reliable) next.persist()
          val mat = if (reliable) next.checkpoint(false)
            else next.localCheckpoint(false)
          val delta = mat
            .join(ranks.select(col("node"), col("rank").as("__prev")), "node")
            .agg(sum(abs(col("rank") - col("__prev")))).collect()(0).getDouble(0)
          // checkpoint files exist (doCheckpoint runs inside the
          // delta action) — the cached blocks are redundant now
          if (reliable) next.unpersist(blocking = false)
          onIteration(i, delta)
          ranks = mat
          if (delta < eps) converged = true
        case None =>
          ranks = if (i % truncateEvery == 0 || i == iterations) truncate(next) else next
      }
    }
    ranks
  }

  /** Per-node TRIANGLE census + local clustering coefficient over an
    * undirected edge list — the community-structure / link-spam
    * signal (a page whose neighborhood is clique-like is a link farm
    * or a tight community; one whose neighbors never interconnect is
    * a hub) and the canonical test of whether an engine can run a
    * super-linear graph join WITHOUT the naive blowup.
    *
    * Degree orientation (Cohen '09 / MMDS ch.10): every edge is
    * directed from its (degree, id)-smaller endpoint to the larger,
    * making the orientation a TOTAL order — each triangle has exactly
    * one apex (the node both its oriented edges leave), so counting
    * wedges closed by an oriented edge counts each triangle once, no
    * division by 3/6, and the oriented out-degree of ANY node — hubs
    * included — is O(√m), which bounds the wedge fan-out at Σ
    * outdeg² ≤ O(m^1.5) instead of the Σ deg² a hub-apex join
    * suffers. All three legs are equi-joins on node keys (wedge
    * build co-partitions on the apex, closure on the (x, y) pair) —
    * no cross product anywhere, AQE free to pick broadcast sides.
    *
    * Input edges may be listed in either direction and with
    * duplicates; self-loops are dropped, the list is canonicalized
    * and deduped first. Returns one row per node:
    * `(node, degree, tri_count, clustering)` where clustering =
    * round(2·tri / (deg·(deg−1)), 6) and degree-1 nodes score 0.
    *
    * ADAPTIVE STRATEGY PICK (r20 — the pagerank/CC/LPA r14-r19
    * contract applied to the census): when the MEASURED canonical
    * edge list fits [[LocalCensusThreshold]] (a census-specific
    * bar — per-task work is Σ outdeg², bounded by O(m^1.5) under the
    * orientation, so the edge bar sits far below the linear kernels')
    * and the node type is integral, the census runs in one task over
    * the cached edge list — same orientation, same wedge closure,
    * integer-exact degree/tri_count, and the clustering column is the
    * SAME Catalyst expression applied on top, so rounding semantics
    * cannot drift. The gate is one count() of the canonical frame
    * both paths stage anyway. The `distributed`
    * [[Tier]] pins the distributed wedge joins. */
  def triangleCensus(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = Boundary.stage(edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val nodeType = e.schema("u").dataType
    val integral = nodeType == org.apache.spark.sql.types.LongType ||
      nodeType == org.apache.spark.sql.types.IntegerType
    if (Tier.allows(edges.sparkSession, Tier.Input)(
        integral && e.count() <= LocalCensusThreshold)) {
      // int ids ride as longs through the kernel (ordering and
      // equality are unchanged by the widening; node is cast back
      // below) so the kernel reads one primitive width
      val base = e.select(col("u").cast("long"), col("v").cast("long"))
        .coalesce(1) // no exchange: one task fetches the blocks
        .mapPartitions(it => Graph.triangleCensusLocal(it))(
          org.apache.spark.sql.Encoders.row(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("node",
                org.apache.spark.sql.types.LongType,
                // mirror the distributed output: node inherits the
                // canonical edge columns' nullability through the
                // union + groupBy key
                nullable = e.schema("u").nullable),
              org.apache.spark.sql.types.StructField("degree",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("tri_count",
                org.apache.spark.sql.types.LongType, nullable = false)))))
      val typed =
        if (nodeType == org.apache.spark.sql.types.LongType) base
        else base.withColumn("node", col("node").cast(nodeType))
      val out = typed.withColumn("clustering",
        when(col("degree") >= 2,
          round(lit(2.0) * col("tri_count")
            / (col("degree") * (col("degree") - lit(1))), 6))
          .otherwise(lit(0.0)))
      val result = Boundary.stage(out)
      Boundary.release(e)
      return result
    }
    val deg = Boundary.stage(e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree")))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = Boundary.stage(e
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
      .select(
        when(lower, col("u")).otherwise(col("v")).as("src"),
        when(lower, col("v")).otherwise(col("u")).as("dst"),
        when(lower, col("dv")).otherwise(col("du")).as("ddeg")))
    // wedges at each apex, ordered so the closing edge — if it exists
    // — is oriented x→y by the SAME total order; the (x, y) equi-join
    // against the oriented list closes them
    val wedges = o.select(col("src"), col("dst").as("x"), col("ddeg").as("dx"))
      .join(o.select(col("src"), col("dst").as("y"), col("ddeg").as("dy")), "src")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges
      .join(o.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
      .select(col("src").as("n1"), col("x").as("n2"), col("y").as("n3"))
    val perNode = tris
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(lit(2.0) * col("tri_count")
            / (col("degree") * (col("degree") - lit(1))), 6))
          .otherwise(lit(0.0)))
    val result = Boundary.stage(out)
    Seq(e, deg, o).foreach(Boundary.release)
    result
  }

  /** Synchronous label-propagation community detection (Raghavan '07,
    * the GraphFrames/Pregel formulation) over an undirected edge
    * list, made DETERMINISTIC so it can be oracle-replayed: every
    * node starts labeled with its own id; each round relabels EVERY
    * node simultaneously with the most frequent label among its
    * neighbors, ties broken by the SMALLEST label. No randomized
    * visit order, no asynchronous updates — the classic
    * nondeterminism sources are removed.
    *
    * Termination (the PageRank tolerance pattern, r11 verdict item
    * 7): `iterations` is the CAP, and the loop also stops early when
    * (a) no label changed — a fixpoint, every later round is
    * identical — or (b) the labeling equals the one from TWO rounds
    * ago: the known synchronous-LPA period-2 oscillation on
    * bipartite structures, which would otherwise flip forever. In
    * the oscillation case the returned frame is the one the cap
    * would have produced (parity of the remaining rounds), so the
    * result is ALWAYS exactly the fixed-`iterations` unroll — early
    * stop changes cost, never output (the oracle-replay contract).
    * Both checks ride ONE extra ∝|V| co-partitioned join per round,
    * the same legitimate fixpoint-control driver read as
    * connectedComponents' changed-count. `onRound` observes
    * (round, changedCount) — production monitoring and spec hook.
    *
    * Scale shape (the PageRank contract): the canonicalized edge list
    * is symmetrized into an adjacency `(node, nbr)` frame and
    * truncated ONCE; each round is one equi-join of the adjacency
    * against the ∝|V| label frame on `nbr` + one groupBy(node, label)
    * count + one argmax aggregate on `node` — every shuffle keys on a
    * node id, so a real cluster co-partitions all three exchanges,
    * and AQE broadcasts the label side when |V| allows. The argmax is
    * a single `max(struct(cnt, -label))` aggregate (max count, then
    * min label) — no window sort over the neighborhood counts.
    * Lineage is truncated per round, so plan depth stays O(1) in
    * `iterations`. Isolated nodes cannot occur (every node comes off
    * an edge); a node always has ≥1 neighbor and always relabels.
    *
    * @param edges undirected edge list; either orientation, dups and
    *              self-loops tolerated (canonicalized away).
    * @return (node, community) — one row per distinct node.
    */
  /** The default (no-op) round observer — a stable reference so the
    * adaptive dispatch can detect "nobody is watching the rounds"
    * (a custom observer pins the distributed loop, whose per-round
    * driver reads are what the observer observes). */
  val NoRound: (Int, Long) => Unit = (_, _) => ()

  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iterations: Int,
      onRound: (Int, Long) => Unit = NoRound): DataFrame = {
    require(iterations >= 1, s"iterations $iterations must be >= 1")
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    val e = edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // non-reliable mode marks the checkpoint lazily: the dispatch
    // count (or round 1) materializes + truncates in one action (the
    // r13 fusion applied to the adjacency frame)
    val adjRaw = e.select(col("u").as("node"), col("v").as("nbr"))
      .union(e.select(col("v").as("node"), col("u").as("nbr")))
    val adj = if (reliable) truncate(adjRaw) else adjRaw.localCheckpoint(false)

    // ADAPTIVE STRATEGY PICK (the Clusters.connectedComponents r14
    // contract): when the MEASURED symmetrized adjacency fits one
    // task, the synchronous rounds run in-memory in that task — same
    // argmax semantics, same fixpoint/oscillation stops, same
    // cap-parity output (property-spec'd ≡ the loop across caps) —
    // instead of paying one driver action + exchange jobs per round.
    // A custom onRound pins the loop (the observer watches its
    // per-round driver reads); scale probes pin it with the
    // `distributed` [[Tier]].
    val nodeType = adj.schema("node").dataType
    val integral = nodeType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (Tier.allows(edges.sparkSession, Tier.Input)(
        integral && (onRound eq NoRound) &&
          adj.count() <= Clusters.LocalEdgeThreshold)) {
      import adj.sparkSession.implicits._
      val iters = iterations
      val out = adj
        .select(col("node").cast("long"), col("nbr").cast("long"))
        .as[(Long, Long)]
        .coalesce(1) // no exchange: one task fetches the blocks
        .mapPartitions(it => Graph.lpaLocal(it, iters))
        .toDF("node", "community")
        .select(col("node").cast(nodeType).as("node"),
          col("community").cast(nodeType).as("community"))
      return out
    }
    var labels = truncate(
      adj.select(col("node")).distinct().withColumn("label", col("node")))
    var prev: DataFrame = null // labeling two rounds back (oscillation probe)
    var result: DataFrame = null
    var i = 0
    while (i < iterations && result == null) {
      i += 1
      val counts = adj
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // argmax(count) with min-label tiebreak as ONE aggregate:
      // struct comparison is (count, -label) lexicographic, so the
      // max has the largest count and, within it, the smallest label
      // LAZY truncation fused with the stop-probe (the Clusters r13
      // pattern): the probe job below computes `next`, caches it, and
      // truncates its lineage in one driver-scheduled action
      val nextRaw = counts
        .groupBy("node")
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("node"), (-col("__m.__nl")).as("label"))
      val next = if (reliable) nextRaw.checkpoint(false)
        else nextRaw.localCheckpoint(false)
      // one probe job measures both stops: changed vs last round
      // (fixpoint) and diffs vs two rounds ago (period-2 cycle). All
      // frames share the node set, so inner joins lose nothing. The
      // FINAL round skips the probe — the loop exits regardless, so
      // the read could save nothing (next still materializes lazily
      // on consumption).
      if (i == iterations) { prev = labels; labels = next }
      else {
        val joined = next.select(col("node"), col("label").as("__n"))
          .join(labels.select(col("node"), col("label").as("__p1")), "node")
        val probe =
          if (prev == null)
            joined.withColumn("__p2", lit(null).cast(next.schema("label").dataType))
          else joined.join(prev.select(col("node"), col("label").as("__p2")), "node")
        val row = probe.agg(
          sum(when(col("__n") =!= col("__p1"), 1L).otherwise(0L)).as("__chg"),
          sum(when(col("__n") === col("__p2"), 0L).otherwise(1L)).as("__osc"))
          .collect()(0)
        // an EMPTY graph (no edges survive canonicalization) sums to
        // NULL — that's a zero-node fixpoint, not an NPE
        val changed = if (row.isNullAt(0)) 0L else row.getLong(0)
        onRound(i, changed)
        if (changed == 0L) result = next // fixpoint: rounds i..cap identical
        else if (prev != null && !row.isNullAt(1) && row.getLong(1) == 0L) {
          // period-2 oscillation: next == labels(i-2), so the cap's
          // labeling is `next` when the remaining round count is even,
          // else the current `labels` — return exactly that
          result = if ((iterations - i) % 2 == 0) next else labels
        } else { prev = labels; labels = next }
      }
    }
    if (result == null) result = labels
    result.select(col("node"), col("label").as("community"))
  }

  /** Single-task synchronous LPA over a symmetrized (node, nbr)
    * adjacency — the in-memory strategy [[labelPropagation]]
    * dispatches to below the edge threshold. Mirrors the distributed
    * loop EXACTLY: every node relabels to its most frequent neighbor
    * label (min label on count ties) each round; stops at the cap, at
    * a fixpoint, or at a period-2 oscillation with cap-parity output.
    */
  private[graft] def lpaLocal(rows: Iterator[(Long, Long)],
      iterations: Int): Iterator[(Long, Long)] = {
    val src = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    rows.foreach(src += _)
    val idOf = new java.util.HashMap[Long, Int]()
    src.foreach { case (u, _) =>
      if (!idOf.containsKey(u)) idOf.put(u, idOf.size())
    }
    val n = idOf.size()
    if (n == 0) return Iterator.empty
    val ids = new Array[Long](n)
    idOf.forEach((k, v) => ids(v) = k)
    // CSR adjacency
    val deg = new Array[Int](n)
    src.foreach { case (u, _) => deg(idOf.get(u)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val fill = off.clone()
    val nbr = new Array[Long](src.length)
    src.foreach { case (u, v) => val s = idOf.get(u); nbr(fill(s)) = v; fill(s) += 1 }

    var cur = ids.clone() // label(node) = node id initially
    var prev: Array[Long] = null
    val lbl = new java.util.HashMap[Long, Int]()
    val curOf = new java.util.HashMap[Long, Long]()
    var round = 0
    var result: Array[Long] = null
    while (round < iterations && result == null) {
      round += 1
      curOf.clear()
      i = 0
      while (i < n) { curOf.put(ids(i), cur(i)); i += 1 }
      val next = new Array[Long](n)
      var changed = 0L
      i = 0
      while (i < n) {
        lbl.clear()
        var bestC = 0
        var bestL = Long.MaxValue
        var j = off(i)
        while (j < off(i + 1)) {
          val l = curOf.get(nbr(j))
          val c = lbl.merge(l, 1, (a, b) => a + b)
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
          j += 1
        }
        next(i) = bestL
        if (next(i) != cur(i)) changed += 1
        i += 1
      }
      if (round == iterations) cur = next
      else if (changed == 0) result = next // fixpoint
      else if (prev != null && java.util.Arrays.equals(next, prev)) {
        // period-2 oscillation: return the cap-parity labeling
        result = if ((iterations - round) % 2 == 0) next else cur
      } else { prev = cur; cur = next }
    }
    if (result == null) result = cur
    val res = result
    Iterator.range(0, n).map(k => (ids(k), res(k)))
  }

  /** Single-task power iteration over a filtered (src, dst, w>0) edge
    * list — the in-memory strategy [[pagerank]] dispatches to below
    * the edge threshold. Mirrors the distributed loop EXACTLY,
    * including its null-key join semantics: a NULL endpoint is a
    * distinct node (the distributed node set is a union+distinct, so
    * null is a row) but equi-joins never match it — its edges carry
    * no inflow in either direction and the dangling anti-join counts
    * it as a dangler even when it has out-edges. So here: both
    * endpoints register as nodes, only null-free edges enter the
    * inflow arrays, and dangling(v) ⇔ v is null OR v accumulated no
    * out-weight. FP note: per-node inflow sums accumulate in edge
    * order where the distributed aggregate sums in shuffle order —
    * identical up to ~1e-16 relative FP noise, invisible at the
    * declared round-6dp surface (parity-spec'd; the oracle gate
    * re-verifies at every SF). */
  private[graft] def pagerankLocal(rows: Iterator[org.apache.spark.sql.Row],
      iterations: Int, damping: Double,
      danglingRedistribution: Boolean): Iterator[org.apache.spark.sql.Row] = {
    val idOf = new java.util.HashMap[AnyRef, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer[AnyRef]()
    def idx(k: AnyRef): Int = {
      val i = idOf.get(k)
      if (i != null) i.intValue()
      else { val v = ids.length; idOf.put(k, Integer.valueOf(v)); ids += k; v }
    }
    val eSrc = new scala.collection.mutable.ArrayBuffer[Int]()
    val eDst = new scala.collection.mutable.ArrayBuffer[Int]()
    val eW = new scala.collection.mutable.ArrayBuffer[Double]()
    // (src idx, weight) for EVERY edge with a non-null src — outw must
    // include weights of edges whose dst is null (the distributed deg
    // aggregates over e before any rank join, so a null-dst edge still
    // makes its src a non-dangler)
    val owSrc = new scala.collection.mutable.ArrayBuffer[Int]()
    val owW = new scala.collection.mutable.ArrayBuffer[Double]()
    rows.foreach { r =>
      val s = if (r.isNullAt(0)) null else r.get(0).asInstanceOf[AnyRef]
      val t = if (r.isNullAt(1)) null else r.get(1).asInstanceOf[AnyRef]
      val wt = r.getDouble(2)
      val si = idx(s)
      val ti = idx(t)
      if (s != null) { owSrc += si; owW += wt }
      if (s != null && t != null) { eSrc += si; eDst += ti; eW += wt }
    }
    val n = ids.length
    if (n == 0) return Iterator.empty
    val outw = new Array[Double](n)
    var i = 0
    while (i < owSrc.length) { outw(owSrc(i)) += owW(i); i += 1 }
    var ranks = Array.fill(n)(1.0 / n)
    var iter = 0
    while (iter < iterations) {
      iter += 1
      val inflow = new Array[Double](n)
      i = 0
      while (i < eSrc.length) {
        inflow(eDst(i)) += ranks(eSrc(i)) * eW(i) / outw(eSrc(i))
        i += 1
      }
      var dm = 0.0
      if (danglingRedistribution) {
        i = 0
        while (i < n) {
          if (ids(i) == null || outw(i) == 0.0) dm += ranks(i)
          i += 1
        }
      }
      val next = new Array[Double](n)
      i = 0
      while (i < n) {
        next(i) = (1.0 - damping) / n + damping *
          (if (danglingRedistribution) inflow(i) + dm / n else inflow(i))
        i += 1
      }
      ranks = next
    }
    val res = ranks
    Iterator.range(0, n).map(k =>
      org.apache.spark.sql.Row(ids(k), res(k)))
  }

  /** Census-specific single-task bar: unlike the LINEAR kernels
    * (pagerank: iterations·m; CC/LPA: rounds·m), the census's
    * per-task work is Σ outdeg² ≤ O(m^1.5) under the degree
    * orientation — at 2^17 edges that is ≤ ~4.8e7 hash probes, a
    * bounded sub-second task, while the 2^21 bar the linear kernels
    * use would admit ~3e9. Above the bar the unchanged distributed
    * wedge joins run. */
  private val LocalCensusThreshold: Long = 1L << 17

  /** Single-task triangle census over a CANONICAL deduped (u, v)
    * long edge list (u < v, no nulls — the relational prefix in
    * [[triangleCensus]] already canonicalized, self-loop-filtered
    * and deduped). Mirrors the distributed plan exactly: degree from
    * the canonical list, every edge oriented from its (degree, id)-
    * smaller endpoint, wedges enumerated at each apex in that total
    * order and closed by an oriented-edge membership probe — each
    * triangle found exactly once at its unique apex, contributing 1
    * to all three corners. Emits (node, degree, tri_count) integer
    * rows; the clustering column is applied by the CALLER as the
    * same Catalyst expression the distributed path uses, so the
    * rounding surface is shared, not reimplemented. */
  private[graft] def triangleCensusLocal(
      rows: Iterator[org.apache.spark.sql.Row]): Iterator[org.apache.spark.sql.Row] = {
    val idOf = new java.util.HashMap[java.lang.Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    def idx(k: Long): Int = {
      val boxed = java.lang.Long.valueOf(k)
      val i = idOf.get(boxed)
      if (i != null) i.intValue()
      else { val v = ids.length; idOf.put(boxed, Integer.valueOf(v)); ids += k; v }
    }
    val eU = new scala.collection.mutable.ArrayBuffer[Int]()
    val eV = new scala.collection.mutable.ArrayBuffer[Int]()
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        eU += idx(r.getLong(0))
        eV += idx(r.getLong(1))
      }
    }
    val n = ids.length
    if (n == 0) return Iterator.empty
    val m = eU.length
    val degree = new Array[Long](n)
    var i = 0
    while (i < m) { degree(eU(i)) += 1; degree(eV(i)) += 1; i += 1 }
    // total order: (degree, id) — the orientation the distributed
    // plan's `lower` predicate encodes
    def before(a: Int, b: Int): Boolean =
      degree(a) < degree(b) ||
        (degree(a) == degree(b) && ids(a) < ids(b))
    // oriented out-adjacency + membership set keyed on (src idx,
    // dst idx) packed into one long (indices are < 2^31)
    val outAdj = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int]())
    val oriented = new java.util.HashSet[java.lang.Long]()
    i = 0
    while (i < m) {
      val (s, t) = if (before(eU(i), eV(i))) (eU(i), eV(i)) else (eV(i), eU(i))
      outAdj(s) += t
      oriented.add(java.lang.Long.valueOf((s.toLong << 32) | (t.toLong & 0xffffffffL)))
      i += 1
    }
    val tri = new Array[Long](n)
    var apex = 0
    while (apex < n) {
      val nbrs = outAdj(apex)
      var a = 0
      while (a < nbrs.length) {
        var b = a + 1
        while (b < nbrs.length) {
          // order the wedge ends by the SAME total order so the
          // closing edge — if present — is oriented x → y
          val (x, y) = if (before(nbrs(a), nbrs(b))) (nbrs(a), nbrs(b))
            else (nbrs(b), nbrs(a))
          if (oriented.contains(
              java.lang.Long.valueOf((x.toLong << 32) | (y.toLong & 0xffffffffL)))) {
            tri(apex) += 1; tri(x) += 1; tri(y) += 1
          }
          b += 1
        }
        a += 1
      }
      apex += 1
    }
    Iterator.range(0, n).map(k =>
      org.apache.spark.sql.Row(java.lang.Long.valueOf(ids(k)),
        java.lang.Long.valueOf(degree(k)), java.lang.Long.valueOf(tri(k))))
  }
}
