package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Boundary, Clusters, Dedup}
import graft.sources.Tables
import graft.streaming.{ClusterStream, DedupStream}

/** The continuous SemDeDup loop: standing (node, cluster_id) state
  * folded per micro-batch, keep/drop deltas, replay idempotency,
  * durable checkpoint/resume. */
class ClusterStreamSpec extends SparkSpec {
  import spark.implicits._
  import DedupStream.EmbDoc

  private val (dim, bits, tables, seed, tau) = (64, 4, 8, 42L, 0.4)

  /** One-shot batch reference: full self-dedup → CC → singletons. */
  private def batchReference(corpus: org.apache.spark.sql.DataFrame) = {
    val pairs = Dedup.embeddingPairsLsh(corpus, "vec_id", "embedding",
      dim, bits, tables, seed, tau)
    val cc = Clusters.connectedComponents(pairs, "vec_a", "vec_b")
    val singles = corpus.select(col("vec_id").as("node"))
      .join(cc.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster_id"))
    val labels = cc.union(singles)
    val out = labels.as[(Long, Long)].collect().toSet
    Boundary.release(pairs)
    out
  }

  test("streamed cluster state converges to the one-shot batch pipeline") {
    val emb = Tables.embeddings(spark, sfDir)
    val docs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbDoc].collect().sortBy(_.vec_id).toSeq
    val expected = batchReference(emb)
    assert(expected.map(_._1) === docs.map(_.vec_id).toSet)
    assert(expected.exists(p => p._1 != p._2), "corpus should contain dups")

    val loop = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau)
    // decision log: node -> (cluster_id, keep), last write wins
    val log = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EmbDoc]
    val q = ClusterStream.semdedupQuery(mem.toDS(), loop) { delta =>
      delta.select("node", "cluster_id", "keep")
        .as[(Long, Long, Boolean)].collect()
        .foreach { case (n, c, k) => log(n) = (c, k) }
    }
    try {
      val size = math.max(1, docs.size / 4)
      docs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()

    // the standing state IS the batch answer
    val standing = loop.labels.as[(Long, Long)].collect().toSet
    assert(standing === expected)
    // and the delta log REPLAYS to it: last-write-wins upsert of the
    // per-batch deltas reconstructs the final labeling + keep flags
    assert(log.map { case (n, (c, _)) => (n, c) }.toSet === expected)
    log.foreach { case (n, (c, k)) => assert(k === (n == c)) }
    loop.release()
  }

  test("ingest singleton detection rides the remap join (no anti-join, parity kept)") {
    import graft.streaming.ClusterFold
    // labeling: {1,2} clustered, {5} singleton; batch: ids {2,7,8,9},
    // one edge (2,7) — 8,9 are edge-less and must self-label
    val prev = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("node", "cluster_id")
    val ids = Seq(2L, 7L, 8L, 9L).toDF("node")
    val pairs = Seq((2L, 7L)).toDF("vec_a", "vec_b")
    val (next, delta) = ClusterFold.ingestFold(prev, ids, pairs)
    assert(next.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (5L, 5L), (7L, 1L), (8L, 8L), (9L, 9L)))
    assert(delta.select("node", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet ===
      Set((7L, 1L, false), (8L, 8L, true), (9L, 9L, true)))
    Boundary.release(delta)

    // plan shape: the fold's labeling plan must contain NO anti-join —
    // singletons surface from the null side of the SAME resolution
    // join the remap uses, so each ingest pays two labeling-sized
    // exchanges (resolution on node + remap on cluster_id), not a
    // third anti-join against the corpus-sized result
    val incPlan = Clusters.incrementalComponents(prev, pairs,
        "vec_a", "vec_b", extraNodes = Some(ids))
      .queryExecution.optimizedPlan.toString
    assert(!incPlan.contains("LeftAnti"),
      s"singleton/new-node detection reintroduced an anti-join:\n$incPlan")
  }

  test("replayed batch emits an EMPTY delta (at-least-once safe)") {
    val emb = Tables.embeddings(spark, sfDir)
    val docs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbDoc].collect().sortBy(_.vec_id).toSeq
    val (first, second) = docs.splitAt(docs.size / 2)
    val loop = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau)
    Seq(first, second).foreach { b =>
      val d = loop.ingest(b.toDF("vec_id", "embedding"))
      assert(d.count() > 0); Boundary.release(d)
    }
    val before = loop.labels.as[(Long, Long)].collect().toSet
    val replay = loop.ingest(second.toDF("vec_id", "embedding"))
    assert(replay.count() === 0L)
    Boundary.release(replay)
    assert(loop.labels.as[(Long, Long)].collect().toSet === before)
    loop.release()
  }

  test("a bridging batch flips the absorbed cluster's old representative to drop") {
    // two standing near-identical pairs in separate clusters, then a
    // batch doc near-identical to both bridges them: the union keeps
    // ONE representative and the delta must say so for the OLD keeper
    def vec(x: Double, y: Double) = Array.fill(62)(0.0) ++ Array(x, y)
    val a = Seq(
      EmbDoc(10L, vec(1.0, 0.0)), EmbDoc(11L, vec(0.999, 0.001)),
      EmbDoc(20L, vec(0.0, 1.0)), EmbDoc(21L, vec(0.001, 0.999)))
    // cos(bridge, axis) = 0.7071 — above τ=0.7 for both standing
    // clusters, while cross-cluster cosines stay ≈ 0
    val bridge = Seq(EmbDoc(30L, vec(0.7, 0.7)))
    val loop = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau = 0.7, probeRadius = 1)
    val d1 = loop.ingest(a.toDF("vec_id", "embedding"))
    val s1 = loop.labels.as[(Long, Long)].collect().toSet
    assert(s1 === Set((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
    Boundary.release(d1)
    val d2 = loop.ingest(bridge.toDF("vec_id", "embedding"))
    val changes = d2.select("node", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    Boundary.release(d2)
    // cluster 20 is absorbed into 10: its members re-label, the old
    // representative 20 flips to keep=false; bridge doc is a dup too
    assert(changes === Set(
      (20L, 10L, false), (21L, 10L, false), (30L, 10L, false)))
    assert(loop.labels.as[(Long, Long)].collect().toSet ===
      Set((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L), (30L, 10L)))
    loop.release()
  }

  test("retract splits a bridged cluster and renames representatives") {
    def vec(x: Double, y: Double) = Array.fill(62)(0.0) ++ Array(x, y)
    val a = Seq(
      EmbDoc(10L, vec(1.0, 0.0)), EmbDoc(11L, vec(0.999, 0.001)),
      EmbDoc(20L, vec(0.0, 1.0)), EmbDoc(21L, vec(0.001, 0.999)),
      EmbDoc(30L, vec(0.7, 0.7)))
    val loop = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau = 0.7, probeRadius = 1)
    Boundary.release(loop.ingest(a.toDF("vec_id", "embedding")))
    assert(loop.labels.as[(Long, Long)].collect().toSet ===
      Set((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L), (30L, 10L)))
    // retract the bridge: the cluster must SPLIT back in two, with
    // 20 re-crowned as the second cluster's representative
    val d = loop.retract(Seq(30L).toDF("vec_id"))
    val rows = d.select("node", "cluster_id", "keep")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    Boundary.release(d)
    assert(rows === Set(
      (30L, None, false),          // tombstone
      (20L, Some(20L), true),      // split + representative rename
      (21L, Some(20L), false)))
    assert(loop.labels.as[(Long, Long)].collect().toSet ===
      Set((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
    // unknown ids are a no-op
    val d2 = loop.retract(Seq(999L).toDF("vec_id"))
    assert(d2.count() === 0L)
    Boundary.release(d2)
    loop.release()
  }

  test("tombstoned docs never match later probes; a re-sent victim re-admits (compaction)") {
    // r17 tombstone retraction: retract marks ids dead instead of
    // rewriting the index, so the dead rows are still physically in
    // the un-compacted index — a later near-dup batch must NOT pair
    // with them, and re-ingesting a retracted id must compact first
    // so the re-add actually lands (not get skipped by the append's
    // already-indexed anti-join)
    def vec(x: Double, y: Double) = Array.fill(62)(0.0) ++ Array(x, y)
    val loop = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau = 0.7, probeRadius = 1)
    Boundary.release(loop.ingest(Seq(EmbDoc(10L, vec(1.0, 0.0)), EmbDoc(11L, vec(0.0, 1.0)))
      .toDF("vec_id", "embedding")))
    Boundary.release(loop.retract(Seq(11L).toDF("vec_id")))
    assert(loop.labels.as[(Long, Long)].collect().toSet === Set((10L, 10L)))
    // 12 is near-identical to the RETRACTED 11 and far from 10: with
    // the tombstone filter it must land as a singleton
    val d = loop.ingest(Seq(EmbDoc(12L, vec(0.001, 0.999)))
      .toDF("vec_id", "embedding"))
    assert(d.select("node", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet === Set((12L, 12L, true)))
    Boundary.release(d)
    assert(loop.labels.as[(Long, Long)].collect().toSet ===
      Set((10L, 10L), (12L, 12L)))
    // re-admission: a batch containing the tombstoned id compacts the
    // index first, then indexes the id fresh — it pairs with 12 and
    // the min-id representative wins
    val d2 = loop.ingest(Seq(EmbDoc(11L, vec(0.0, 1.0)))
      .toDF("vec_id", "embedding"))
    Boundary.release(d2)
    assert(loop.labels.as[(Long, Long)].collect().toSet ===
      Set((10L, 10L), (11L, 11L), (12L, 11L)))
    loop.release()
  }

  test("text loop: tombstoned docs never match later probes") {
    import graft.streaming.TextClusterStream
    val mk = (id: Long, t: String) => (id, t)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val loop = TextClusterStream.empty(spark, "doc_id", "text", 3, 64, 16, 0.5)
    Boundary.release(loop.ingest(Seq(mk(1L, base), mk(2L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")))
    Boundary.release(loop.retract(Seq(1L).toDF("doc_id")))
    // 3 is a near-copy of the RETRACTED 1 — must land as a singleton
    val d = loop.ingest(Seq(mk(3L, base + " extra")).toDF("doc_id", "text"))
    assert(d.select("node", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet === Set((3L, 3L, true)))
    Boundary.release(d)
    assert(loop.labels.as[(Long, Long)].collect().toSet ===
      Set((2L, 2L), (3L, 3L)))
    loop.release()
  }

  test("retract ≡ a loop that never saw the retracted docs") {
    val emb = Tables.embeddings(spark, sfDir)
    val docs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbDoc].collect().sortBy(_.vec_id).toSeq
    val victims = docs.filter(_.vec_id % 10 == 7).map(_.vec_id)
    assert(victims.nonEmpty)

    val loop = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau)
    Boundary.release(loop.ingest(docs.toDF("vec_id", "embedding")))
    Boundary.release(loop.retract(victims.toDF("vec_id")))
    val got = loop.labels.as[(Long, Long)].collect().toSet
    loop.release()

    val ref = ClusterStream.empty(spark, "vec_id", "embedding",
      dim, bits, tables, seed, tau)
    Boundary.release(ref.ingest(docs.filter(d => d.vec_id % 10 != 7).toDF("vec_id", "embedding")))
    val expected = ref.labels.as[(Long, Long)].collect().toSet
    ref.release()
    assert(got === expected)
  }

  test("text loop: streamed cluster state converges to the one-shot batch pipeline") {
    import DedupStream.Doc
    import graft.streaming.TextClusterStream
    val (k, perms, bands, mtau) = (3, 64, 16, 0.5)
    val docsDf = Tables.documents(spark, sfDir)
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq

    val pairs = Dedup.minhashLshPairs(docsDf, "doc_id", "text", k, perms, bands, mtau)
    val cc = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
    val singles = docsDf.select(col("doc_id").as("node"))
      .join(cc.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster_id"))
    val expected = cc.union(singles).as[(Long, Long)].collect().toSet
    Boundary.release(pairs)
    assert(expected.exists(p => p._1 != p._2), "corpus should contain dups")

    val loop = TextClusterStream.empty(spark, "doc_id", "text", k, perms, bands, mtau)
    val log = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = TextClusterStream.semdedupQuery(mem.toDS(), loop) { delta =>
      delta.select("node", "cluster_id", "keep")
        .as[(Long, Long, Boolean)].collect()
        .foreach { case (n, c, kp) => log(n) = (c, kp) }
    }
    try {
      val size = math.max(1, docs.size / 4)
      docs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(loop.labels.as[(Long, Long)].collect().toSet === expected)
    assert(log.map { case (n, (c, _)) => (n, c) }.toSet === expected)
    // replay the last batch directly: empty delta
    val replay = loop.ingest(docs.takeRight(docs.size / 4).toDF("doc_id", "text"))
    assert(replay.count() === 0L)
    Boundary.release(replay)
    loop.release()
  }

  test("text loop: retract ≡ a loop that never saw the retracted docs") {
    import graft.streaming.TextClusterStream
    val (k, perms, bands, mtau) = (3, 64, 16, 0.5)
    val docsDf = Tables.documents(spark, sfDir)
    import DedupStream.Doc
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq
    val loop = TextClusterStream.empty(spark, "doc_id", "text", k, perms, bands, mtau)
    Boundary.release(loop.ingest(docs.toDF("doc_id", "text")))
    Boundary.release(loop.retract(docs.filter(_.doc_id % 10 == 7).map(_.doc_id).toDF("doc_id")))
    val got = loop.labels.as[(Long, Long)].collect().toSet
    loop.release()

    val ref = TextClusterStream.empty(spark, "doc_id", "text", k, perms, bands, mtau)
    Boundary.release(ref.ingest(docs.filter(_.doc_id % 10 != 7).toDF("doc_id", "text")))
    val expected = ref.labels.as[(Long, Long)].collect().toSet
    ref.release()
    assert(got === expected)
  }

  test("text loop: checkpoint + resume roundtrip preserves the loop state") {
    import graft.streaming.TextClusterStream
    import DedupStream.Doc
    val (k, perms, bands, mtau) = (3, 64, 16, 0.5)
    val docsDf = Tables.documents(spark, sfDir)
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq
    val (first, second) = docs.splitAt(docs.size / 2)
    val params = Map("pairs" -> "minhash_lsh", "k" -> k.toString,
      "perms" -> perms.toString, "bands" -> bands.toString,
      "tau" -> mtau.toString)
    Seq("tcs_sigs", "tcs_band", "tcs_labels")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    try {
      val loop = TextClusterStream.empty(spark, "doc_id", "text",
        k, perms, bands, mtau)
      Boundary.release(loop.ingest(first.toDF("doc_id", "text")))
      // land both halves of the standing state durably: the docs
      // whose ids are indexed so far, re-signed into bucketed tables
      val landed = docsDf.join(
        loop.standingIndex.sigs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      Dedup.minhashIndexWrite(landed, "doc_id", "text", k, perms, bands,
        "tcs_sigs", "tcs_band")
      loop.checkpointTo("tcs_labels", params)
      // continue the ORIGINAL loop as the reference
      Boundary.release(loop.ingest(second.toDF("doc_id", "text")))
      val expected = loop.labels.as[(Long, Long)].collect().toSet
      loop.release()
      val resumed = TextClusterStream.resume(spark, "tcs_sigs", "tcs_band",
        "tcs_labels", params, "doc_id", "text", k, perms, bands, mtau)
      Boundary.release(resumed.ingest(second.toDF("doc_id", "text")))
      assert(resumed.labels.as[(Long, Long)].collect().toSet === expected)
      resumed.release()
    } finally Seq("tcs_sigs", "tcs_band", "tcs_labels")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("checkpoint + resume roundtrip preserves the loop state") {
    val emb = Tables.embeddings(spark, sfDir)
    val docs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbDoc].collect().sortBy(_.vec_id).toSeq
    val (first, second) = docs.splitAt(docs.size / 2)
    val params = Map("pairs" -> "embedding_lsh", "tau" -> tau.toString,
      "bits" -> bits.toString, "tables" -> tables.toString,
      "seed" -> seed.toString)
    Seq("cs_vecs", "cs_band", "cs_labels")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val loop = ClusterStream.empty(spark, "vec_id", "embedding",
        dim, bits, tables, seed, tau)
      val d1 = loop.ingest(first.toDF("vec_id", "embedding"))
      Boundary.release(d1)
      // land both halves of the standing state durably
      Dedup.embeddingIndexWrite(
        loop.standingIndex.vecs.select(col("id").as("vec_id"), col("v").as("embedding")),
        "vec_id", "embedding", dim, bits, tables, seed, "cs_vecs", "cs_band")
      loop.checkpointTo("cs_labels", params)
      // continue the ORIGINAL loop as the reference
      val d2 = loop.ingest(second.toDF("vec_id", "embedding"))
      Boundary.release(d2)
      val expected = loop.labels.as[(Long, Long)].collect().toSet
      loop.release()
      // resume from disk in a "new session" and ingest the same tail
      val resumed = ClusterStream.resume(spark, "cs_vecs", "cs_band",
        "cs_labels", params, "vec_id", "embedding",
        dim, bits, tables, seed, tau)
      val d3 = resumed.ingest(second.toDF("vec_id", "embedding"))
      Boundary.release(d3)
      assert(resumed.labels.as[(Long, Long)].collect().toSet === expected)
      resumed.release()
    } finally Seq("cs_vecs", "cs_band", "cs_labels")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("retract → durable landing → resume: victim near-dups stay singletons (r17 resurrection hole)") {
    // the tomb set is SESSION-LOCAL: resume() starts with zero tombs,
    // so any tombstoned row that reaches the durable index silently
    // revives retracted content across the session boundary. The r18
    // contract: every durable landing path — the public standingIndex
    // accessor feeding Dedup.embeddingIndexWrite (exercised here) and
    // checkpointTo — compacts first, so dead rows never reach disk.
    def vec(x: Double, y: Double) = Array.fill(62)(0.0) ++ Array(x, y)
    val t = 0.7
    val params = Map("pairs" -> "embedding_lsh", "tau" -> t.toString,
      "bits" -> bits.toString, "tables" -> tables.toString,
      "seed" -> seed.toString)
    Seq("rcs_vecs", "rcs_band", "rcs_labels")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    try {
      val loop = ClusterStream.empty(spark, "vec_id", "embedding",
        dim, bits, tables, seed, t, probeRadius = 1)
      Boundary.release(loop.ingest(Seq(EmbDoc(10L, vec(1.0, 0.0)), EmbDoc(11L, vec(0.0, 1.0)))
        .toDF("vec_id", "embedding")))
      Boundary.release(loop.retract(Seq(11L).toDF("vec_id")))
      // land both halves through the PUBLIC surface, exactly the
      // recipe the roundtrip spec demonstrates — this used to write
      // the un-compacted index (11 still physically present)
      Dedup.embeddingIndexWrite(
        loop.standingIndex.vecs.select(col("id").as("vec_id"), col("v").as("embedding")),
        "vec_id", "embedding", dim, bits, tables, seed, "rcs_vecs", "rcs_band")
      loop.checkpointTo("rcs_labels", params)
      loop.release()
      // the dead row must never have reached disk
      assert(spark.table("rcs_vecs").filter(col("id") === 11L).count() === 0L,
        "tombstoned row landed in the durable index")
      val resumed = ClusterStream.resume(spark, "rcs_vecs", "rcs_band",
        "rcs_labels", params, "vec_id", "embedding",
        dim, bits, tables, seed, t, probeRadius = 1)
      // 12 is near-identical to the RETRACTED 11 and far from 10:
      // across the session boundary it must land as a singleton, not
      // pair with the revived victim
      val d = resumed.ingest(Seq(EmbDoc(12L, vec(0.001, 0.999)))
        .toDF("vec_id", "embedding"))
      assert(d.select("node", "cluster_id", "keep")
        .as[(Long, Long, Boolean)].collect().toSet === Set((12L, 12L, true)))
      Boundary.release(d)
      assert(resumed.labels.as[(Long, Long)].collect().toSet ===
        Set((10L, 10L), (12L, 12L)))
      resumed.release()
    } finally Seq("rcs_vecs", "rcs_band", "rcs_labels")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("text loop: retract → checkpointIndexTo → resume: victim near-dup stays a singleton") {
    import graft.streaming.TextClusterStream
    // same resurrection recipe at text granularity, through the
    // one-call durable-index landing (checkpointIndexTo owns the
    // compaction; the loop holds signatures, not texts, so the write
    // goes through minhashIndexWriteSigned)
    val (k, perms, bands, mtau) = (3, 64, 16, 0.5)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val params = Map("pairs" -> "minhash_lsh", "k" -> k.toString,
      "perms" -> perms.toString, "bands" -> bands.toString,
      "tau" -> mtau.toString)
    Seq("rtcs_sigs", "rtcs_band", "rtcs_labels")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    try {
      val loop = TextClusterStream.empty(spark, "doc_id", "text",
        k, perms, bands, mtau)
      Boundary.release(loop.ingest(Seq(
        (1L, base),
        (2L, "completely different words entirely unrelated content here now"))
        .toDF("doc_id", "text")))
      Boundary.release(loop.retract(Seq(1L).toDF("doc_id")))
      loop.checkpointIndexTo("rtcs_sigs", "rtcs_band")
      loop.checkpointTo("rtcs_labels", params)
      loop.release()
      assert(spark.table("rtcs_sigs").filter(col("doc_id") === 1L).count() === 0L,
        "tombstoned row landed in the durable index")
      val resumed = TextClusterStream.resume(spark, "rtcs_sigs", "rtcs_band",
        "rtcs_labels", params, "doc_id", "text", k, perms, bands, mtau)
      // 3 is a near-copy of the RETRACTED 1 — must stay a singleton
      // across the session boundary
      val d = resumed.ingest(Seq((3L, base + " extra")).toDF("doc_id", "text"))
      assert(d.select("node", "cluster_id", "keep")
        .as[(Long, Long, Boolean)].collect().toSet === Set((3L, 3L, true)))
      Boundary.release(d)
      assert(resumed.labels.as[(Long, Long)].collect().toSet ===
        Set((2L, 2L), (3L, 3L)))
      resumed.release()
    } finally Seq("rtcs_sigs", "rtcs_band", "rtcs_labels")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("tomb compaction threshold derives from index size (CapPolicy, r18)") {
    import graft.streaming.TombSet
    // capped at N: a small index never carries a tomb set larger
    // than itself (the rewrite is then cheaper than the anti-joins)
    assert(TombSet.compactThreshold(0L) === 1L)
    assert(TombSet.compactThreshold(100L) === 100L)
    // absolute floor amortizes mid-size indexes
    assert(TombSet.compactThreshold(50000L) === TombSet.floor)
    // proportional above the floor: a 100 TB index is not rewritten
    // too eagerly
    assert(TombSet.compactThreshold(1000000L) ===
      (TombSet.eps * 1000000L).toLong)
    assert(TombSet.compactThreshold(10000000L) === 500000L)
  }
}
