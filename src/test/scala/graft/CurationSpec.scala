package graft

import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Clusters, Curation, Dedup}
import graft.sources.Tables

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("hashBucket is deterministic and splits ~proportionally") {
    val docs = (1L to 1000L).map(i => (i, s"document body number $i"))
      .toDF("doc_id", "text")
    val a = Curation.hashSplit(docs, col("text"), 100, 20)
      .select("doc_id").as[Long].collect().sorted
    val b = Curation.hashSplit(docs, col("text"), 100, 20)
      .select("doc_id").as[Long].collect().sorted
    assert(a === b) // rerun-stable (no rand())
    // 20% of 1000 give or take binomial noise
    assert(a.length > 120 && a.length < 280)
    // buckets depend only on content: same text -> same bucket
    val dup = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val bk = dup.select(Curation.hashBucket(col("text"), 100)).as[Long].collect()
    assert(bk(0) === bk(1))
  }

  test("chunkTokens covers the document tail and skips empty docs") {
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6 t7"), (2L, "a b"), (3L, "   "))
      .toDF("doc_id", "text")
    val out = Curation.chunkTokens(docs, "doc_id",
        graft.functions.Text.tokens(col("text")), chunkLen = 4, stride = 2)
      .select("doc_id", "start", "n_chunk_tokens", "chunk")
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array(
      (1L, 1, 4, "t1 t2 t3 t4"),
      (1L, 3, 4, "t3 t4 t5 t6"),
      (1L, 5, 3, "t5 t6 t7"),   // partial final window: t7 is NOT dropped
      (2L, 1, 2, "a b")))       // short doc: one window; doc 3: no rows
  }

  test("percentileGate trims both tails per group") {
    val rows = (1 to 20).map(i => (i.toLong, "a", i * 10)) ++
      Seq((100L, "b", 5)) // singleton group: percent_rank 0 -> bottom-trimmed
    val df = rows.toDF("doc_id", "source", "n_chars")
    val kept = Curation.percentileGate(df, "source", col("n_chars"), 0.1, 0.9, col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    // group a: ranks 0..19 -> percent_rank i/19; keep 0.1..0.9 -> ids 3..18
    assert(kept === (3L to 18L).toArray)
  }

  test("packSequences assigns docs to budget-bounded packs per shard") {
    val docs = Seq(
      (1L, "a", 1000), (2L, "a", 1000), (3L, "a", 100), // cum 1000,2000,2100
      (4L, "a", 5000),                                  // oversized doc: own pack
      (10L, "b", 10)                                    // shard b independent
    ).toDF("doc_id", "source", "n")
    val out = Curation.packSequences(docs, "source", "doc_id", col("n"), 2048)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // preceding-cumsum // 2048: 0,1000,2000 -> pack 0; 2100 -> pack 1; b restarts
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 10L -> 0L))
  }

  test("connectedComponents labels every member with the component min") {
    // components: {1,2,3,4} (chain), {10,11}, pairs only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
      .orderBy("node")
      .as[(Long, Long)].collect()
    assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("incrementalComponents ≡ full recompute across merge shapes") {
    // old graph: {1,2,3} (rep 1), {10,11} (rep 10), {20,21} (rep 20)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val labels = Clusters.connectedComponents(oldPairs, "doc_a", "doc_b")
    // new edges exercise every shape at once: a bridge MERGING two
    // old clusters through a brand-new node (3–50, 50–11), a
    // new-only chain (60–61, 61–62), and an edge landing inside an
    // already-converged cluster (1–3: must be a no-op)
    val newPairs = Seq((3L, 50L), (50L, 11L), (60L, 61L), (61L, 62L), (1L, 3L))
      .toDF("doc_a", "doc_b")
    val inc = Clusters.incrementalComponents(labels, newPairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val full = Clusters.connectedComponents(
        oldPairs.union(newPairs), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(inc === full)
    assert(inc(50L) === 1L, "bridge node joins the merged min-1 cluster")
    assert(inc(11L) === 1L, "old cluster {10,11} merged into 1")
    assert(inc(60L) === 60L && inc(62L) === 60L, "new-only chain labels to its min")
    assert(inc(20L) === 20L && inc(21L) === 20L, "untouched cluster unchanged")
  }

  test("incrementalComponents ≡ full recompute on the corpus pair split") {
    val docs = Tables.documents(spark, sfDir)
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val oldPairs = Dedup.ngramJaccardPairs(oldDocs, "doc_id", "text", k = 3, tau = 0.6)
    val allPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6)
    val newPairs = allPairs.filter(pmod(col("doc_a"), lit(10)) === 3 ||
      pmod(col("doc_b"), lit(10)) === 3)
    val labels = Clusters.connectedComponents(oldPairs, "doc_a", "doc_b")
    val inc = Clusters.incrementalComponents(labels, newPairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val full = Clusters.connectedComponents(oldPairs.union(newPairs),
        "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(inc === full)
    Boundary.release(oldPairs)
    Boundary.release(allPairs)
  }

  test("connectedComponents resolves a long chain in O(log n) rounds") {
    // a 200-link chain has diameter 200; plain propagation would need
    // 200 rounds — pointer jumping must finish well inside maxIter
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Clusters.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 15)
    assert(out.count() === 200L)
    assert(out.select("cluster_id").distinct().as[Long].collect() === Array(1L))
  }

  test("reliable checkpoints: correct result, only the final snapshot kept") {
    val base = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toFile
    spark.sparkContext.setCheckpointDir(base.getAbsolutePath)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val out = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy("node").as[(Long, Long)].collect()
      assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
      // superseded generations were deleted as the run progressed:
      // only the final labels snapshot remains under this run's
      // checkpoint UUID dir
      val uuidDir = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:"))
      val rddDirs = Option(uuidDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.length === 1,
        s"expected 1 surviving checkpoint, got ${rddDirs.map(_.getName).toSeq}")
    } finally {
      // shared session: later suites should go back to local checkpoints
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("connectedComponents handles an empty pair set") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Clusters.connectedComponents(pairs, "doc_a", "doc_b").count() === 0L)
  }

  test("bigram_hashes matches the composed zip_with + xxhash64 form bit-for-bit") {
    import graft.functions.expr.NativeFunctions.bigram_hashes
    // the exact form the native expression replaced
    def oldForm(t: org.apache.spark.sql.Column) = zip_with(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1),
      (a, b) => struct(xxhash64(lit(1L), a).as("prefix_h"),
        xxhash64(lit(2L), a, b).as("bigram_h"),
        xxhash64(lit(1L), b).as("token_h")))
    val rows = Seq(
      (1L, Seq("the", "quick", "brown", "fox")),
      (2L, Seq("a", "a", "a")),            // repeated tokens
      (3L, Seq("x", "")),                  // empty-string token (hashes, not skipped)
      (6L, Seq("unicode", "héllo", "日本語", "héllo")),
      (7L, Seq(null, "b", null, "d")))     // null elements: seed pass-through
    val df = rows.toDF("id", "t")
    val mismatch = df.select(col("id"),
        bigram_hashes(col("t")).as("a"), oldForm(col("t")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(mismatch === 0L)
    // below-bigram-length inputs (the old form's slice(n-1) cannot even
    // evaluate these — production guards with size >= 2): empty output
    val short = Seq((4L, Seq("solo")), (5L, Seq.empty[String])).toDF("id", "t")
    assert(short.select(size(bigram_hashes(col("t"))).as("n"))
      .filter(col("n") =!= 0).count() === 0L)
  }

  test("token_hashes matches the composed explode + xxhash64(lit(1L), ·) form bit-for-bit") {
    import graft.functions.expr.NativeFunctions.token_hashes
    val rows = Seq(
      (1L, Seq("the", "quick", "the", "")),
      (2L, Seq("héllo", "日本語")),
      (3L, Seq.empty[String]),
      (4L, Seq(null, "b")))          // null element: seed pass-through
    val df = rows.toDF("id", "t")
    val native = df.select(col("id"), explode(token_hashes(col("t"))).as("h"))
    val composed = df.select(col("id"), explode(col("t")).as("__tok"))
      .select(col("id"), xxhash64(lit(1L), col("__tok")).as("h"))
    assert(native.groupBy("id", "h").count().except(
      composed.groupBy("id", "h").count()).count() === 0L)
    assert(composed.groupBy("id", "h").count().except(
      native.groupBy("id", "h").count()).count() === 0L)
  }

  test("window_pairs matches the composed per-distance transform form (multiset)") {
    import graft.functions.expr.NativeFunctions.window_pairs
    // the exact per-distance form the native kernel replaced
    def oldPairs(df: org.apache.spark.sql.DataFrame, window: Int) =
      (1 to window).map { d =>
        df.filter(size(col("t")) > d)
          .select(explode(transform(sequence(lit(1), size(col("t")) - d),
            i => struct(
              least(element_at(col("t"), i), element_at(col("t"), i + d)).as("w1"),
              greatest(element_at(col("t"), i), element_at(col("t"), i + d)).as("w2"))))
            .as("__p"))
          .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      }.reduce(_ unionByName _)
    val rows = Seq(
      (1L, Seq("the", "quick", "brown", "fox", "the")),
      (2L, Seq("a", "a", "a")),                       // repeats → self-pairs
      (3L, Seq("zz", "aa")),                          // order flips to (aa, zz)
      (4L, Seq("héllo", "日本語", "é", "Z")),          // multi-byte UTF-8 order
      (5L, Seq("solo")),                              // below any distance
      (6L, Seq("x", "y", "z")))                       // n == window boundary
    val df = rows.toDF("id", "t")
    for (w <- 1 to 3) {
      val a = df.select(explode(window_pairs(col("t"), w)).as("__p"))
        .select(col("__p.w1"), col("__p.w2"))
        .groupBy("w1", "w2").count()
      val b = oldPairs(df, w).groupBy("w1", "w2").count()
      assert(a.except(b).count() === 0L && b.except(a).count() === 0L,
        s"pair multiset diverged at window=$w")
    }
  }

  test("token_bucket_counts and bucket_dot match the composed HOF forms bit-for-bit") {
    import graft.functions.expr.NativeFunctions.{rolling_hash, token_bucket_counts, bucket_dot}
    val nB = 16
    val rows = Seq(
      (1L, Seq("the", "quick", "brown", "fox", "the", "the")),
      (2L, Seq("héllo", "日本語", "", "x")),
      (3L, Seq("a")),
      (4L, Seq(null, "b", null)))
    val df = rows.toDF("id", "t")
      .withColumn("__b", transform(col("t"),
        t => rolling_hash(t).bitwiseAND(lit(nB - 1L))))
    // counts: the old per-bucket size∘filter form
    val oldCounts = array((0 until nB).map(b =>
      size(filter(col("__b"), h => h === lit(b.toLong))).cast("long")): _*)
    assert(df.select(token_bucket_counts(col("t"), nB).as("a"), oldCounts.as("b"))
      .filter(not(col("a") <=> col("b"))).count() === 0L)
    // dot: the old chained reduce(_ + _), including a negative first
    // weight (a zero count there yields -0.0 — the fold-order edge)
    val lr = (0 until nB).map(b => if (b % 3 == 0) -0.37 * (b + 1) else 0.11 * b)
    val oldDot = lr.zipWithIndex.map { case (v, b) =>
      size(filter(col("__b"), h => h === lit(b.toLong))).cast("double") * lit(v)
    }.reduce(_ + _)
    assert(df.select(bucket_dot(col("__b"), lr.toIndexedSeq).as("a"), oldDot.as("b"))
      .filter(not(col("a") <=> col("b"))).count() === 0L)
  }
}
