package graft

import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Similarity}
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK ranks by cosine with deterministic tiebreak") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),   // cos 1.0 with query
      (11L, Array(0.9f, 0.1f)),   // high
      (12L, Array(0.0f, 1.0f)),   // orthogonal
      (13L, Array(-1.0f, 0.0f))). // opposite
      toDF("id", "vec")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val out = Similarity.bruteForceTopK(corpus, queries, "id", "vec", k = 3)
      .orderBy("rnk").select("neighbor_id").as[Long].collect()
    assert(out === Array(10L, 11L, 12L))
  }

  test("lshTopK achieves high recall@5 against brute force") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // bits/tables tuned for weakly-correlated vectors (top-5 sims here
    // are only cos≈0.4): p_bit = 1-θ/π ≈ 0.63, so 4 bits × 8 tables
    // gives expected recall ≈ 1-(1-0.63^4)^8 ≈ 0.75
    val approx = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
      dim = 64, bits = 4, tables = 8, seed = 42L, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall@5 = $recall (approx ${approx.size} of ${exact.size})")
  }

  test("sq8TopK: 1-byte quantization preserves the top-k on separated data") {
    // dimensions with genuinely different ranges, plus a CONSTANT dim
    // (span 0 — the division guard) riding along
    val corpus = Seq(
      (10L, Array(100.0f, 0.01f, 7.0f)),
      (11L, Array(90.0f, 0.012f, 7.0f)),
      (12L, Array(0.0f, 0.2f, 7.0f)),
      (13L, Array(-80.0f, -0.05f, 7.0f)),
      (14L, Array(-100.0f, -0.1f, 7.0f))).toDF("id", "vec")
    val queries = Seq((1L, Array(95.0f, 0.011f, 7.0f))).toDF("id", "vec")
    val sq = Similarity.sq8TopK(corpus, queries, "id", "vec", k = 3)
      .orderBy("rnk").select("neighbor_id").as[Long].collect()
    val exact = Similarity.bruteForceTopK(corpus, queries, "id", "vec", k = 3)
      .orderBy("rnk").select("neighbor_id").as[Long].collect()
    assert(sq === exact,
      s"8-bit codes must keep well-separated ranks: ${sq.toSeq} vs ${exact.toSeq}")
  }

  test("sq8TopK recall@5 against brute force on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.sq8TopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 8 bits/dim is a fine quantization: per-dim error ≤ span/510, so
    // recall should be near-exact — far above what PQ's 4-bit-ish
    // codes give on the same data
    val recall = exact.intersect(sq).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@5 = $recall")
  }

  test("SQ8 index lifecycle: probe ≡ inline, append drift guard, remove/compact") {
    dropTables("sq8_ix", "sq8_ix__tombstones")
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val (mins, spans) = Similarity.sq8Ranges(corpus, "vec_id", "embedding")

    // landed probe ≡ inline operator (same native encode→pack→dequant)
    Similarity.sq8IndexWrite(corpus, "vec_id", "embedding", mins, spans, "sq8_ix")
    val inline = Similarity.sq8TopK(corpus, queries, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val probed = Similarity.sq8ProbeIndex(spark, "sq8_ix", queries,
        "vec_id", "embedding", mins, spans, 5)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(probed === inline)

    // wrong ranges must hard-fail (codes are meaningless under them)
    intercept[IllegalArgumentException] {
      Similarity.sq8ProbeIndex(spark, "sq8_ix", queries,
        "vec_id", "embedding", mins.map(_ + 1.0), spans, 5)
    }

    // append: an IN-RANGE batch lands and shows up in probes; a
    // replayed append is a no-op
    val inRange = corpus.limit(2)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    Similarity.sq8IndexAppend(spark, "sq8_ix", inRange, "vec_id", "embedding",
      mins, spans)
    Similarity.sq8IndexAppend(spark, "sq8_ix", inRange, "vec_id", "embedding",
      mins, spans)
    assert(spark.table("sq8_ix").count() === corpus.count() + 2)

    // the drift GUARD: values far outside the stamped ranges refuse
    // (clamped codes would silently distort every distance)
    val drifted = corpus.limit(2)
      .select((col("vec_id") + 6000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x + lit(100.0))
          .as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.sq8IndexAppend(spark, "sq8_ix", drifted,
        "vec_id", "embedding", mins, spans)
    }
    assert(ex.getMessage.contains("drift"), ex.getMessage)
    // measured drift on the shifted batch is total; in-range is zero
    assert(Similarity.sq8RangeDriftFrac(drifted, "embedding", mins, spans) > 0.9)
    assert(Similarity.sq8RangeDriftFrac(inRange, "embedding", mins, spans) === 0.0)

    // remove tombstones immediately; compact is probe-invariant
    Similarity.sq8IndexRemove(spark, "sq8_ix",
      inRange.select("vec_id"), "vec_id")
    val afterRemove = Similarity.sq8ProbeIndex(spark, "sq8_ix", queries,
        "vec_id", "embedding", mins, spans, 5)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(afterRemove === inline, "takedown must restore the pre-append view")
    Similarity.sq8IndexCompact(spark, "sq8_ix")
    val afterCompact = Similarity.sq8ProbeIndex(spark, "sq8_ix", queries,
        "vec_id", "embedding", mins, spans, 5)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(afterCompact === afterRemove)
    dropTables("sq8_ix", "sq8_ix__tombstones")
  }

  test("SQ8 codes really are 1 byte/dim: the stored column is a D-byte binary") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val (mins, spans) = Similarity.sq8Ranges(corpus, "vec_id", "embedding")
    dropTables("sq8_sz")
    Similarity.sq8IndexWrite(corpus, "vec_id", "embedding", mins, spans, "sq8_sz")
    val lens = spark.table("sq8_sz")
      .select(length(col("code"))).distinct().as[Int].collect()
    assert(lens.toSeq === Seq(64), s"code widths: ${lens.toSeq}")
    dropTables("sq8_sz")
  }

  test("ivfTopK with all lists probed equals brute force exactly") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "rnk", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val full = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      nCentroids = 8, nprobe = 8, k = 5)
      .select("query_id", "rnk", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full === exact) // probing every list = exhaustive search
  }

  test("ivfTopK recall degrades gracefully with fewer probes") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      nCentroids = 16, nprobe = 8, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
  }

  test("pqTopK is exact when the codebook reconstructs the corpus perfectly") {
    // 4 distinct sub-vectors per subspace, kCent=4: Lloyd's init pins a
    // centroid on each, so quantization error is zero and PQ == exact
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (10L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (11L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (12L, Seq(2.0f, 1.0f, 0.5f, 0.5f)),
      (13L, Seq(0.5f, 0.5f, 2.0f, 1.0f))).toDF("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") >= 10)
    val queries = vecs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3)
      .as[(Long, Int, Long)].collect().toSet
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      m = 2, kCent = 4, k = 3, trainSample = 4, iters = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(pq === exact)
  }

  test("pqTopK recall@5 against brute force on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      m = 8, kCent = 32, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"PQ recall@5 = $recall")
    // determinism: train + encode + score twice, same result
    val again = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      m = 8, kCent = 32, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again === approx)
  }

  test("kmeans separates well-separated clusters exactly") {
    val vecs = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.1, 0.0)), (2L, Array(0.0, 0.2)),
      (3L, Array(10.0, 10.0)), (4L, Array(10.0, 10.1)), (5L, Array(9.9, 10.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Int)].collect().toMap
    assert(out.size === 6)
    assert(Set(out(0L), out(1L), out(2L)).size === 1, "near-origin cluster split")
    assert(Set(out(3L), out(4L), out(5L)).size === 1, "far cluster split")
    assert(out(0L) !== out(3L), "both blobs in one cluster")
  }

  test("kmeans is deterministic and total on the embeddings table") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.kmeans(emb, "vec_id", "embedding", k = 8, iters = 2)
      .as[(Long, Int)].collect().toSeq.sorted
    val b = Similarity.kmeans(emb, "vec_id", "embedding", k = 8, iters = 2)
      .as[(Long, Int)].collect().toSeq.sorted
    assert(a === b)
    assert(a.map(_._1).distinct.size === emb.count(), "a vector lost or duplicated")
    assert(a.map(_._2).distinct.size > 1, "degenerate single cluster")
  }

  test("kmeans iterations do not increase inertia") {
    val emb = Tables.embeddings(spark, sfDir)
    def inertia(iters: Int): Double = {
      val assigned = Similarity.kmeans(emb, "vec_id", "embedding", k = 8, iters = iters)
        .join(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), "vec_id")
      val byDim = assigned
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
      val means = byDim.groupBy("cluster_id", "pos").agg(avg(col("x")).as("m"))
      byDim.join(means, Seq("cluster_id", "pos"))
        .agg(sum((col("x") - col("m")) * (col("x") - col("m"))))
        .collect().head.getDouble(0)
    }
    val i1 = inertia(1); val i3 = inertia(3)
    assert(i3 <= i1 * 1.0001, s"inertia rose across iterations: $i1 -> $i3")
  }

  test("kmeans assignment stage has no corpus shuffle") {
    val p = Similarity.kmeans(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", k = 4, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"final assignment should be a pure map over the scan:\n$p")
  }

  test("k-means++ init lowers inertia vs lowest-id init, deterministically") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 8; val iters = 3
    val kpp = Similarity.kmeansPlusPlusInit(emb, "vec_id", "embedding",
      k, sampleSize = 256, seed = 42L)
    val kpp2 = Similarity.kmeansPlusPlusInit(emb, "vec_id", "embedding",
      k, sampleSize = 256, seed = 42L)
    assert(kpp.map(_.toSeq).toSeq === kpp2.map(_.toSeq).toSeq, "seeded init not deterministic")
    val centsKpp = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k, iters, Some(kpp))
    val centsLow = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k, iters)
    val iKpp = Similarity.inertia(emb, "vec_id", "embedding", centsKpp)
    val iLow = Similarity.inertia(emb, "vec_id", "embedding", centsLow)
    assert(iKpp < iLow, s"k-means++ should beat lowest-id init: $iKpp vs $iLow")
  }

  test("IVF with a kmeans-trained quantizer: exhaustive probe still equals brute force") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val q = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2,
      Some(Similarity.kmeansPlusPlusInit(corpus, "vec_id", "embedding",
        k = 8, sampleSize = 256, seed = 7L)))
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        nCentroids = 8, nprobe = 8, k = 5, quantizer = Some(q))
      .as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .as[(Long, Int, Long)].collect().toSet
    assert(ivf === brute)
  }

  test("persisted IVF index: probe equals the inline operator, assignment precomputed") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val q = corpus.select(col("embedding").cast("array<double>"), col("vec_id"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Double](0).toArray)
    spark.sql("DROP TABLE IF EXISTS ivf_idx_spec")
    Similarity.ivfIndexWrite(corpus, "vec_id", "embedding", q, "ivf_idx_spec")
    try {
      // the stored index carries the list assignment — probes never
      // recompute it (the minhashIndex land-time pattern)
      val stored = spark.table("ivf_idx_spec")
      assert(stored.columns.toSet === Set("neighbor_id", "cv", "cn2", "cid"))
      assert(stored.count() === corpus.count())
      for (nprobe <- Seq(4, 16)) {
        val fromIndex = Similarity.ivfProbeIndex(spark, "ivf_idx_spec", queries,
            "vec_id", "embedding", q, nprobe = nprobe, k = 5)
          .as[(Long, Int, Long)].collect().toSet
        val inline = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
            nCentroids = 16, nprobe = nprobe, k = 5, quantizer = Some(q))
          .as[(Long, Int, Long)].collect().toSet
        assert(fromIndex === inline, s"nprobe=$nprobe")
      }
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idx_spec")
  }

  test("ivfPqTopK with all lists probed equals pqTopK exactly") {
    // nprobe = nCentroids makes the coarse stage a no-op filter, so
    // the composite must reduce to pure PQ: same codebook, same ADC
    // shortlist, same rerank
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val composite = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        nCentroids = 16, nprobe = 16, m = 8, kCent = 32, k = 5,
        iters = 3, roundTo = Some(6))
      .as[(Long, Int, Long)].collect().toSet
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        m = 8, kCent = 32, k = 5, iters = 3, roundTo = Some(6))
      .as[(Long, Int, Long)].collect().toSet
    assert(composite === pq)
  }

  test("ivfPqTopK recall@5 against brute force on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._3)).toSet
    val approx = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        nCentroids = 16, nprobe = 8, m = 8, kCent = 32, k = 5,
        iters = 3, roundTo = Some(6))
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._3)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivfpq recall@5 $recall")
  }

  test("persisted IVF-PQ index: probe equals inline, fingerprints guard the model") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val q = corpus.select(col("embedding").cast("array<double>"), col("vec_id"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Double](0).toArray)
    val (cb, _) = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 8, kCent = 32, trainSample = 512, iters = 3, roundTo = Some(6))
    spark.sql("DROP TABLE IF EXISTS ivfpq_idx_spec")
    Similarity.ivfPqIndexWrite(corpus, "vec_id", "embedding", q, cb,
      m = 8, kCent = 32, table = "ivfpq_idx_spec")
    try {
      val stored = spark.table("ivfpq_idx_spec")
      assert(stored.columns.toSet === Set("neighbor_id", "cv", "cn2", "cid", "code"))
      assert(stored.count() === corpus.count())
      for (nprobe <- Seq(4, 16)) {
        val fromIndex = Similarity.ivfPqProbeIndex(spark, "ivfpq_idx_spec",
            queries, "vec_id", "embedding", q, cb, m = 8, kCent = 32,
            nprobe = nprobe, k = 5)
          .as[(Long, Int, Long)].collect().toSet
        val inline = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
            nCentroids = 16, nprobe = nprobe, m = 8, kCent = 32, k = 5,
            iters = 3, roundTo = Some(6), quantizer = Some(q))
          .as[(Long, Int, Long)].collect().toSet
        assert(fromIndex === inline, s"nprobe=$nprobe")
      }
      // probing with model state the index was NOT built with must
      // throw, not silently return wrong neighbors
      val cbTampered = cb.updated(0, cb(0) + 1.0)
      intercept[IllegalArgumentException] {
        Similarity.ivfPqProbeIndex(spark, "ivfpq_idx_spec", queries,
          "vec_id", "embedding", q, cbTampered, m = 8, kCent = 32,
          nprobe = 4, k = 5)
      }
      val qTampered = q.map(_.clone()); qTampered(0)(0) += 1.0
      intercept[IllegalArgumentException] {
        Similarity.ivfPqProbeIndex(spark, "ivfpq_idx_spec", queries,
          "vec_id", "embedding", qTampered, cb, m = 8, kCent = 32,
          nprobe = 4, k = 5)
      }
    } finally spark.sql("DROP TABLE IF EXISTS ivfpq_idx_spec")
  }

  test("IVF index lifecycle: append ≡ rebuild, replay-idempotent; remove tombstones; re-append re-admits; compact probe-invariant") {
    val e = Tables.embeddings(spark, sfDir)
    val all = e.filter(col("vec_id") >= 8)
    val base = all.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = all.filter(pmod(col("vec_id"), lit(3)) === 0)
    val victims = batch.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"))
    val queries = e.filter(col("vec_id") < 8)
    val q = base.select(col("embedding").cast("array<double>"), col("vec_id"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Double](0).toArray)
    def probeSet(table: String) =
      Similarity.ivfProbeIndex(spark, table, queries, "vec_id", "embedding",
        q, nprobe = 4, k = 5).as[(Long, Int, Long)].collect().toSet
    Seq("ivf_lc", "ivf_lc_full", "ivf_lc_without").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("DROP TABLE IF EXISTS ivf_lc__tombstones")
    Similarity.ivfIndexWrite(base, "vec_id", "embedding", q, "ivf_lc")
    Similarity.ivfIndexWrite(all, "vec_id", "embedding", q, "ivf_lc_full")
    Similarity.ivfIndexWrite(
      all.join(victims, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", q, "ivf_lc_without")
    try {
      val fullSet = probeSet("ivf_lc_full")
      val withoutSet = probeSet("ivf_lc_without")
      assert(fullSet !== withoutSet,
        "victims must matter to the probe or the spec is vacuous")
      // append ≡ build-over-union
      Similarity.ivfIndexAppend(spark, "ivf_lc", batch, "vec_id", "embedding", q)
      assert(probeSet("ivf_lc") === fullSet)
      val nRows = spark.table("ivf_lc").count()
      assert(nRows === all.count())
      // replay: same batch again is a no-op
      Similarity.ivfIndexAppend(spark, "ivf_lc", batch, "vec_id", "embedding", q)
      assert(spark.table("ivf_lc").count() === nRows)
      assert(probeSet("ivf_lc") === fullSet)
      // takedown: probes match an index built without the victims
      Similarity.ivfIndexRemove(spark, "ivf_lc", victims, "vec_id")
      assert(probeSet("ivf_lc") === withoutSet)
      val victimIds = victims.as[Long].collect().toSet
      assert(probeSet("ivf_lc").forall(r => !victimIds.contains(r._3)))
      // re-removal is a no-op on the tombstone sibling
      val nTombs = spark.table("ivf_lc__tombstones").count()
      Similarity.ivfIndexRemove(spark, "ivf_lc", victims, "vec_id")
      assert(spark.table("ivf_lc__tombstones").count() === nTombs)
      // re-append RE-ADMITS (tombstones clear, physical rows undoubled)
      Similarity.ivfIndexAppend(spark, "ivf_lc",
        all.join(victims, Seq("vec_id"), "left_semi"),
        "vec_id", "embedding", q)
      assert(probeSet("ivf_lc") === fullSet)
      assert(spark.table("ivf_lc").count() === nRows)
      assert(spark.table("ivf_lc__tombstones").count() === 0)
      // compact with an EMPTY tombstone sibling: no-op beyond
      // dropping the sibling — no corpus rewrite, rows untouched
      Similarity.ivfIndexCompact(spark, "ivf_lc")
      assert(spark.table("ivf_lc").count() === nRows)
      assert(!spark.catalog.tableExists("ivf_lc__tombstones"))
      assert(probeSet("ivf_lc") === fullSet)
      // STALE-VECTOR GUARD: a removed id re-appended with a DIFFERENT
      // vector must refuse — the stored (stale) row would be served,
      // not the new one; compact-then-append is the documented path
      Similarity.ivfIndexRemove(spark, "ivf_lc", victims, "vec_id")
      val mutated = all.join(victims, Seq("vec_id"), "left_semi")
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(1.0f)))
      intercept[IllegalArgumentException] {
        Similarity.ivfIndexAppend(spark, "ivf_lc", mutated,
          "vec_id", "embedding", q)
      }
      // the refused append left the takedown in force
      assert(probeSet("ivf_lc") === withoutSet)
      // compact: physical delete, probe-invariant, sibling dropped
      Similarity.ivfIndexRemove(spark, "ivf_lc", victims, "vec_id")
      Similarity.ivfIndexCompact(spark, "ivf_lc")
      assert(probeSet("ivf_lc") === withoutSet)
      assert(spark.table("ivf_lc").count() === nRows - victimIds.size)
      assert(!spark.catalog.tableExists("ivf_lc__tombstones"))
      // appending under a different quantizer must throw
      val tampered = q.map(_.clone()); tampered(0)(0) += 1.0
      intercept[IllegalArgumentException] {
        Similarity.ivfIndexAppend(spark, "ivf_lc", batch, "vec_id",
          "embedding", tampered)
      }
    } finally Seq("ivf_lc", "ivf_lc_full", "ivf_lc_without",
      "ivf_lc__tombstones", "ivf_lc__compacting").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IVF-PQ index lifecycle: append/remove/compact under fingerprint guard") {
    val e = Tables.embeddings(spark, sfDir)
    val all = e.filter(col("vec_id") >= 8)
    val base = all.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = all.filter(pmod(col("vec_id"), lit(3)) === 0)
    val victims = batch.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"))
    val queries = e.filter(col("vec_id") < 8)
    val q = base.select(col("embedding").cast("array<double>"), col("vec_id"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Double](0).toArray)
    val (cb, _) = Similarity.pqTrain(base, "vec_id", "embedding",
      m = 8, kCent = 32, trainSample = 512, iters = 3, roundTo = Some(6))
    def probeSet(table: String) =
      Similarity.ivfPqProbeIndex(spark, table, queries, "vec_id", "embedding",
        q, cb, m = 8, kCent = 32, nprobe = 4, k = 5)
        .as[(Long, Int, Long)].collect().toSet
    Seq("ivfpq_lc", "ivfpq_lc_full", "ivfpq_lc_without").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("DROP TABLE IF EXISTS ivfpq_lc__tombstones")
    Similarity.ivfPqIndexWrite(base, "vec_id", "embedding", q, cb,
      m = 8, kCent = 32, table = "ivfpq_lc")
    Similarity.ivfPqIndexWrite(all, "vec_id", "embedding", q, cb,
      m = 8, kCent = 32, table = "ivfpq_lc_full")
    Similarity.ivfPqIndexWrite(all.join(victims, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", q, cb, m = 8, kCent = 32, table = "ivfpq_lc_without")
    try {
      val fullSet = probeSet("ivfpq_lc_full")
      Similarity.ivfPqIndexAppend(spark, "ivfpq_lc", batch, "vec_id",
        "embedding", q, cb, m = 8, kCent = 32)
      assert(probeSet("ivfpq_lc") === fullSet)
      Similarity.ivfPqIndexAppend(spark, "ivfpq_lc", batch, "vec_id",
        "embedding", q, cb, m = 8, kCent = 32) // replay no-op
      assert(spark.table("ivfpq_lc").count() === all.count())
      Similarity.ivfPqIndexRemove(spark, "ivfpq_lc", victims, "vec_id")
      assert(probeSet("ivfpq_lc") === probeSet("ivfpq_lc_without"))
      Similarity.ivfPqIndexCompact(spark, "ivfpq_lc")
      assert(probeSet("ivfpq_lc") === probeSet("ivfpq_lc_without"))
      assert(!spark.catalog.tableExists("ivfpq_lc__tombstones"))
      // the stamped fingerprints survive compaction (swap-by-rename
      // re-stamps): a tampered codebook still throws
      val cbTampered = cb.updated(0, cb(0) + 1.0)
      intercept[IllegalArgumentException] {
        Similarity.ivfPqIndexAppend(spark, "ivfpq_lc", batch, "vec_id",
          "embedding", q, cbTampered, m = 8, kCent = 32)
      }
    } finally Seq("ivfpq_lc", "ivfpq_lc_full", "ivfpq_lc_without",
      "ivfpq_lc__tombstones", "ivfpq_lc__compacting").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ivfProbeIndex rejects a quantizer the index was not built with") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val q = corpus.select(col("embedding").cast("array<double>"), col("vec_id"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Double](0).toArray)
    spark.sql("DROP TABLE IF EXISTS ivf_fp_spec")
    Similarity.ivfIndexWrite(corpus, "vec_id", "embedding", q, "ivf_fp_spec")
    try {
      val tampered = q.map(_.clone()); tampered(3)(7) += 0.5
      intercept[IllegalArgumentException] {
        Similarity.ivfProbeIndex(spark, "ivf_fp_spec", queries,
          "vec_id", "embedding", tampered, nprobe = 4, k = 5)
      }
    } finally spark.sql("DROP TABLE IF EXISTS ivf_fp_spec")
  }

  test("trained quantizer balances inverted lists better than lowest-id centroids") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    def maxListShare(q: Option[Array[Array[Double]]]): Double = {
      val cents = q.getOrElse(corpus
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy("vec_id").limit(8).collect().map(_.getSeq[Double](1).toArray))
      val sizes = corpus
        .select(Similarity.assignCol(cents, col("embedding").cast("array<double>")).as("cid"))
        .groupBy("cid").count().as[(Int, Long)].collect().map(_._2)
      sizes.max.toDouble / sizes.sum
    }
    val trained = Similarity.kmeansCentroids(corpus, "vec_id", "embedding", 8, 3,
      Some(Similarity.kmeansPlusPlusInit(corpus, "vec_id", "embedding", 8, 256, 7L)))
    // a probe's cost is the hottest list it can hit — training must
    // not leave one list holding most of the corpus
    assert(maxListShare(Some(trained)) <= maxListShare(None))
  }

  test("lshTopK is deterministic across runs (seeded hyperplanes)") {
    val e = Tables.embeddings(spark, sfDir)
    def run() = Similarity.lshTopK(e.filter(col("vec_id") >= 8),
      e.filter(col("vec_id") < 8), "vec_id", "embedding",
      dim = 64, bits = 4, tables = 8, seed = 42L, k = 5)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(run() === run())
  }

  test("pcaTopComponent recovers a planted dominant direction") {
    val dim = 8
    val wRaw = Array(3.0, -1.0, 2.0, 0.5, -2.5, 1.5, 0.0, 1.0)
    val wn = math.sqrt(wRaw.map(x => x * x).sum)
    val w = wRaw.map(_ / wn)
    // spread ±5 along w, deterministic noise ±0.05 elsewhere — one
    // direction carries ~100× the variance of any other
    val rows = (0 until 200).map { i =>
      val s = -5.0 + 10.0 * i / 199.0
      val v = Array.tabulate(dim)(j =>
        s * w(j) + 0.05 * math.sin(i * 13 + j * 7))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val (mu, pc, scale) = Similarity.pcaTopComponent(rows, "embedding", iters = 3)
    assert(mu.length === dim && pc.length === dim)
    // unit norm at the rounding precision
    val n = math.sqrt(pc.map(x => x * x).sum)
    assert(math.abs(n - 1.0) < 1e-4, s"component norm $n")
    // alignment with the planted axis (sign-free)
    val cos = math.abs(pc.zip(w).map { case (a, b) => a * b }.sum)
    assert(cos > 0.999, s"|cos(component, planted)| = $cos")
    assert(scale > 0.0)
    // deterministic end to end
    val (_, pc2, _) = Similarity.pcaTopComponent(rows, "embedding", iters = 3)
    assert(pc.toSeq === pc2.toSeq)

    // residuals: the planted direction explains almost everything —
    // scores span the ±5 spread, residuals stay at the noise scale,
    // and score² + residual² reassembles |xc|² (Pythagoras)
    val res = Similarity.pcaResiduals(rows, "vec_id", "embedding", mu, pc)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(res.map(_._1).max > 4.0 && res.map(_._1).min < -4.0)
    assert(res.map(_._2).max < 0.3, s"residual ${res.map(_._2).max}")
    assert(res.forall { case (s2, r2) => r2 >= 0.0 && !r2.isNaN })
  }

  test("k-center greedy coreset covers every planted cluster before revisiting one") {
    val dim = 6
    // four tight clusters far apart + mild jitter
    val centers = Seq(
      Array(10.0, 0, 0, 0, 0, 0), Array(0.0, 10, 0, 0, 0, 0),
      Array(0.0, 0, 10, 0, 0, 0), Array(0.0, 0, 0, 10, 0, 0))
    val rows = (for {
      c <- centers.indices
      i <- 0 until 25
    } yield {
      val v = Array.tabulate(dim)(j =>
        centers(c)(j) + 0.1 * math.sin(c * 31 + i * 7 + j * 3))
      (c * 100L + i, v.toSeq)
    }).toDF("vec_id", "embedding")
    val (chosen, assign) = Similarity.kCenterCoreset(rows, "vec_id",
      "embedding", k = 4)
    // one center per planted cluster — farthest-point cannot revisit
    assert(chosen.map(_._1 / 100L).toSet === Set(0L, 1L, 2L, 3L))
    // the first pick is the deterministic lowest id
    assert(chosen.head._1 === 0L)
    // assignment recovers the planted partition exactly
    val wrong = assign.filter(floor(col("vec_id") / 100) =!=
      floor(col("center_id") / 100)).count()
    assert(wrong === 0L, s"$wrong vectors assigned across clusters")
    // and d2 is the exact squared distance to the OWN cluster's center
    assert(assign.filter(col("d2") > 1.0).count() === 0L)
    Boundary.release(assign)
  }

  test("nearest_centroid matches the composed argmin form bit-for-bit") {
    import graft.functions.expr.NativeFunctions.nearest_centroid
    import graft.functions.Vectors
    // the exact composed form nearestCid replaced: array_min over
    // per-centroid struct(lit(c2) - 2*dot(v, lit-array), lit(cid))
    def oldForm(cents: Array[(Int, Array[Double])], v: org.apache.spark.sql.Column) =
      array_min(array(cents.map { case (cid, c) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * Vectors.dot(v,
          array(c.map(lit).toIndexedSeq: _*))).as("d"),
          lit(cid).as("cid"))
      }.toIndexedSeq: _*)).getField("cid")
    val dim = 8
    val rnd = new scala.util.Random(7L)
    val cents = Array.tabulate(16)(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val flat = cents.flatMap(_._2).toIndexedSeq
    val c2 = cents.map { case (_, c) => c.map(x => x * x).sum }.toIndexedSeq
    val rows = (0 until 500).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq)
    } ++ Seq(
      (9001L, Array.fill(dim)(0.0).toSeq),                     // equidistant ties
      (9002L, (Double.NaN +: Array.fill(dim - 1)(1.0)).toSeq), // NaN ranks: all d NaN
      (9003L, Seq(1.0, 2.0)),                                  // short vector
      (9004L, Array.fill(dim + 4)(0.5).toSeq))                 // long vector (extra dims ignored)
    val df = rows.toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val mismatch = df.select(col("id"),
        nearest_centroid(col("v"), flat, c2, dim, 16).as("a"),
        oldForm(cents, col("v")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatch === 0L)
  }
}
