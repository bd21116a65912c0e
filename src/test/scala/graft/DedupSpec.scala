package graft

import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Dedup}
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical texts and keeps the min id") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(out === Array((1L, 2L), (3L, 1L)))
  }

  test("ngramJaccardPairs finds an injected near-duplicate") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a.replace("lazy", "sleepy") // one token differs
    val docs = Seq((1L, a), (2L, b), (3L, "completely unrelated content here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("shared shingle index: FromIndex/FromShingles ≡ the public operators") {
    // dedup_recall's r20 shape: one persisted (doc_id, s) index feeds
    // BOTH the exact-Jaccard truth and the MinHash candidate
    // pipelines; results must be identical to the standalone
    // operators that each build their own index
    val docs = Tables.documents(spark, sfDir)
    val cap = Dedup.autoCap(docs)
    val sh = Boundary.stage(Dedup.shingleIndexOf(docs, "doc_id", "text", k = 3))
    val truthShared = Dedup.ngramJaccardPairsFromIndex(sh, cap, tau = 0.6)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val candShared = Dedup.minhashLshPairsFromShingles(sh,
        perms = 64, bands = 16, tau = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    Boundary.release(sh)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, perms = 64, bands = 16, tau = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(truthShared === truth)
    assert(candShared === cand)
  }

  test("containmentPairs catches a NESTED duplicate symmetric Jaccard misses") {
    // doc 1 is quoted WHOLE inside doc 2 (the syndication/quote-post
    // case): containment(1→2) = 1.0, but the union is dominated by
    // doc 2's extra text so Jaccard stays low
    val inner = "the original short article body with its own twelve words exactly here"
    val outer = "roundup preamble text introduces the piece and then quotes it " +
      inner + " after which a long commentary follows with many further " +
      "paragraphs of completely different discussion material and closing notes"
    val docs = Seq((1L, inner), (2L, outer),
      (3L, "unrelated third document content entirely"))
      .toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(jac.isEmpty, s"Jaccard unexpectedly caught the nested pair: ${jac.toSeq}")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", k = 3, tauC = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(cont.map(r => (r._1, r._2)).toSeq === Seq((1L, 2L)),
      s"containment must flag inner→outer only: ${cont.toSeq}")
    assert(cont.head._3 === 1.0, s"whole-quote containment must be 1.0: ${cont.head}")
    // direction matters: the outer doc is NOT contained in the inner
    val reverse = cont.filter(r => r._1 == 2L)
    assert(reverse.isEmpty)
  }

  test("maxDf pruning drops only pairs held together by hot shingles") {
    val docs = Tables.documents(spark, sfDir)
    val unpruned = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // a generous cap keeps discriminative shingles: high-sim pairs survive
    val pruned = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.7,
      maxDf = Dedup.CapPolicy.Fixed(100))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pruned.subsetOf(unpruned))
    assert(pruned.nonEmpty)
  }

  test("autoCap derives from corpus stats: scales sf0.01 -> sf0.1, inert at gate") {
    val small = Tables.documents(spark, "/root/testdata/sf0.01")
    val big = Tables.documents(spark, "/root/testdata/sf0.1")
    val capSmall = Dedup.autoCap(small)
    val capBig = Dedup.autoCap(big)
    // the sqrt(N) rule: the cap grows with the corpus...
    assert(capBig > capSmall, s"cap must auto-scale: $capSmall -> $capBig")
    assert(capSmall === math.max(50, math.ceil(math.sqrt(small.count().toDouble)).toInt))
    // ...while staying above every real document frequency at gate
    // scale: derived-cap output is IDENTICAL to the uncapped run
    val uncapped = Dedup.ngramJaccardPairs(small, "doc_id", "text", k = 3, tau = 0.6,
        maxDf = Dedup.CapPolicy.Off)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val derived = Dedup.ngramJaccardPairs(small, "doc_id", "text", k = 3, tau = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(derived === uncapped, "derived cap must be inert on the gate corpus")
  }

  test("autoCap on a non-leaf frame uses the exact count, never a Catalyst estimate") {
    // ANALYZE gives the TABLE exact stats; a filter on top would make
    // rowCount a selectivity GUESS — autoCap must fall back to the
    // exact count() there, or the cap (and oracle parity) silently
    // drifts with estimator behavior
    val docs = Tables.documents(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS autocap_docs_spec")
    docs.write.saveAsTable("autocap_docs_spec")
    try {
      spark.sql("ANALYZE TABLE autocap_docs_spec COMPUTE STATISTICS")
      val t = spark.table("autocap_docs_spec")
      val filtered = t.filter(col("doc_id") % 10 === 3)
      val exactN = filtered.count()
      assert(Dedup.autoCap(filtered) ===
        math.max(50, math.ceil(math.sqrt(exactN.toDouble)).toInt))
      // the leaf path still reads the catalog stat
      assert(Dedup.autoCap(t) ===
        math.max(50, math.ceil(math.sqrt(t.count().toDouble)).toInt))
    } finally spark.sql("DROP TABLE IF EXISTS autocap_docs_spec")
  }

  test("minhash LSH recovers the high-jaccard pairs exact jaccard finds") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, perms = 64, bands = 16, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain near-duplicates")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (found ${lsh.size}, expected ${exact.size})")
  }

  test("incremental minhash equals the full self-dedup restricted to cross pairs") {
    val docs = Tables.documents(spark, sfDir)
    val batchPred = col("doc_id") % 10 === 3
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, perms = 64, bands = 16, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val crossExpected = full.filter { case (a, b) =>
        (a % 10 == 3) != (b % 10 == 3) } // exactly one side in the batch
      .map { case (a, b) => if (a % 10 == 3) (b, a) else (a, b) }.toSet
    val inc = Dedup.minhashLshIncremental(
        docs.filter(!batchPred), docs.filter(batchPred),
        "doc_id", "text", k = 3, perms = 64, bands = 16, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(inc === crossExpected)
  }

  test("incremental exact dedup resolves batch docs to the lowest matching corpus id") {
    val corpus = Seq((1L, "same text"), (5L, "same text"), (2L, "other"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "same text"), (101L, "brand new"))
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(corpus, batch, "doc_id", "text")
      .as[(Long, Option[Long])].collect().toMap
    assert(out === Map(100L -> Some(1L), 101L -> None))
  }

  test("incremental probes broadcast the batch side (corpus never shuffled for the probe)") {
    val docs = Tables.documents(spark, sfDir)
    val p = Dedup.exactIncremental(
        docs.filter(col("doc_id") % 10 =!= 3), docs.filter(col("doc_id") % 10 === 3),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"batch hash set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for an incremental probe:\n$p")
  }

  test("simhashPairs only returns pairs within the Hamming radius") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Long]("hamming") <= 3))
  }

  test("simhashPairs maxHamming=0 joins on the full signature (no hot bucket)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val exact = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    // identical token multiset -> identical signature; the unrelated
    // doc must not pair (mask -1L, not the wrapped (1<<64)-1 == 0
    // that would bucket everything together)
    assert(exact === Array((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 64)
    }
  }

  test("substringDupSpans merges consecutive duplicated windows into maximal spans") {
    val shared = (1 to 25).map(i => s"s$i").mkString(" ") // 25 shared tokens
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),
      (2L, s"b1 $shared y1 y2 y3 y4"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16 u17 u18 u19 u20 u21"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(docs, "doc_id", "text", k = 20)
      .orderBy("doc_id")
      .as[(Long, Int, Int, Long, Long)].collect()
    // doc 1: windows starting at tokens 4..9 are inside the shared run
    // (positions where the full 20-token window fits in the 25 shared):
    // span covers tokens 4 .. 28; doc 2: tokens 2 .. 26; doc 3: nothing
    assert(out === Array((1L, 4, 28, 6L, 2L), (2L, 2, 26, 6L, 2L)))
  }

  test("substringDupRemove keeps one corpus-wide copy, cleaned corpus has no cross-doc spans") {
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),
      (2L, s"b1 $shared y1 y2 y3 y4"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16 u17 u18 u19 u20 u21"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupRemove(docs, "doc_id", "text", k = 20)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    // doc 1 is the representative (min doc_id containing the shared
    // windows): untouched. doc 2 drops the covered tokens 2..26 (the
    // 25 shared tokens — windows 2..7 cover exactly them). doc 3
    // untouched.
    assert(out(0) === ((1L, s"a1 a2 a3 $shared z1 z2", 0L)))
    assert(out(1) === ((2L, "b1 y1 y2 y3 y4", 25L)))
    assert(out(2)._3 === 0L)
    // the cleaned corpus is span-free: one pass removed every
    // cross-doc duplicated passage
    val cleaned = Dedup.substringDupRemove(docs, "doc_id", "text", k = 20)
      .select(col("doc_id"), col("clean_text").as("text"))
    assert(Dedup.substringDupSpans(cleaned, "doc_id", "text", k = 20).count() === 0L)
  }

  test("substringProbe flags corpus passages in a batch, excludes self-reps, appends idempotently") {
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val corpus = Seq((1L, s"a1 a2 a3 $shared z1 z2"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"q1 $shared q2 q3"),
      (101L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12 v13 v14 v15 v16 v17 v18 v19 v20 v21"))
      .toDF("doc_id", "text")
    // Auto cap degenerates on a 1-doc corpus (√1 = 1 would tombstone
    // every cross-doc window at append time) — cap is off here, the
    // standing-cap behavior has its own spec in DurableStateSpec
    val idx = Dedup.substringIndex(corpus, "doc_id", "text", k = 20,
      maxDf = Dedup.CapPolicy.Off)
    val spans = Dedup.substringProbe(idx, batch, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Int, Int, Long)].collect()
    // batch doc 100: the 25 shared tokens sit at positions 2..26 —
    // corpus-known windows start at 2..7, span = tokens 2..26; doc
    // 101 shares nothing
    assert(spans === Array((100L, 2, 26, 6L)))

    // append the batch, probe it again: passage windows still flag
    // (their rep is corpus doc 1), batch-unique windows don't (the
    // batch doc IS their representative)
    val idx2 = Dedup.substringIndexAppend(idx, batch, "doc_id", "text")
    val again = Dedup.substringProbe(idx2, batch, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Int, Int, Long)].collect()
    assert(again === Array((100L, 2, 26, 6L)))
    // and the append is idempotent (min-merge): same hash universe
    val n2 = idx2.hashes.count()
    val idx3 = Dedup.substringIndexAppend(idx2, batch, "doc_id", "text")
    assert(idx3.hashes.count() === n2)
    idx3.release()
  }

  test("substringRemoveProbe cleans a batch against the corpus universe") {
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val corpus = Seq((1L, s"a1 a2 a3 $shared z1 z2")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"q1 $shared q2 q3"),
      (101L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12 v13 v14 v15 v16 v17 v18 v19 v20 v21"))
      .toDF("doc_id", "text")
    val idx = Dedup.substringIndex(corpus, "doc_id", "text", k = 20,
      maxDf = Dedup.CapPolicy.Off)
    try {
      val out = Dedup.substringRemoveProbe(idx, batch, "doc_id", "text")
        .orderBy("doc_id").as[(Long, String, Long)].collect()
      assert(out(0) === ((100L, "q1 q2 q3", 25L)))
      assert(out(1)._3 === 0L)
      // after append, a re-probed batch doc keeps its OWN unique
      // passages (self-rep) but still loses the corpus-known one
      val idx2 = Dedup.substringIndexAppend(idx, batch, "doc_id", "text")
      val again = Dedup.substringRemoveProbe(idx2, batch, "doc_id", "text")
        .orderBy("doc_id").as[(Long, String, Long)].collect()
      assert(again(0) === ((100L, "q1 q2 q3", 25L)))
      assert(again(1)._3 === 0L)
      idx2.release()
    } finally idx.release()
  }

  test("substringDupSpans ignores repetition WITHIN a single doc") {
    val run = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, s"$run filler $run"), (2L, "completely different tokens here"))
      .toDF("doc_id", "text")
    assert(Dedup.substringDupSpans(docs, "doc_id", "text", k = 20).count() === 0)
  }

  test("embeddingPairs returns exactly the above-threshold ordered pairs") {
    val e = Tables.embeddings(spark, sfDir)
    val tau = 0.35
    val got = Dedup.embeddingPairs(e, "vec_id", "embedding", "label", tau)
      .as[(Long, Long)].collect().toSet
    // independent reference: plain-scala cosine over collected vectors
    val vecs = e.select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val expected = (for {
      x <- vecs; y <- vecs
      if x._2 == y._2 && x._1 < y._1 && cos(x._3, y._3) >= tau
    } yield (x._1, y._1)).toSet
    assert(expected.nonEmpty, "threshold too high for test data")
    assert(got === expected)
  }

  test("embeddingPairsLsh: no false positives, recall beats label blocking") {
    val e = Tables.embeddings(spark, sfDir)
    val tau = 0.4
    val got = Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
        dim = 64, bits = 4, tables = 8, seed = 42L, tau = tau)
      .as[(Long, Long)].collect().toSet
    val vecs = e.select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val truth = (for {
      x <- vecs; y <- vecs
      if x._1 < y._1 && cos(x._3, y._3) >= tau
    } yield (x._1, y._1)).toSet
    val labelBlocked = truth.count { case (a, b) =>
      val la = vecs.find(_._1 == a).get._2; val lb = vecs.find(_._1 == b).get._2
      la == lb
    }
    assert(truth.nonEmpty, "threshold too high for test data")
    // every emitted pair is a true above-threshold pair (cosine verify)
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    // LSH blocking recalls strictly more of the truth than blocking on
    // the low-cardinality label column (the round-3 scale-killer)
    val lshRecall = got.size.toDouble / truth.size
    val labelRecall = labelBlocked.toDouble / truth.size
    assert(lshRecall >= labelRecall,
      s"LSH recall $lshRecall below label-block recall $labelRecall")
  }

  test("durable MinHash index: load+probe ≡ in-memory, self-dedup has no Exchange") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val batch = docs.filter(col("doc_id") % 10 === 3)
    val (k, perms, bands, tau) = (3, 64, 16, 0.5)
    spark.sql("DROP TABLE IF EXISTS mh_sigs_spec")
    spark.sql("DROP TABLE IF EXISTS mh_bands_spec")
    Dedup.minhashIndexWrite(corpus, "doc_id", "text", k, perms, bands,
      "mh_sigs_spec", "mh_bands_spec")
    try {
      val loaded = Dedup.minhashIndexLoad(spark, "mh_sigs_spec", "mh_bands_spec",
        k, perms, bands)
      // cross-session probe parity: loaded index ≡ recomputed pipeline
      val fromDisk = Dedup.minhashProbe(loaded, batch, "doc_id", "text", tau)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val inline = Dedup.minhashLshIncremental(corpus, batch, "doc_id", "text",
          k, perms, bands, tau)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(fromDisk === inline)
      // full self-dedup from the landed tables ≡ the from-scratch
      // operator, and its candidate self-join is bucketed: the plan
      // re-sorts within buckets but never exchanges the index
      val pairsFromIndex = Dedup.minhashPairsFromIndex(loaded, tau)
      val selfDisk = pairsFromIndex
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val selfScratch = Dedup.minhashLshPairs(corpus, "doc_id", "text",
          k, perms, bands, tau)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(selfDisk === selfScratch)
      // asserted on the OPERATOR's own candidate block (shared
      // selfCandidates), not a local reconstruction. Broadcast is
      // disabled so the join MUST sort-merge — the bucketed layout
      // has to satisfy the clustering itself; the only permitted
      // exchange is the ids-only dropDuplicates aggregate, never one
      // on the band keys (that would mean the index was re-shuffled)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val candPlan = Dedup.selfCandidates(loaded.banded)
          .queryExecution.executedPlan.toString
        assert(candPlan.contains("SortMergeJoin"), s"expected SMJ:\n$candPlan")
        assert(!candPlan.contains("Exchange hashpartitioning(band"),
          s"bucketed index self-join must not shuffle the band table:\n$candPlan")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      // parameter-mismatch loads hard-fail instead of silently
      // probing with the wrong hash family
      intercept[IllegalArgumentException] {
        Dedup.minhashIndexLoad(spark, "mh_sigs_spec", "mh_bands_spec",
          k, perms = 128, bands = 32)
      }
      // a hash-FAMILY evolution (v1 byte fold → v2 codepoint fold)
      // invalidates landed tables even with matching (k, perms,
      // bands): simulate an old-family table by downgrading the stamp
      spark.sql("ALTER TABLE mh_sigs_spec SET TBLPROPERTIES " +
        "('graft.minhash.hashVersion'='1')")
      intercept[IllegalArgumentException] {
        Dedup.minhashIndexLoad(spark, "mh_sigs_spec", "mh_bands_spec",
          k, perms, bands)
      }
      // a stamp this loader does not understand → throw
      spark.sql("ALTER TABLE mh_sigs_spec SET TBLPROPERTIES " +
        s"('graft.minhash.hashVersion'='${Dedup.minhashHashVersion}')")
      Dedup.minhashIndexLoad(spark, "mh_sigs_spec", "mh_bands_spec", k, perms, bands)
      spark.sql("ALTER TABLE mh_bands_spec SET TBLPROPERTIES " +
        "('graft.minhash.futurePolicy'='x')")
      intercept[IllegalArgumentException] {
        Dedup.minhashIndexLoad(spark, "mh_sigs_spec", "mh_bands_spec",
          k, perms, bands)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS mh_sigs_spec")
      spark.sql("DROP TABLE IF EXISTS mh_bands_spec")
    }
  }

  test("multi-probe LSH: radius-1 recall beats exact-probe at equal tables, no FPs") {
    val e = Tables.embeddings(spark, sfDir)
    def run(tables: Int, radius: Int): Set[(Long, Long)] =
      Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
          dim = 64, bits = 4, tables = tables, seed = 42L, tau = 0.4,
          probeRadius = radius)
        .as[(Long, Long)].collect().toSet
    val exact3 = run(3, 0)
    val multi3 = run(3, 1)
    // Hamming-1 probing only ADDS candidate pairs: strictly more of
    // the (cosine-verified) truth survives at the same table count
    assert(exact3.subsetOf(multi3))
    assert(multi3.size > exact3.size,
      s"multi-probe found nothing extra (${multi3.size} vs ${exact3.size})")
    // and every emitted pair passed the exact-cosine verify
    val vecs = e.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    multi3.foreach { case (a, b) =>
      assert(cos(vecs(a), vecs(b)) >= 0.4, s"false positive ($a,$b)")
    }
  }

  test("registered dedup_embedding plan has no label-keyed self-join") {
    // the round-3 scale-killer: blocking on a low-cardinality data
    // column makes within-block all-pairs quadratic; the registered
    // plan must block on LSH buckets only
    // (the Relation node prints the full table schema, so test the
    // join conditions, not raw substring presence)
    val labelJoin = """label#\d+[^)]*=\s*label#\d+""".r
    val plan = SparkEntry.queries("dedup_embedding")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(labelJoin.findFirstIn(plan).isEmpty,
      "label-keyed join in the dedup_embedding plan")
    val planSem = SparkEntry.queries("dedup_semantic")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(labelJoin.findFirstIn(planSem).isEmpty,
      "label-keyed join in the dedup_semantic plan")
  }

  test("editDistancePairs finds shared-prefix near-dups within the distance bound") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta!"),   // 1 edit from doc 1, same block
      (3L, "alpha beta gamma DELTA XX"), // 8 edits from doc 1
      (4L, "omega beta gamma delta"))    // near doc 1 but different prefix block
      .toDF("doc_id", "text")
    val close = graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text",
      maxDist = 2, lenBucket = 64, prefixLen = 4)
      .select("doc_a", "doc_b", "lev").as[(Long, Long, Int)].collect().toSet
    assert(close === Set((1L, 2L, 1)))
    val loose = graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text",
      maxDist = 10, lenBucket = 64, prefixLen = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // doc 4 never pairs: blocking is by prefix (documented recall contract)
    assert(loose === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("editDistancePairs finds pairs straddling a length-bucket edge") {
    // lengths 7 and 8 fall in buckets 0 and 1 at lenBucket=8: the
    // round-3 blocking (exact bucket equality) missed this pair even
    // though lev=1 <= maxDist — the adjacent-bucket probe finds it.
    // id order is deliberately inverted vs bucket order (doc 2 is the
    // SHORTER text) to cover the least/greatest normalization.
    val docs = Seq(
      (1L, "abcd efgh"),     // 9 chars, bucket 1
      (2L, "abcd efg"),      // 8 chars, bucket 1
      (3L, "abcd ef"),       // 7 chars, bucket 0 — 1 edit from doc 2
      (4L, "zzzz unrelated"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text",
      maxDist = 2, lenBucket = 8, prefixLen = 4)
      .select("doc_a", "doc_b", "lev").as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 1)),
      s"bucket-edge pair missing from $got")
  }

  test("editCandidateEstimate counts the blocking join's pairs exactly (r20 verify sizing)") {
    // block table: (__lb, __p, __bs). Same-bucket pairs C(bs,2);
    // adjacent-bucket (lb, lb+1) within a prefix multiply; different
    // prefixes never combine; a lb gap of 2 contributes nothing.
    val kept = Seq(
      (0L, "aaaa", 3L), // C(3,2) = 3
      (1L, "aaaa", 2L), // C(2,2) = 1; adjacent to lb=0: 3*2 = 6
      (3L, "aaaa", 4L), // C(4,2) = 6; lb gap 2 from lb=1: no cross term
      (0L, "bbbb", 5L), // C(5,2) = 10; different prefix: no cross term
      (2L, "cccc", 1L)) // singleton block: 0
      .toDF("__lb", "__p", "__bs")
    assert(graft.operators.Dedup.editCandidateEstimate(kept) ===
      (3L + 1L + 6L + 6L + 10L))
    // brute-force cross-check on a generated corpus: the estimate
    // must equal the ACTUAL candidate row count of the blocking join
    // (same bucket ∪ adjacent bucket, each unordered pair once)
    val docs = (1 to 40).map { i =>
      val len = 4 + (i * 7) % 23
      (i.toLong, "pfx-" + ("x" * len))
    }.toDF("doc_id", "text")
    val bucket = 8
    val raw = docs.select(col("doc_id").as("id"), col("text").as("t"))
      .withColumn("__lb", floor(length(col("t")) / bucket))
      .withColumn("__p", substring(col("t"), 1, 4))
    val sizes = raw.groupBy("__lb", "__p").agg(count("*").as("__bs"))
    val rows = raw.select("id", "__lb", "__p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val brute = (for {
      (ia, la, pa) <- rows; (ib, lb, pb) <- rows
      if pa == pb && ia < ib && math.abs(la - lb) <= 1
    } yield 1).size
    assert(graft.operators.Dedup.editCandidateEstimate(sizes) === brute.toLong)
  }

}
