package graft

import org.apache.spark.sql.functions._
import graft.operators.{Boundary, Clusters, Dedup}
import graft.sources.Tables

/** Durable standing-state contracts added in round 6 and hardened in
  * round 7: the cluster-state table (clustersWrite/clustersLoad), the
  * index-side self-dedup, and idempotent index append. */
class DurableStateSpec extends SparkSpec {
  import spark.implicits._

  private val (dim, bits, tables, seed, tau) = (64, 4, 8, 42L, 0.4)

  test("embeddingPairsFromIndex ≡ embeddingPairsLsh on the same corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val direct = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding",
      dim, bits, tables, seed, tau)
    val index = Dedup.embeddingIndex(emb, "vec_id", "embedding",
      dim, bits, tables, seed)
    val viaIndex = Dedup.embeddingPairsFromIndex(index, tau)
    val a = direct.as[(Long, Long)].collect().toSet
    val b = viaIndex.as[(Long, Long)].collect().toSet
    assert(a.nonEmpty, "gate corpus should contain near-dups")
    assert(a === b)
    Boundary.release(direct)
    Boundary.release(viaIndex)
    index.release()
  }

  test("embeddingIndexAppend is idempotent under batch replay") {
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 3)
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 3)

    // reference: one append over a fresh index
    val ref = Dedup.embeddingIndexAppend(
      Dedup.embeddingIndex(corpus, "vec_id", "embedding", dim, bits, tables, seed),
      batch, "vec_id", "embedding")
    val refPairs = Dedup.embeddingPairsFromIndex(ref, tau)
    val expected = refPairs.as[(Long, Long)].collect().toSet
    val (refVecs, refBands) = (ref.vecs.count(), ref.banded.count())
    Boundary.release(refPairs)
    ref.release()

    // at-least-once delivery: the same batch re-delivered → no
    // duplicate index rows, no duplicate pairs
    val replayed = Dedup.embeddingIndexAppend(
      Dedup.embeddingIndexAppend(
        Dedup.embeddingIndex(corpus, "vec_id", "embedding", dim, bits, tables, seed),
        batch, "vec_id", "embedding"),
      batch, "vec_id", "embedding")
    assert(replayed.vecs.count() === refVecs)
    assert(replayed.banded.count() === refBands)
    val replayedPairs = Dedup.embeddingPairsFromIndex(replayed, tau)
    assert(replayedPairs.as[(Long, Long)].collect().toSet === expected)
    Boundary.release(replayedPairs)
    replayed.release()

    // and the appended index ≡ an index built over the union outright
    val full = Dedup.embeddingIndex(emb, "vec_id", "embedding",
      dim, bits, tables, seed)
    val fullPairs = Dedup.embeddingPairsFromIndex(full, tau)
    assert(fullPairs.as[(Long, Long)].collect().toSet === expected)
    Boundary.release(fullPairs)
    full.release()
  }

  test("minhashIndexAppend is idempotent and ≡ build-over-union") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
    val (k, perms, bands, mtau) = (3, 64, 16, 0.5)

    val ref = Dedup.minhashIndexAppend(
      Dedup.minhashIndex(corpus, "doc_id", "text", k, perms, bands),
      batch, "doc_id", "text")
    val refPairs = Dedup.minhashPairsFromIndex(ref, mtau)
    val expected = refPairs.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val (refSigs, refBands) = (ref.sigs.count(), ref.banded.count())
    assert(expected.nonEmpty, "gate corpus should contain near-dups")
    ref.release()

    // re-delivered batch → no duplicate sig/band rows, same pairs
    val replayed = Dedup.minhashIndexAppend(
      Dedup.minhashIndexAppend(
        Dedup.minhashIndex(corpus, "doc_id", "text", k, perms, bands),
        batch, "doc_id", "text"),
      batch, "doc_id", "text")
    assert(replayed.sigs.count() === refSigs)
    assert(replayed.banded.count() === refBands)
    val replayedPairs = Dedup.minhashPairsFromIndex(replayed, mtau)
    assert(replayedPairs.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet === expected)
    replayed.release()

    // appended ≡ an index built over the union outright
    val full = Dedup.minhashIndex(docs, "doc_id", "text", k, perms, bands)
    val fullPairs = Dedup.minhashPairsFromIndex(full, mtau)
    assert(fullPairs.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet === expected)
    full.release()
  }

  test("index removal: retract ≡ build-without, unknown ids no-op, re-admit works") {
    val docs = Tables.documents(spark, sfDir)
    val victims = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    val survivors = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val (k, perms, bands, mtau) = (3, 64, 16, 0.5)

    // minhash: remove ≡ build over the survivors
    val removed = Dedup.minhashIndexRemove(
      Dedup.minhashIndex(docs, "doc_id", "text", k, perms, bands),
      victims.select("doc_id"), "doc_id")
    val direct = Dedup.minhashIndex(survivors, "doc_id", "text", k, perms, bands)
    val pr = Dedup.minhashPairsFromIndex(removed, mtau)
    val pd = Dedup.minhashPairsFromIndex(direct, mtau)
    val got = pr.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === pd.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    direct.release()
    // unknown ids: no-op
    val again = Dedup.minhashIndexRemove(removed,
      Seq(999999990L, 999999991L).toDF("doc_id"), "doc_id")
    val pa = Dedup.minhashPairsFromIndex(again, mtau)
    assert(pa.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet === got)
    // re-admit: append restores the removed docs
    val readmitted = Dedup.minhashIndexAppend(again, victims, "doc_id", "text")
    val full = Dedup.minhashIndex(docs, "doc_id", "text", k, perms, bands)
    assert(readmitted.sigs.count() === full.sigs.count())
    val prr = Dedup.minhashPairsFromIndex(readmitted, mtau)
    val pf = Dedup.minhashPairsFromIndex(full, mtau)
    assert(prr.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet ===
      pf.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    readmitted.release(); full.release()

    // embedding twin: remove ≡ build over the survivors
    val emb = Tables.embeddings(spark, sfDir)
    val eRemoved = Dedup.embeddingIndexRemove(
      Dedup.embeddingIndex(emb, "vec_id", "embedding", dim, bits, tables, seed),
      emb.filter(pmod(col("vec_id"), lit(10)) === 7).select("vec_id"), "vec_id")
    val eDirect = Dedup.embeddingIndex(
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 7),
      "vec_id", "embedding", dim, bits, tables, seed)
    val er = Dedup.embeddingPairsFromIndex(eRemoved, tau)
    val ed = Dedup.embeddingPairsFromIndex(eDirect, tau)
    assert(er.as[(Long, Long)].collect().toSet ===
      ed.as[(Long, Long)].collect().toSet)
    Boundary.release(er); Boundary.release(ed)
    eRemoved.release(); eDirect.release()
  }

  test("clustersWrite/clustersLoad roundtrip, param guards both directions") {
    val params = Map("pairs" -> "ngram_jaccard", "k" -> "3", "tau" -> "0.6")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node", "cluster_id")
    spark.sql("DROP TABLE IF EXISTS clusters_spec")
    try {
      Clusters.clustersWrite(labels, "clusters_spec", params)
      val back = Clusters.clustersLoad(spark, "clusters_spec", params)
      assert(back.select("node", "cluster_id").as[(Long, Long)]
        .collect().toSet === Set((1L, 1L), (2L, 1L), (3L, 3L)))
      // wrong value → throw
      intercept[IllegalArgumentException] {
        Clusters.clustersLoad(spark, "clusters_spec", params + ("tau" -> "0.9"))
      }
      // requested-but-unstamped key → throw
      intercept[IllegalArgumentException] {
        Clusters.clustersLoad(spark, "clusters_spec", params + ("perms" -> "128"))
      }
      // stamped-but-unrequested key (subset load) → throw: unstated
      // params could encode a different similarity regime
      intercept[IllegalArgumentException] {
        Clusters.clustersLoad(spark, "clusters_spec", params - "k")
      }
      // not a clustersWrite table → throw
      spark.sql("DROP TABLE IF EXISTS clusters_alien")
      Seq((1L, 1L)).toDF("node", "cluster_id")
        .write.mode("overwrite").saveAsTable("clusters_alien")
      intercept[IllegalArgumentException] {
        Clusters.clustersLoad(spark, "clusters_alien", Map.empty)
      }
      spark.sql("DROP TABLE IF EXISTS clusters_alien")
    } finally spark.sql("DROP TABLE IF EXISTS clusters_spec")
  }

  test("substring index retract ≡ build-without; rep_doc takedown re-derives the min survivor") {
    // corpus-scale parity: remove ≡ build over the survivors (cap off
    // so tombstone monotonicity can't make the two universes differ —
    // the standing-cap behavior has its own spec below)
    val docs = Tables.documents(spark, sfDir)
    val victims = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    val survivors = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val removed = Dedup.substringIndexRemove(
      Dedup.substringIndex(docs, "doc_id", "text", k = 20,
        maxDf = Dedup.CapPolicy.Off),
      victims.select("doc_id"), "doc_id")
    val direct = Dedup.substringIndex(survivors, "doc_id", "text", k = 20,
      maxDf = Dedup.CapPolicy.Off)
    def universe(i: Dedup.SubstringIndex) =
      i.hashes.as[(Long, Long, Long)].collect().toSet
    // snapshot BEFORE handing `removed` to the next remove — the
    // mutators unpersist their input's frames (ownership transfer),
    // and collecting a released localCheckpoint'd frame is a
    // use-after-free race
    val uRemoved = universe(removed)
    assert(uRemoved === universe(direct))
    direct.release()
    // unknown ids: no-op
    val again = Dedup.substringIndexRemove(removed,
      Seq(999999990L).toDF("doc_id"), "doc_id")
    assert(universe(again) === uRemoved)
    // re-admit restores the full universe
    val readmitted = Dedup.substringIndexAppend(again, victims, "doc_id", "text")
    val full = Dedup.substringIndex(docs, "doc_id", "text", k = 20,
      maxDf = Dedup.CapPolicy.Off)
    assert(universe(readmitted) === universe(full))
    readmitted.release(); full.release()

    // the subtlety the pair indexes don't have: removing a window's
    // REPRESENTATIVE doc must hand representation to the min survivor
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val tiny = Seq((1L, s"a1 a2 $shared"), (2L, s"b1 $shared b2"))
      .toDF("doc_id", "text")
    val idx = Dedup.substringIndexRemove(
      Dedup.substringIndex(tiny, "doc_id", "text", k = 20,
        maxDf = Dedup.CapPolicy.Off),
      Seq(1L).toDF("doc_id"), "doc_id")
    try {
      // doc 2 now REPRESENTS the passage: probing doc 2 is a self-hit
      // (no flag) while a new doc carrying the passage still flags
      val selfProbe = Dedup.substringProbe(idx,
        Seq((2L, s"b1 $shared b2")).toDF("doc_id", "text"), "doc_id", "text")
      assert(selfProbe.count() === 0L,
        "surviving representative must not flag against itself")
      Boundary.release(selfProbe)
      val newProbe = Dedup.substringProbe(idx,
        Seq((300L, s"x1 $shared")).toDF("doc_id", "text"), "doc_id", "text")
      assert(newProbe.count() === 1L,
        "passage must still be indexed after its rep_doc's takedown")
      Boundary.release(newProbe)
    } finally idx.release()
  }

  test("substring index write/load roundtrip + param guards") {
    val docs = Tables.documents(spark, sfDir).limit(200)
    val idx = Dedup.substringIndex(docs, "doc_id", "text", k = 20)
    val batch = Seq((900001L, docs.select("text").as[String].first()))
      .toDF("doc_id", "text")
    val expected = {
      val p = Dedup.substringProbe(idx, batch, "doc_id", "text")
      val r = p.as[(Long, Int, Int, Long)].collect().toSet
      Boundary.release(p); r
    }
    assert(expected.nonEmpty, "probe of a corpus text should span-flag")
    val ts = Seq("ss_hashes", "ss_members", "ss_tombs")
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Dedup.substringIndexWrite(idx, "ss_hashes", "ss_members", "ss_tombs")
      idx.release()
      val back = Dedup.substringIndexLoad(spark,
        "ss_hashes", "ss_members", "ss_tombs", k = 20)
      val p2 = Dedup.substringProbe(back, batch, "doc_id", "text")
      assert(p2.as[(Long, Int, Int, Long)].collect().toSet === expected)
      Boundary.release(p2)
      // the loaded index continues the loop: append works against it
      // (the appended doc copies a corpus text, so the corpus doc
      // stays representative and the probe still flags the same span)
      val grown = Dedup.substringIndexAppend(back, batch, "doc_id", "text")
      val p3 = Dedup.substringProbe(grown, batch, "doc_id", "text")
      assert(p3.as[(Long, Int, Int, Long)].collect().toSet === expected)
      Boundary.release(p3)
      // wrong k → throw (a different window width never matches)
      intercept[IllegalArgumentException] {
        Dedup.substringIndexLoad(spark, "ss_hashes", "ss_members",
          "ss_tombs", k = 10)
      }
      // a stamp this loader does not understand → throw
      spark.sql("ALTER TABLE ss_tombs SET TBLPROPERTIES " +
        "('graft.substr.futurePolicy'='x')")
      intercept[IllegalArgumentException] {
        Dedup.substringIndexLoad(spark, "ss_hashes", "ss_members",
          "ss_tombs", k = 20)
      }
      // not a substringIndexWrite table → throw
      spark.sql("DROP TABLE IF EXISTS ss_alien")
      Seq((1L, 2L)).toDF("h", "doc_id").write.saveAsTable("ss_alien")
      intercept[IllegalArgumentException] {
        Dedup.substringIndexLoad(spark, "ss_hashes", "ss_alien",
          "ss_tombs", k = 20)
      }
      spark.sql("DROP TABLE IF EXISTS ss_alien")
    } finally ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("substring df cap is a STANDING policy: append re-caps, tombstones never re-enter") {
    val w = (1 to 25).map(i => s"w$i").mkString(" ") // the boilerplate passage
    def doc(id: Long, tag: String) = (id, s"$tag$id $w")
    // build at cap 3 with df(w)=2 — under cap, indexed
    val idx0 = Dedup.substringIndex(
      Seq(doc(1, "a"), doc(2, "a")).toDF("doc_id", "text"),
      "doc_id", "text", k = 20, maxDf = Dedup.CapPolicy.Fixed(3))
    assert(idx0.hashes.count() > 0)
    // two appends push df(w) to 4 > cap: the windows must TOMBSTONE
    // (old behavior kept accumulating them — ADVICE r7 finding)
    val idx1 = Dedup.substringIndexAppend(idx0,
      Seq(doc(3, "a")).toDF("doc_id", "text"), "doc_id", "text")
    val idx2 = Dedup.substringIndexAppend(idx1,
      Seq(doc(4, "a")).toDF("doc_id", "text"), "doc_id", "text")
    val probe = Dedup.substringProbe(idx2,
      Seq((500L, s"q1 $w")).toDF("doc_id", "text"), "doc_id", "text")
    assert(probe.count() === 0L,
      "over-cap boilerplate must stop matching probes after append re-caps it")
    Boundary.release(probe)
    // tombstoned windows never re-enter via append...
    val idx3 = Dedup.substringIndexAppend(idx2,
      Seq(doc(5, "a")).toDF("doc_id", "text"), "doc_id", "text")
    val probe2 = Dedup.substringProbe(idx3,
      Seq((501L, s"q2 $w")).toDF("doc_id", "text"), "doc_id", "text")
    assert(probe2.count() === 0L, "tombstoned boilerplate re-entered via append")
    Boundary.release(probe2)
    // ...and retraction does not resurrect them (monotone), even when
    // df drops back under cap
    val idx4 = Dedup.substringIndexRemove(idx3,
      Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
    val probe3 = Dedup.substringProbe(idx4,
      Seq((502L, s"q3 $w")).toDF("doc_id", "text"), "doc_id", "text")
    assert(probe3.count() === 0L, "tombstone must survive retraction (monotone)")
    Boundary.release(probe3)
    idx4.release()
  }

  test("clustersWrite survives quote/backslash metacharacters in values") {
    val params = Map("note" -> """it's a 'quoted' \ value""")
    val labels = Seq((7L, 7L)).toDF("node", "cluster_id")
    spark.sql("DROP TABLE IF EXISTS clusters_quote_spec")
    try {
      Clusters.clustersWrite(labels, "clusters_quote_spec", params)
      val back = Clusters.clustersLoad(spark, "clusters_quote_spec", params)
      assert(back.count() === 1L)
      // a key that could escape the property-name literal is rejected
      intercept[IllegalArgumentException] {
        Clusters.clustersWrite(labels, "clusters_quote_spec",
          Map("bad'key" -> "v"))
      }
    } finally spark.sql("DROP TABLE IF EXISTS clusters_quote_spec")
  }
}
