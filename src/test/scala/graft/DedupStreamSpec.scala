package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Dedup}
import graft.sources.Tables
import graft.streaming.DedupStream
import graft.streaming.DedupStream.{Doc, ProbeResult}

/** Streaming incremental-dedup probes: the continuous twins of
  * Dedup.exactIncremental / Dedup.minhashLshIncremental. Parity is
  * against the batch operators on the same data, plus the
  * cross-batch catch the batch probe cannot make. */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  implicit private def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def runExact(corpus: DataFrame,
      batches: Seq[Seq[Doc]], name: String): Map[Long, Option[Long]] = {
    val idx = DedupStream.exactIndex(corpus, "doc_id", "text")
    val mem = MemoryStream[Doc]
    val q = DedupStream.exactProbe(mem.toDS(), idx)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally { q.stop(); Boundary.release(idx) }
    spark.table(name).as[ProbeResult].collect()
      .map(r => r.doc_id -> r.dup_of).toMap
  }

  test("exact probe ≡ the standing-representative batch reference, split-invariant") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val streamDocs = Seq(
      Doc(10L, "alpha"),  // corpus dup → 1 (lowest corpus id)
      Doc(11L, "fresh one"),
      Doc(12L, "fresh one"), // same-batch dup of 11 when batched together
      Doc(13L, "gamma"),
      Doc(14L, "beta"),   // corpus dup → 2
      Doc(15L, "gamma"))  // cross-batch dup of 13
    // reference: dup_of(d) = min id among (corpus ∪ earlier-stream)
    // docs with identical content — ids arrive ascending, so the
    // standing representative IS that minimum
    val all = corpus.as[(Long, String)].collect().map(r => (r._1, r._2, true)) ++
      streamDocs.map(d => (d.doc_id, d.text, false))
    val expected = streamDocs.map { d =>
      val earlier = all.filter { case (id, t, isCorpus) =>
        t == d.text && (isCorpus || id < d.doc_id) }
      d.doc_id -> (if (earlier.isEmpty) None else Some(earlier.map(_._1).min))
    }.toMap

    val oneBatch = runExact(corpus, Seq(streamDocs), "t_exact_1")
    val threeBatches = runExact(corpus,
      Seq(streamDocs.take(2), streamDocs.slice(2, 4), streamDocs.drop(4)), "t_exact_3")
    assert(oneBatch === expected)
    assert(threeBatches === expected, "batching must not change the output")
  }

  test("cross-batch duplicate is caught where the static batch probe passes it as new") {
    val corpus = Seq((1L, "alpha")).toDF("doc_id", "text")
    val b1 = Seq(Doc(10L, "new content"))
    val b2 = Seq(Doc(20L, "new content")) // dup of 10 — NOT in the corpus
    val out = runExact(corpus, Seq(b1, b2), "t_cross")
    assert(out(10L) === None)
    assert(out(20L) === Some(10L), "stream state must remember batch 1")
    // the batch probe against the static corpus alone misses it
    val staticOnly = Dedup.exactIncremental(corpus,
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Option[Long])].collect().toMap
    assert(staticOnly(20L) === None, "static probe cannot see earlier batches")
  }

  test("exact probe TTL: expired stream hashes re-admit, corpus matches unaffected") {
    val corpus = Seq((1L, "alpha")).toDF("doc_id", "text")
    val idx = DedupStream.exactIndex(corpus, "doc_id", "text")
    val mem = MemoryStream[Doc]
    val q = DedupStream.exactProbe(mem.toDS(), idx,
        stateTtl = Some(java.time.Duration.ofMillis(500)))
      .writeStream.outputMode("update").format("memory").queryName("t_ttl").start()
    try {
      // NOTE: with ProcessingTimeTimeout the engine self-triggers
      // no-data batches to fire expirations, so processAllAvailable
      // never settles — poll the sink instead
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (spark.table("t_ttl").count() < n) {
          assert(System.nanoTime() < deadline, s"timed out waiting for $n sink rows")
          Thread.sleep(100)
        }
      }
      mem.addData(Seq(Doc(10L, "ephemeral"), Doc(11L, "alpha")))
      awaitRows(2)
      // let the 500 ms TTL lapse; the intermediate batch fires the
      // expirations (timeouts fire for keys WITHOUT data in a batch)
      Thread.sleep(2000)
      mem.addData(Seq(Doc(20L, "unrelated")))
      awaitRows(3)
      mem.addData(Seq(Doc(30L, "ephemeral"), Doc(31L, "alpha")))
      awaitRows(5)
      val out = spark.table("t_ttl").as[ProbeResult].collect()
        .map(r => r.doc_id -> r.dup_of).toMap
      assert(out(10L) === None)
      assert(out(30L) === None,
        "state for 'ephemeral' must have expired — re-admitted as first sighting")
      assert(out(11L) === Some(1L))
      assert(out(31L) === Some(1L),
        "corpus matches rebuild from the standing index regardless of TTL")
    } finally { q.stop(); Boundary.release(idx) }
  }

  test("streamed substring probes over batches ≡ the one-shot standing-index probe (and resume from durable tables)") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id"), col("text")).as[Doc].collect().sortBy(_.doc_id).toSeq

    // the continuous-loop RESUME path: the index this stream probes
    // was landed as durable tables by an earlier session and
    // reattached here (TextClusterStream.resume pattern — no corpus
    // re-windowing on restart)
    Seq("sst_h", "sst_m", "sst_t").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val built = Dedup.substringIndex(corpus, "doc_id", "text", k = 20)
    Dedup.substringIndexWrite(built, "sst_h", "sst_m", "sst_t")
    built.release()
    val idx = Dedup.substringIndexLoad(spark, "sst_h", "sst_m", "sst_t", k = 20)
    val oneShot = Dedup.substringProbe(idx, batchDocs.toDF(), "doc_id", "text")
    val expected = oneShot.as[(Long, Int, Int, Long)].collect().toSet
    Boundary.release(oneShot)
    assert(expected.nonEmpty, "gate corpus should contain cross passage dups")

    val got = scala.collection.mutable.Set.empty[(Long, Int, Int, Long)]
    val mem = MemoryStream[Doc]
    val q = DedupStream.substringProbeQuery(mem.toDS(), idx) { spans =>
      got ++= spans.as[(Long, Int, Int, Long)].collect()
    }
    try {
      val size = math.max(1, batchDocs.size / 3)
      batchDocs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally {
      q.stop(); idx.release()
      Seq("sst_h", "sst_m", "sst_t").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    assert(got.toSet === expected)
  }

  test("streamed minhash probes over batches ≡ the one-shot batch operator") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id"), col("text")).as[Doc].collect().sortBy(_.doc_id).toSeq
    val (k, perms, bands, tau) = (3, 64, 16, 0.5)

    val expected = Dedup.minhashLshIncremental(corpus,
        batchDocs.toDF(), "doc_id", "text", k, perms, bands, tau)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "gate corpus should contain cross near-dups")

    val index = Dedup.minhashIndex(corpus, "doc_id", "text", k, perms, bands)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val mem = MemoryStream[Doc]
    val q = DedupStream.minhashProbeQuery(mem.toDS(), index, tau) { pairs =>
      got ++= pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
    }
    try {
      val size = math.max(1, batchDocs.size / 3)
      batchDocs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally { q.stop(); index.release() }
    assert(got.toSet === expected)
  }

  test("streamed embedding probes over batches ≡ the one-shot standing-index probe") {
    import graft.streaming.DedupStream.EmbDoc
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 3)
    val batchDocs = emb.filter(pmod(col("vec_id"), lit(10)) === 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbDoc].collect().sortBy(_.vec_id).toSeq
    val (dim, bits, tables, seed, tau) = (64, 4, 8, 42L, 0.4)

    val index = Dedup.embeddingIndex(corpus, "vec_id", "embedding",
      dim, bits, tables, seed)
    // one-shot reference: the whole stream as a single probe batch —
    // corpus×batch pairs partition by batch, so the per-batch union
    // must reproduce it exactly
    val oneShot = Dedup.embeddingProbe(index,
      batchDocs.toDF("vec_id", "embedding"), "vec_id", "embedding", tau)
    val expected = oneShot.as[(Long, Long)].collect().toSet
    Boundary.release(oneShot)
    assert(expected.nonEmpty, "gate corpus should contain cross near-dups")

    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val mem = MemoryStream[EmbDoc]
    val q = DedupStream.embeddingProbeQuery(mem.toDS(), index, tau) { pairs =>
      got ++= pairs.as[(Long, Long)].collect()
    }
    try {
      val size = math.max(1, batchDocs.size / 3)
      batchDocs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally { q.stop(); index.release() }
    assert(got.toSet === expected)
  }

  test("durable embedding index: load-probe ≡ in-session probe, params guarded") {
    import graft.streaming.DedupStream.EmbDoc
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 3)
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 3)
      .select(col("vec_id"), col("embedding"))
    val (dim, bits, tables, seed, tau) = (64, 4, 8, 42L, 0.4)
    spark.sql("DROP TABLE IF EXISTS emb_vecs_spec")
    spark.sql("DROP TABLE IF EXISTS emb_band_spec")
    Dedup.embeddingIndexWrite(corpus, "vec_id", "embedding",
      dim, bits, tables, seed, "emb_vecs_spec", "emb_band_spec")
    try {
      val inMem = Dedup.embeddingIndex(corpus, "vec_id", "embedding",
        dim, bits, tables, seed)
      val loaded = Dedup.embeddingIndexLoad(spark,
        "emb_vecs_spec", "emb_band_spec", dim, bits, tables, seed)
      val a = Dedup.embeddingProbe(inMem, batch, "vec_id", "embedding", tau)
      val b = Dedup.embeddingProbe(loaded, batch, "vec_id", "embedding", tau)
      assert(a.as[(Long, Long)].collect().toSet ===
        b.as[(Long, Long)].collect().toSet)
      Boundary.release(a); Boundary.release(b)
      inMem.release()
      // a different hyperplane family must hard-fail at load, not
      // silently probe dead buckets
      intercept[IllegalArgumentException] {
        Dedup.embeddingIndexLoad(spark, "emb_vecs_spec", "emb_band_spec",
          dim, bits, tables, seed + 1)
      }
      // a stamp this loader does not understand → throw
      spark.sql("ALTER TABLE emb_band_spec SET TBLPROPERTIES " +
        "('graft.emblsh.futurePolicy'='x')")
      intercept[IllegalArgumentException] {
        Dedup.embeddingIndexLoad(spark, "emb_vecs_spec", "emb_band_spec",
          dim, bits, tables, seed)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS emb_vecs_spec")
      spark.sql("DROP TABLE IF EXISTS emb_band_spec")
    }
  }
}
