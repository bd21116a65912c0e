package graft

import org.apache.spark.sql.functions._

import graft.functions.expr.NativeFunctions.cdc_chunk_hashes
import graft.operators.{Boundary, Dedup}

/** Content-defined chunking: the boundary rule is content-derived, so
  * chunk hashes must survive the insertions that shift every
  * fixed-stride window — that invariant IS the operator's reason to
  * exist, and this spec proves it on planted edits. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def words(seed: Int, n: Int): Seq[String] = {
    var s = seed.toLong * 2654435761L + 17
    (0 until n).map { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      "w" + ((s >>> 40) % 97)
    }
  }

  private def chunksOf(text: String): Seq[(Long, Int)] =
    Seq(Tuple1(text)).toDF("text")
      .select(explode(cdc_chunk_hashes(col("text"), 4, 8)).as("c"))
      .select(col("c.hash"), col("c.len"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq

  test("chunk lengths partition the token stream; expected length tracks D") {
    val text = words(1, 400).mkString(" ")
    val cs = chunksOf(text)
    assert(cs.map(_._2).sum === 400)
    assert(cs.forall(_._2 >= 1))
    // expected chunk length ≈ D=8 (warmup and the tail flush skew it
    // a little); a broken boundary rule lands far outside this band
    val avg = 400.0 / cs.size
    assert(avg >= 4.0 && avg <= 16.0, s"avg chunk length $avg")
  }

  test("a front insertion only perturbs chunks up to the first surviving boundary") {
    val base = words(2, 300).mkString(" ")
    val edited = "zzz qqq xxx " + base
    val a = chunksOf(base).map(_._1)
    val b = chunksOf(edited).map(_._1).toSet
    // every chunk of the original after the first boundary re-syncs:
    // boundaries depend only on the last w=4 words, so once past the
    // edit the boundary stream is identical — all but the FIRST chunk
    // of the original must reappear verbatim in the edited doc
    val surviving = a.drop(1)
    assert(surviving.nonEmpty)
    assert(surviving.forall(b.contains),
      s"${surviving.count(!b.contains(_))} of ${surviving.size} " +
        "post-edit chunks changed hash")
    // while the fixed-stride equivalent loses EVERY positional window
    val strideA = Seq(Tuple1(base)).toDF("text")
      .select(graft.functions.expr.NativeFunctions
        .shingle_hashes_all(col("text"), 8).as("h"))
      .collect().head.getSeq[Long](0)
    val strideB = Seq(Tuple1(edited)).toDF("text")
      .select(graft.functions.expr.NativeFunctions
        .shingle_hashes_all(col("text"), 8).as("h"))
      .collect().head.getSeq[Long](0)
    val samePos = strideA.zip(strideB).count { case (x, y) => x == y }
    assert(samePos === 0, "positional windows unexpectedly aligned")
  }

  test("empty and whitespace-only input chunk to nothing") {
    val cs = Seq(Tuple1(""), Tuple1("   \t  ")).toDF("text")
      .select(size(cdc_chunk_hashes(col("text"), 4, 8)).as("n"))
      .collect().map(_.getInt(0))
    assert(cs.toSeq === Seq(0, 0))
  }

  test("a copied passage is found across docs at different offsets") {
    val passage = words(3, 60)
    val docA = (words(4, 37) ++ passage ++ words(5, 80)).mkString(" ")
    val docB = (words(6, 113) ++ passage ++ words(7, 20)).mkString(" ")
    val docC = words(8, 150).mkString(" ")
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val dup = Dedup.cdcDuplicateChunks(docs, "doc_id", "text",
      w = 4, modD = 8, minLen = 4)
    val hit = dup.filter(col("n_docs") >= 2).count()
    // the 60-word shared passage spans ~7 chunks; interior chunks
    // (content fully inside the passage) hash identically in both docs
    assert(hit >= 3, s"only $hit duplicated chunks found")
    // and the doc-level profile points at A and B, not C
    val stats = Dedup.cdcDocStats(docs, "doc_id", "text", 4, 8, 4)
    val ratios = stats.collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ratios(1L) > 0.0 && ratios(2L) > 0.0)
    assert(ratios(3L) === 0.0, s"clean doc scored ${ratios(3L)}")
    Boundary.release(stats)
  }

  // ---- the standing index lifecycle ----

  import graft.operators.CdcIndex

  private def passage = words(30, 60)
  private def corpusDocs = Seq(
    (1L, (words(31, 40) ++ passage ++ words(32, 50)).mkString(" ")),
    (2L, (words(33, 90) ++ passage).mkString(" ")),
    (3L, words(34, 150).mkString(" "))).toDF("doc_id", "text")

  private def chunkState(ix: CdcIndex.CdcIndex): Set[(Long, Long)] =
    ix.chunks.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("CDC index: idempotent append, retraction re-derives, re-admission restores") {
    val ix0 = CdcIndex.cdcIndexBuild(corpusDocs, "doc_id", "text")
    val base = chunkState(ix0)
    assert(base.nonEmpty && base.exists(_._2 >= 2L),
      "planted passage must appear as shared chunks")

    // replay-idempotent: re-delivering the same docs changes nothing
    val ix1 = CdcIndex.cdcIndexAppend(ix0, corpusDocs, "doc_id", "text")
    assert(chunkState(ix1) === base)

    // retract doc 2: its exclusive chunks vanish, the shared passage
    // chunks survive through doc 1 with their count re-derived to 1
    val ix2 = CdcIndex.cdcIndexRemove(ix1, Seq(2L).toDF("doc_id"), "doc_id")
    val afterRm = chunkState(ix2)
    assert(afterRm.forall(_._2 === 1L), "no chunk should keep count 2")
    assert(afterRm.map(_._1).subsetOf(base.map(_._1)))
    assert(afterRm.size < base.size, "doc 2's exclusive chunks must vanish")

    // re-admission: appending doc 2 back restores the exact state
    val ix3 = CdcIndex.cdcIndexAppend(ix2,
      corpusDocs.filter(col("doc_id") === 2L), "doc_id", "text")
    assert(chunkState(ix3) === base)
    ix3.release()
  }

  test("CDC probe flags an embedded passage; durable roundtrip guards params") {
    dropTables("cdc_ix_chunks", "cdc_ix_members")
    val ix = CdcIndex.cdcIndexBuild(corpusDocs, "doc_id", "text")
    val batch = Seq(
      (10L, (words(40, 25) ++ passage ++ words(41, 15)).mkString(" ")),
      (11L, words(42, 100).mkString(" "))).toDF("doc_id", "text")
    val probe = CdcIndex.cdcProbeFromIndex(ix, batch, "doc_id", "text")
    val byDoc = probe.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(byDoc(10L)._2 >= 3L, s"embedded passage undetected: ${byDoc(10L)}")
    assert(byDoc(10L)._3 > 0.0)
    assert(byDoc(11L)._2 === 0L && byDoc(11L)._3 === 0.0)
    Boundary.release(probe)

    CdcIndex.cdcIndexWrite(ix, "cdc_ix_chunks", "cdc_ix_members")
    val loaded = CdcIndex.cdcIndexLoad(spark, "cdc_ix_chunks",
      "cdc_ix_members", w = 4, modD = 8, minLen = 4)
    val probe2 = CdcIndex.cdcProbeFromIndex(loaded, batch, "doc_id", "text")
    assert(probe2.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      === probe.collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
    Boundary.release(probe2)
    // both guard directions: wrong param and unknown stamp both throw
    intercept[IllegalArgumentException] {
      CdcIndex.cdcIndexLoad(spark, "cdc_ix_chunks", "cdc_ix_members",
        w = 5, modD = 8, minLen = 4)
    }
    spark.sql("ALTER TABLE cdc_ix_chunks SET TBLPROPERTIES " +
      "('graft.cdc.futurePolicy'='x')")
    intercept[IllegalArgumentException] {
      CdcIndex.cdcIndexLoad(spark, "cdc_ix_chunks", "cdc_ix_members",
        w = 4, modD = 8, minLen = 4)
    }
    ix.release()
    dropTables("cdc_ix_chunks", "cdc_ix_members")
  }

  test("streamed CDC probes over batches ≡ the one-shot standing-index probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.Doc
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id"), col("text")).as[Doc].collect().sortBy(_.doc_id).toSeq
    val ix = CdcIndex.cdcIndexBuild(corpus, "doc_id", "text")
    val oneShot = CdcIndex.cdcProbeFromIndex(ix, batchDocs.toDF(),
      "doc_id", "text")
    val expected = oneShot.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Boundary.release(oneShot)
    assert(expected.exists(_._3 > 0L), "gate corpus should share chunks")

    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val mem = MemoryStream[Doc]
    val q = DedupStream.cdcProbeQuery(mem.toDS(), ix) { stats =>
      got ++= stats.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    try {
      val size = math.max(1, batchDocs.size / 3)
      batchDocs.grouped(size).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally { q.stop(); ix.release() }
    assert(got.toSet === expected)
  }
}
