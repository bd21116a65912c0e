package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Curation, DeconIndex}
import graft.operators.DeconIndex.{deconIndexAppend, deconIndexBuild, deconIndexLoad, deconIndexRemove, deconIndexWrite}
import graft.streaming.CurationStream
import graft.streaming.CurationStream.Doc

/** Standing decon index (r10): probe ≡ one-shot parity in both
  * forms, idempotent append, sound retraction, durable roundtrip
  * with both guard directions, and the streamed probe loop. */
class DeconIndexSpec extends SparkSpec {
  import spark.implicits._

  implicit private def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val N = 3

  // benchmark suite: two docs; corpus: one doc leaking bench window A,
  // one leaking bench window B, one clean
  private def bench = Seq(
    (100L, "alpha beta gamma delta epsilon zeta"),
    (101L, "one two three four five six seven")).toDF("doc_id", "text")
  private def corpus = Seq(
    (1L, "prefix words then alpha beta gamma delta closing remark"),
    (2L, "noise one two three four tail padding here"),
    (3L, "a completely clean document with no leaked windows at all"))
    .toDF("doc_id", "text")

  private def probeRows(ix: DeconIndex.DeconIndex) = {
    val probe = DeconIndex.deconProbeFromIndex(ix, corpus, "doc_id", "text")
    try probe.as[(Long, Long, Long)].collect().toSet
    finally Boundary.release(probe)
  }

  test("exact probe from the index ≡ one-shot contaminationFlags") {
    val ix = deconIndexBuild(bench, "doc_id", "text", N)
    try {
      val fromIndex = probeRows(ix)
      val oneShot = Curation.contaminationFlags(corpus, bench, "doc_id", "text", N)
        .as[(Long, Long, Long)].collect().toSet
      assert(fromIndex === oneShot)
      assert(fromIndex.map(_._1) === Set(1L, 2L), s"leaks wrong: $fromIndex")
    } finally ix.release()
  }

  test("bloom probe from the index ≡ one-shot contaminationFlagsBloom") {
    val ix = deconIndexBuild(bench, "doc_id", "text", N)
    try {
      val probe = DeconIndex.deconBloomFromIndex(
          ix, corpus, "doc_id", "text", numBits = 1 << 16, kHashes = 3)
      val fromIndex = probe.as[(Long, Boolean)].collect().toSet
      Boundary.release(probe)
      val oneShot = Curation.contaminationFlagsBloom(
          corpus, bench, "doc_id", "text", N, 1 << 16, 3)
        .as[(Long, Boolean)].collect().toSet
      assert(fromIndex === oneShot)
      assert(fromIndex === Set((1L, true), (2L, true), (3L, false)))
    } finally ix.release()
  }

  test("append ≡ build over the union, and a replayed append no-ops") {
    val (b1, b2) = (bench.filter(col("doc_id") === 100L),
      bench.filter(col("doc_id") === 101L))
    val grown = deconIndexAppend(
      deconIndexBuild(b1, "doc_id", "text", N), b2, "doc_id", "text")
    val full = deconIndexBuild(bench, "doc_id", "text", N)
    try {
      assert(probeRows(grown) === probeRows(full))
      assert(grown.shingles.as[(Long, Long)].collect().sorted
        === full.shingles.as[(Long, Long)].collect().sorted)
      // replay: appending the SAME release again changes nothing
      val replayed = deconIndexAppend(grown, b2, "doc_id", "text")
      try {
        assert(replayed.members.count() === full.members.count())
        assert(probeRows(replayed) === probeRows(full))
      } finally replayed.release()
    } finally full.release() // `grown` was released by the replay append
  }

  test("remove ≡ build without; unknown ids no-op; append re-admits") {
    val full = deconIndexBuild(bench, "doc_id", "text", N)
    val without101 = deconIndexBuild(
      bench.filter(col("doc_id") === 100L), "doc_id", "text", N)
    val removed = deconIndexRemove(full, Seq(101L).toDF("doc_id"), "doc_id")
    try {
      assert(probeRows(removed) === probeRows(without101))
      // doc 2 leaked ONLY bench 101 — after retraction it stops flagging
      assert(!probeRows(removed).exists(_._1 == 2L))
      // a hash whose last member left is GONE from the probe view
      assert(removed.shingles.count() === without101.shingles.count())
      val noop = deconIndexRemove(removed, Seq(424242L).toDF("doc_id"), "doc_id")
      assert(noop.members.count() === without101.members.count())
      // re-admit: append the retired benchmark back
      val readmitted = deconIndexAppend(noop,
        bench.filter(col("doc_id") === 101L), "doc_id", "text")
      try {
        val fullAgain = deconIndexBuild(bench, "doc_id", "text", N)
        try assert(probeRows(readmitted) === probeRows(fullAgain))
        finally fullAgain.release()
      } finally readmitted.release()
    } finally without101.release()
  }

  test("durable roundtrip + both guard directions") {
    dropTables("dix_sh", "dix_mem")
    val ix = deconIndexBuild(bench, "doc_id", "text", N)
    deconIndexWrite(ix, "dix_sh", "dix_mem")
    val loaded = deconIndexLoad(spark, "dix_sh", "dix_mem", N)
    assert(probeRows(loaded) === probeRows(ix))
    // wrong shingle width must hard-fail, not silently match nothing
    intercept[IllegalArgumentException] {
      deconIndexLoad(spark, "dix_sh", "dix_mem", N + 2)
    }
    // a table not written by deconIndexWrite (no stamps) must throw
    dropTables("dix_plain")
    ix.shingles.write.saveAsTable("dix_plain")
    intercept[IllegalArgumentException] {
      deconIndexLoad(spark, "dix_plain", "dix_mem", N)
    }
    // a stamp from a NEWER writer (policy this loader can't honor) throws
    spark.sql("ALTER TABLE dix_sh SET TBLPROPERTIES " +
      "('graft.decon.futurePolicy'='7')")
    intercept[IllegalArgumentException] {
      deconIndexLoad(spark, "dix_sh", "dix_mem", N)
    }
    spark.sql("ALTER TABLE dix_sh UNSET TBLPROPERTIES " +
      "('graft.decon.futurePolicy')")
    // a hash-family version mismatch throws
    spark.sql("ALTER TABLE dix_sh SET TBLPROPERTIES " +
      "('graft.decon.hashVersion'='999')")
    intercept[IllegalArgumentException] {
      deconIndexLoad(spark, "dix_sh", "dix_mem", N)
    }
    ix.release()
    dropTables("dix_sh", "dix_mem", "dix_plain")
  }

  test("streamed probe over micro-batches ≡ one-shot over their union") {
    val ix = deconIndexBuild(bench, "doc_id", "text", N)
    val arriving = corpus.as[(Long, String)].collect()
      .map { case (id, t) => Doc(id, t) }
    val (b1, b2) = arriving.splitAt(1)
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val mem = MemoryStream[Doc]
    val q = CurationStream.deconProbeQuery(mem.toDS(), ix) { flags =>
      flags.as[(Long, Long, Long)].collect().foreach(r => got(r._1) = r)
    }
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    try {
      val oneShot = probeRows(ix).map(r => r._1 -> r).toMap
      assert(got.toMap === oneShot)
      assert(got.nonEmpty)
    } finally ix.release()
  }
}
