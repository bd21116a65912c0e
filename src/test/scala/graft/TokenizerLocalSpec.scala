package graft

import graft.operators.{Bpe, Tier, Unigram}

/** The r16 driver-local tokenizer trainers must replay the pinned
  * distributed loops EXACTLY (the `distributed` tier pins the
  * distributed path, the auto tier takes the local one — the LshLocal
  * adaptive-strategy contract). The corpora below force the decision
  * points: count ties broken by UTF-8 string order, multi-round
  * merge interactions, seed-boundary ties, EM prune, and non-ASCII
  * (multi-byte UTF-8) symbols where Java's UTF-16 ordering would
  * disagree with Spark's byte-wise orderBy. */
class TokenizerLocalSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    // 'ab' and 'ba' tie on count in round 1 → UTF-8 order must pick 'a','b'
    "abab baba abab",
    "cd cd cd zz zz",
    // multi-byte symbols: é (2-byte), 日 (3-byte) — byte order vs
    // UTF-16 order diverges for supplementary+Latin mixes
    "éé é日 日日 éé",
    "the quick brown fox the quick fox",
    "aaaa aaaa bbbb"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def docs = corpus.toDF("doc_id", "text")

  private def distributed[T](f: => T): T = Tier.pinned(spark, "distributed")(f)

  test("BPE: local trainer ≡ pinned distributed trainer (merges bit-equal)") {
    val local = Bpe.train(docs, "text", nMerges = 6)
    val dist = distributed(Bpe.train(docs, "text", nMerges = 6))
    assert(local.merges === dist.merges)
  }

  test("BPE: local path early-stops like the distributed one on a fully-merged vocab") {
    val tiny = Seq((0L, "aa aa")).toDF("doc_id", "text")
    val local = Bpe.train(tiny, "text", nMerges = 5)
    val dist = distributed(Bpe.train(tiny, "text", nMerges = 5))
    assert(local.merges === dist.merges)
    assert(local.merges.length < 5) // 'aa' exhausts after one merge
  }

  test("Unigram: local trainer ≡ pinned distributed trainer (pieces bit-equal)") {
    val local = Unigram.train(docs, "text", iters = 2, maxLen = 3, seedTopK = 20)
    val dist = distributed(Unigram.train(docs, "text", iters = 2, maxLen = 3, seedTopK = 20))
    assert(local.pieces === dist.pieces)
    assert(local.maxLen === dist.maxLen)
  }

  test("Unigram: parity holds at a seed boundary that splits a count tie") {
    // seedTopK small enough that ties at the cut are resolved by the
    // piece order — the place a wrong (UTF-16) comparator would show
    val local = Unigram.train(docs, "text", iters = 1, maxLen = 2, seedTopK = 5)
    val dist = distributed(Unigram.train(docs, "text", iters = 1, maxLen = 2, seedTopK = 5))
    assert(local.pieces === dist.pieces)
  }

  test("encodeWords under a locally-trained model matches the distributed model's encode") {
    val local = Unigram.train(docs, "text", iters = 2, maxLen = 3, seedTopK = 20)
    val dist = distributed(Unigram.train(docs, "text", iters = 2, maxLen = 3, seedTopK = 20))
    val a = Unigram.encodeWords(docs, "doc_id", "text", local)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val b = Unigram.encodeWords(docs, "doc_id", "text", dist)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    assert(a.sortBy(x => (x._1, x._2)) === b.sortBy(x => (x._1, x._2)))
  }
}
