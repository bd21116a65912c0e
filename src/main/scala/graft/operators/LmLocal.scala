package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Single-task kernels for the bigram/interpolated-LM family,
  * dispatched by [[Curation.bigramLogProb]] / [[Curation.interpLogProb]]
  * when the measured input plan is tiny (≤ 16 MB of source stats)
  * and the [[Tier]] pin allows it — the
  * LshLocal/Bpe adaptive-strategy pattern applied to the LM chain.
  * Measured motivation (r18, per-query job and task counts + a
  * per-variant microbench at sf0.1): the distributed chain's wall is two serial corpus passes
  * whose scan-stage floor is ~150 ms EACH on local mode (job launch +
  * parquet reader init dominate a 1.5 MB read), plus tokenize+hash
  * work that a 32-way repartition made 25× SLOWER (156-doc tasks
  * never JIT-warm; measured 19 s Σrun vs 0.5 s single-task). At that
  * size one collect + an in-process loop beats any distributed shape;
  * above the gate the distributed plan is unchanged.
  *
  * Every kernel reproduces the distributed output EXACTLY:
  *
  *  - tokenization is the shared bigramHashRows convention
  *    `array_remove(split(trim(text), "\\s+"), "")`, reduced to a
  *    byte scan: Java-regex \s is the six ASCII bytes
  *    {0x09..0x0D, 0x20} (never a UTF-8 continuation byte), trim
  *    removes only 0x20 ⊂ \s, and split's empties die in
  *    array_remove — so the token list is exactly the maximal runs
  *    of non-\s bytes (parity property-spec'd, incl. control chars);
  *  - hashes delegate to Spark's own XXH64 kernel over the same
  *    UTF-8 bytes with the same constant-folded seed-1L/2L prefixes
  *    ([[graft.functions.expr.BigramHashes]]'s convention);
  *  - model counts are integer sums (order-free);
  *  - per-doc scores accumulate in ROW ORDER (the partial-aggregate
  *    order of the distributed single-split scan), with the same
  *    promotion/association order per row, the same sum/count
  *    average, and the same HALF_UP 4dp round.
  */
private[graft] object LmLocal {

  /** xxhash64(lit(1L)/lit(2L), x) constant-folded seeds — the
    * BigramHashes/TokenHashes key-space convention. */
  val seed1: Long = org.apache.spark.sql.catalyst.expressions.XxHash64Function
    .hash(1L, org.apache.spark.sql.types.LongType, 42L)
  val seed2: Long = org.apache.spark.sql.catalyst.expressions.XxHash64Function
    .hash(2L, org.apache.spark.sql.types.LongType, 42L)

  private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Per-token seed-1L hashes of a doc's UTF-8 bytes — one in-place
    * XXH64 per maximal non-whitespace run, no token materialization. */
  def tokenHashes(utf8: Array[Byte]): Array[Long] = {
    val out = new mutable.ArrayBuffer[Long](math.max(utf8.length / 6, 8))
    var i = 0
    val n = utf8.length
    while (i < n) {
      while (i < n && isWs(utf8(i))) i += 1
      val start = i
      while (i < n && !isWs(utf8(i))) i += 1
      if (i > start)
        out += XXH64.hashUnsafeBytes(utf8,
          Platform.BYTE_ARRAY_OFFSET + start, i - start, seed1)
    }
    out.toArray
  }

  /** Per-adjacent-pair seed-2L bigram hashes (hash(b, hash(a, seed2))
    * — the BigramHashes fold), re-walking the same runs. */
  def bigramHashes(utf8: Array[Byte]): Array[Long] = {
    val spans = new mutable.ArrayBuffer[Int](16) // start0,end0,start1,end1…
    var i = 0
    val n = utf8.length
    while (i < n) {
      while (i < n && isWs(utf8(i))) i += 1
      val start = i
      while (i < n && !isWs(utf8(i))) i += 1
      if (i > start) { spans += start; spans += i }
    }
    val nTok = spans.length / 2
    if (nTok < 2) return Array.emptyLongArray
    val out = new Array[Long](nTok - 1)
    var t = 0
    while (t < nTok - 1) {
      val ha = XXH64.hashUnsafeBytes(utf8,
        Platform.BYTE_ARRAY_OFFSET + spans(2 * t), spans(2 * t + 1) - spans(2 * t), seed2)
      out(t) = XXH64.hashUnsafeBytes(utf8,
        Platform.BYTE_ARRAY_OFFSET + spans(2 * t + 2), spans(2 * t + 3) - spans(2 * t + 2), ha)
      t += 1
    }
    out
  }

  /** Spark's round(x, 4): HALF_UP on BigDecimal.valueOf. */
  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Tokenized doc: id (null allowed — the distributed groupBy keeps
    * null keys), token hashes, bigram hashes. */
  final case class TokDoc(id: java.lang.Long, h1: Array[Long], bh: Array[Long])

  /** Tokenize + hash every doc once; null-text docs keep an empty
    * token list (they contribute nothing anywhere, like the
    * distributed explode of a null array). */
  def tokenize(docs: Array[(java.lang.Long, String)]): Array[TokDoc] =
    docs.map { case (id, text) =>
      if (text == null) TokDoc(id, Array.emptyLongArray, Array.emptyLongArray)
      else {
        val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        TokDoc(id, tokenHashes(utf8), bigramHashes(utf8))
      }
    }

  private def countsOf(toks: Array[TokDoc]):
      (mutable.LongMap[Long], mutable.LongMap[Long], mutable.LongMap[Long], Long) = {
    val bcnt = new mutable.LongMap[Long]()
    val pcnt = new mutable.LongMap[Long]()
    val ucnt = new mutable.LongMap[Long]()
    var total = 0L
    toks.foreach { d =>
      var i = 0
      while (i < d.h1.length) {
        val h = d.h1(i)
        ucnt.update(h, ucnt.getOrElse(h, 0L) + 1L)
        total += 1L
        i += 1
      }
      i = 0
      while (i < d.bh.length) {
        val b = d.bh(i)
        bcnt.update(b, bcnt.getOrElse(b, 0L) + 1L)
        val p = d.h1(i)
        pcnt.update(p, pcnt.getOrElse(p, 0L) + 1L)
        i += 1
      }
    }
    (bcnt, pcnt, ucnt, total)
  }

  /** Score per doc in row order with `logProb(i)` the per-position
    * log-likelihood; duplicate ids accumulate like the distributed
    * groupBy (row-order partial sums). */
  private def fold(toks: Array[TokDoc])(logProb: (TokDoc, Int) => Double):
      Seq[(java.lang.Long, Long, Double)] = {
    val acc = new java.util.LinkedHashMap[java.lang.Long, Array[Double]]()
    toks.foreach { d =>
      if (d.bh.length > 0) {
        var a = acc.get(d.id)
        if (a == null) { a = Array(0.0, 0.0); acc.put(d.id, a) }
        var i = 0
        while (i < d.bh.length) { a(0) += logProb(d, i); a(1) += 1.0; i += 1 }
      }
    }
    val out = mutable.ArrayBuffer.empty[(java.lang.Long, Long, Double)]
    acc.forEach { (id, a) =>
      out += ((id, a(1).toLong, round4(a(0) / a(1))))
    }
    out.toSeq
  }

  /** (doc_id, n_bigrams, avg_logprob) under the MLE bigram model —
    * [[Curation.bigramLogProb]]'s kernel. */
  def bigramScores(docs: Array[(java.lang.Long, String)]): Seq[(java.lang.Long, Long, Double)] = {
    val toks = tokenize(docs)
    val (bcnt, pcnt, _, _) = countsOf(toks)
    fold(toks) { (d, i) =>
      math.log(bcnt(d.bh(i)).toDouble / pcnt(d.h1(i)).toDouble)
    }
  }

  /** Spark's exact `percentile(col, p)` over an ASCENDING sorted
    * array: position = p·(n−1), linear interpolation between the
    * straddling values (multiplication is IEEE-commutative, so the
    * factor order cannot diverge; parity-spec'd against the real
    * aggregate on the test corpus). */
  def percentileExact(sorted: Array[Double], p: Double): Double = {
    val position = p * (sorted.length - 1)
    val lower = math.floor(position).toInt
    val higher = math.ceil(position).toInt
    if (lower == higher) sorted(lower)
    else sorted(lower) * (higher - position) + sorted(higher) * (position - lower)
  }

  /** CCNet triage buckets over kernel scores —
    * [[Curation.perplexityBuckets]]'s kernel: same quantile cuts
    * (over the ROUNDED scores, like the distributed cuts aggregate),
    * same CASE order (head wins, then tail), empty corpus → empty. */
  def perplexityBuckets(scores: Seq[(java.lang.Long, Long, Double)],
      headQ: Double, tailQ: Double): Seq[(java.lang.Long, Long, Double, String)] = {
    if (scores.isEmpty) return Seq.empty
    val sorted = scores.map(_._3).toArray
    java.util.Arrays.sort(sorted)
    val th = percentileExact(sorted, 1.0 - headQ)
    val tt = percentileExact(sorted, tailQ)
    scores.map { case (id, n, s) =>
      val bucket = if (s >= th) "head" else if (s <= tt) "tail" else "middle"
      (id, n, s, bucket)
    }
  }

  /** Token STRINGS of a text under the same convention — the PMI
    * kernel carries the strings (its output does). */
  def tokenStrings(text: String): Array[String] = {
    val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new mutable.ArrayBuffer[String](math.max(utf8.length / 6, 8))
    var i = 0
    val n = utf8.length
    while (i < n) {
      while (i < n && isWs(utf8(i))) i += 1
      val start = i
      while (i < n && !isWs(utf8(i))) i += 1
      if (i > start)
        out += new String(utf8, start, i - start,
          java.nio.charset.StandardCharsets.UTF_8)
    }
    out.toArray
  }

  /** PMI collocations over within-`window` unordered pairs —
    * [[Curation.pmiCollocations]]'s kernel: the WindowPairs pair
    * multiset (every distance d ≤ window, UTF-8-byte least/greatest
    * orientation), integer counts, and the exact scoring expression
    * (same promotion order, ln, HALF_UP 4dp). */
  def pmiCollocations(texts: Array[String], window: Int,
      minCount: Long): Seq[(String, String, Long, Double)] = {
    // intern tokens to dense ints and count pairs on packed-long
    // keys — string-tuple hashing per occurrence measured ~5× the
    // whole kernel's cost. Orientation precomputes each unique
    // token's rank under the UTF-8 byte order (the WindowPairs
    // least/greatest rule): comparing ranks IS comparing bytes.
    val index = new mutable.HashMap[String, Int]()
    val vocab = new mutable.ArrayBuffer[String]()
    val docsTok = new mutable.ArrayBuffer[Array[Int]](texts.length)
    var nt = 0L
    texts.foreach { t =>
      if (t != null) {
        val tok = tokenStrings(t)
        nt += tok.length
        val ids = new Array[Int](tok.length)
        var i = 0
        while (i < tok.length) {
          ids(i) = index.getOrElseUpdate(tok(i), { vocab += tok(i); vocab.length - 1 })
          i += 1
        }
        docsTok += ids
      }
    }
    val rank = new Array[Int](vocab.length)
    vocab.indices.toArray
      .sortWith((a, b) => Bpe.utf8Compare(vocab(a), vocab(b)) < 0)
      .zipWithIndex.foreach { case (tokIdx, r) => rank(tokIdx) = r }
    val cx = new Array[Long](vocab.length)
    val pc = new mutable.LongMap[Long]()
    docsTok.foreach { ids =>
      var i = 0
      while (i < ids.length) { cx(ids(i)) += 1L; i += 1 }
      var d = 1
      while (d <= window) {
        i = 0
        while (i + d < ids.length) {
          val (a, b) = (ids(i), ids(i + d))
          val key =
            if (rank(a) <= rank(b)) (a.toLong << 32) | (b.toLong & 0xffffffffL)
            else (b.toLong << 32) | (a.toLong & 0xffffffffL)
          pc.update(key, pc.getOrElse(key, 0L) + 1L)
          i += 1
        }
        d += 1
      }
    }
    val np = pc.valuesIterator.foldLeft(0L)(_ + _)
    pc.iterator.filter(_._2 >= minCount).map { case (key, nc) =>
      val (ia, ib) = ((key >>> 32).toInt, key.toInt)
      val raw = math.log((nc.toDouble * nt * nt) / (np.toDouble * cx(ia) * cx(ib)))
      (vocab(ia), vocab(ib), nc, round4(raw))
    }.toSeq
  }

  /** Interpolated bigram⊕unigram scores —
    * [[Curation.interpLogProb]]'s kernel (same mixing expression,
    * same promotion order: λ·(b/p) + (1−λ)·(u/t)). */
  def interpScores(docs: Array[(java.lang.Long, String)],
      lambda: Double): Seq[(java.lang.Long, Long, Double)] = {
    val toks = tokenize(docs)
    val (bcnt, pcnt, ucnt, total) = countsOf(toks)
    val totalD = total.toDouble
    fold(toks) { (d, i) =>
      math.log(
        lambda * (bcnt(d.bh(i)).toDouble / pcnt(d.h1(i)).toDouble) +
          (1.0 - lambda) * (ucnt(d.h1(i + 1)).toDouble / totalD))
    }
  }
}
