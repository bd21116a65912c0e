package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expr.NativeFunctions

/** BPE subword tokenizer — train + apply (SURVEY.md §2c): the one
  * LLM-pipeline primitive the token counters proxy with a regex.
  *
  * Training is the pagerank-style driver loop: the STATE is the
  * word-frequency vocabulary (distinct words ≪ corpus — one
  * corpus-sized aggregation builds it, every later round touches only
  * the vocab), each merge round is ONE adjacent-pair aggregation
  * (map-side combined; ties break (count desc, lhs, rhs) — fully
  * deterministic), and the learned rules are bounded driver state
  * like k-means centroids. The vocab is re-staged per round with
  * the previous generation released, so plan depth and cache both
  * stay O(1) in the round count.
  *
  * Applying a model is a broadcast-rules column transform: the rule
  * list rides inside the native [[graft.functions.expr.BpeEncode]]
  * expression (the PqEncode codebook-as-literals pattern) — encoding
  * never shuffles anything but its output.
  *
  * Merge semantics (training, encode, and the SQL oracle all share
  * it): one left-to-right fold pass per rule, in training order —
  * see [[graft.functions.expr.BpeOps]]. No end-of-word marker:
  * merges are word-internal, so decode is exact concatenation
  * (round-trip spec).
  */
object Bpe {

  final case class Merge(merge_idx: Int, lhs: String, rhs: String, pair_count: Long)

  final case class Model(merges: IndexedSeq[Merge]) {
    def rules: Seq[(String, String)] = merges.map(m => (m.lhs, m.rhs))
  }

  /** Vocab-row gate below which the merge loop runs as a DRIVER-LOCAL
    * kernel (r16 — the LshLocal/CC adaptive-strategy pattern): the
    * loop's state is the word-frequency vocab, every round is pure
    * integer-count math with a deterministic total order, and at
    * sf0.1 the distributed loop's 2 driver actions PER ROUND
    * (top-pair collect + re-persist count) were ~2/3 of the row's
    * driver jobs while the actual per-round math is microseconds. A
    * corpus whose vocab exceeds the gate (the 100 TB shape — vocab
    * grows with corpus) keeps the distributed loop. */
  private val LocalVocabThreshold: Long = 1000000L

  /** Whitespace word frequencies — the training vocabulary (and the
    * tokenization every other text operator in this repo uses). */
  private def vocabOf(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Unsigned byte-wise UTF-8 comparison — EXACTLY Spark's
    * UTF8String.compareTo, which is what the distributed loop's
    * orderBy on a string column uses. Java String.compareTo (UTF-16
    * code units) disagrees with it above the BMP, so the local
    * kernels must never use it for tie-breaks. */
  private[operators] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Learn `nMerges` merge rules. Stops early if the vocab runs out
    * of adjacent pairs (fully merged). `minFreq` drops hapax words
    * from the vocab — at corpus scale the long tail of unique words
    * dominates vocab size while contributing nothing to top pair
    * counts. Below [[LocalVocabThreshold]] distinct words the merge
    * loop runs driver-local on the collected vocab (bit-identical by
    * construction: same [[graft.functions.expr.BpeOps]] fold, integer
    * sums, UTF-8-byte tie order — TokenizerLocalSpec asserts equality
    * against the pinned distributed path). */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
      minFreq: Long = 1L): Model = {
    require(nMerges > 0, s"nMerges $nMerges must be positive")
    val base = Boundary.stage(vocabOf(docs, textCol).filter(col("freq") >= minFreq))
    try {
      if (Tier.pick("bpe", Tier.Model, base, Tier.Rows(LocalVocabThreshold))(true)) {
        val words = base.collect().map(r =>
          (graft.functions.expr.BpeOps.codepointSyms(r.getString(0)), r.getLong(1)))
        trainLocal(words, nMerges)
      } else trainDistributed(base, nMerges)
    } finally Boundary.release(base)
  }

  /** The distributed merge loop — one adjacent-pair aggregation +
    * vocab re-stage per round over the (w, freq) frame. */
  private def trainDistributed(base: DataFrame, nMerges: Int): Model = {
    var vocab = Boundary.stage(base
      .select(NativeFunctions.bpe_encode(col("w"), Seq.empty).as("syms"),
        col("freq")))
    // base is read exactly once (the symbolized vocab above) —
    // release it NOW rather than after all rounds, so the loop holds
    // one vocab-sized cache, not two (train's finally re-release
    // is a no-op)
    Boundary.release(base)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"),
          col("freq"))
        .groupBy(col("p").getField("0").as("lhs"),
          col("p").getField("1").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        val (lhs, rhs) = (r.getString(0), r.getString(1))
        merges += Merge(round + 1, lhs, rhs, r.getLong(2))
        val next = Boundary.stage(vocab
          .select(NativeFunctions.bpe_merge_step(col("syms"), lhs, rhs).as("syms"),
            col("freq")))
        Boundary.release(vocab)
        vocab = next
      }
      round += 1
    }
    Boundary.release(vocab)
    Model(merges.toIndexedSeq)
  }

  /** Driver-local merge loop over the collected vocab. Replays the
    * distributed rounds exactly: pair counts are integer sums over
    * the identical adjacent positions (order-independent), the
    * winner is the max under (count desc, lhs, rhs) with UTF-8-byte
    * string order, and the fold step is the SAME
    * [[graft.functions.expr.BpeOps.mergeOnce]] the native expression
    * calls. */
  private[operators] def trainLocal(words0: Array[(Array[String], Long)],
      nMerges: Int): Model = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val cnt = new scala.collection.mutable.HashMap[(String, String), Long]
      words.foreach { case (syms, freq) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + freq)
          j += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = 0L
        cnt.foreach { case ((l, r), c) =>
          val better = bl == null || c > bc || (c == bc && {
            val cl = utf8Compare(l, bl)
            cl < 0 || (cl == 0 && utf8Compare(r, br) < 0)
          })
          if (better) { bl = l; br = r; bc = c }
        }
        merges += Merge(round + 1, bl, br, bc)
        words = words.map { case (s, f) =>
          (graft.functions.expr.BpeOps.mergeOnce(s, bl, br, bl + br), f)
        }
      }
      round += 1
    }
    Model(merges.toIndexedSeq)
  }

  /** Encode: one row per (id, word) with its subword array — the
    * model applied as a single codegen-adjacent column transform. */
  def encodeWords(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), col("word"),
        NativeFunctions.bpe_encode(col("word"), model.rules).as("subwords"))
}
