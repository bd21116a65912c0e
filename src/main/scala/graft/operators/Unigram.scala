package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expr.NativeFunctions

/** Unigram-LM subword tokenizer (SentencePiece's other half, Kudo
  * 2018) — the production tokenizer family BPE doesn't cover. Train =
  * hard (Viterbi) EM over the word-frequency vocabulary:
  *
  *   seed:   every ≤ `maxLen`-codepoint substring of the vocab,
  *           occurrence-weighted; keep the top `seedTopK` by count
  *           plus ALL single codepoints (so segmentation is total),
  *           probs = normalized counts;
  *   E-step: Viterbi-best segmentation of every vocab word under the
  *           frozen piece log-probs (the native [[graft.functions.expr.UnigramEncode]]
  *           — model rides the plan as literals, the BpeEncode
  *           pattern);
  *   M-step: piece probs re-estimated from the segmentation counts;
  *           pieces that win no position anywhere PRUNE (drop out of
  *           the table) — the SentencePiece shrink step in its hard-EM
  *           form.
  *
  * Scale shape = the BPE/kmeans driver loop: the corpus is scanned
  * once (vocab build); every EM round touches only the vocab frame
  * (distinct words ≪ corpus, one map-side-combining aggregate); the
  * model is bounded driver state (≤ seedTopK + alphabet rows). Log
  * probs round 6dp at each ITERATION EDGE (the emb_kmeans trade) so
  * the SQL oracle can replay the trajectory bit-for-bit. */
object Unigram {

  final case class Piece(piece: String, cnt: Long, logp: Double)

  final case class Model(pieces: IndexedSeq[Piece], maxLen: Int) {
    def logps: Seq[(String, Double)] = pieces.map(p => (p.piece, p.logp))
  }

  /** Unknown-codepoint floor shared with the oracle: a single char
    * absent from the piece table segments alone at this log-prob. */
  val UnkLogp: Double = -100.0

  /** Local-trainer gate for Unigram — DELIBERATELY smaller than
    * the [[Bpe]] gate (1M words): the local seed holds every
    * ≤ maxLen-codepoint substring of every vocab word (~avg_len ×
    * maxLen map entries per word, vs BPE's one adjacent-pair count
    * per symbol), so the driver-memory cost per word is ~an order of
    * magnitude higher. 200k words × ~30 substring entries ≈ 6M map
    * keys — comfortably in a default driver heap; above the gate the
    * distributed map-side-combined aggregate path is unchanged. */
  private val LocalVocabThreshold: Long = 200000L

  private def vocabOf(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Normalize a (piece, cnt) frame into collected model rows:
    * logp = round(ln(cnt / Σcnt), 6) — rounded IN-PLAN so both
    * engines share one rounding semantics. */
  private def normalized(counts: DataFrame): IndexedSeq[Piece] = {
    val tot = counts.agg(sum(col("cnt")).as("__tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        round(log(col("cnt") / col("__tot").cast("double")), 6).as("logp"))
      .collect()
      .map(r => Piece(r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_.piece).toIndexedSeq
  }

  /** Train `iters` hard-EM rounds over the corpus vocabulary. Below
    * [[LocalVocabThreshold]] distinct words the EM loop runs
    * driver-local on the collected vocab (r16, the Bpe.train gate):
    * the seed/E/M rounds are integer-count sums, the SAME
    * [[graft.functions.expr.UnigramOps.viterbi]] the native
    * expression calls, and Spark-round-identical 6dp log-probs —
    * TokenizerLocalSpec asserts model equality against the pinned
    * distributed path. */
  def train(docs: DataFrame, textCol: String, iters: Int = 2,
      maxLen: Int = 3, seedTopK: Int = 200): Model = {
    require(iters >= 1 && maxLen >= 1 && seedTopK >= 1)
    val vocab = Boundary.stage(vocabOf(docs, textCol))
    if (Tier.allows(docs.sparkSession, Tier.Model)(
        vocab.count() <= LocalVocabThreshold)) {
      // try/finally like the distributed arm below: a collect that
      // throws must not leave the corpus-vocab cache pinned
      val words =
        try vocab.collect().map(r => (r.getString(0), r.getLong(1)))
        finally Boundary.release(vocab)
      return trainLocal(words, iters, maxLen, seedTopK)
    }
    try {
      // seed: occurrence-weighted substring counts (every start ×
      // every length ≤ maxLen — the suffix-seed of SentencePiece)
      val subs = Boundary.stage(vocab.select(
          explode(expr(
            s"""flatten(transform(sequence(1, char_length(w)),
               |  i -> transform(sequence(1, least($maxLen, char_length(w) - i + 1)),
               |       l -> substring(w, i, l))))""".stripMargin)).as("piece"),
          col("freq"))
        .groupBy("piece").agg(sum(col("freq")).as("cnt")))
      try {
        val top = subs.orderBy(col("cnt").desc, col("piece"))
          .limit(seedTopK)
        val chars = subs.filter(length(col("piece")) === 1)
        val seed = top.unionByName(chars).dropDuplicates("piece")
        var model = Model(normalized(seed), maxLen)
        for (_ <- 1 to iters) {
          val counts = vocab.select(
              explode(NativeFunctions.unigram_encode(
                col("w"), model.logps, maxLen, UnkLogp)).as("piece"),
              col("freq"))
            .groupBy("piece").agg(sum(col("freq")).as("cnt"))
          model = Model(normalized(counts), maxLen)
        }
        model
      } finally Boundary.release(subs)
    } finally Boundary.release(vocab)
  }

  /** Spark round() replica: BigDecimal HALF_UP at 6dp — the decimal
    * rule the in-plan `round(log(...), 6)` of [[normalized]] applies,
    * so local and distributed log-probs are bit-identical. */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-local hard-EM loop over the collected vocab — replays the
    * distributed trainer exactly: occurrence-weighted substring seed
    * (integer sums), top-`seedTopK` under (cnt desc, piece) with
    * UTF-8-byte string order (Spark's orderBy on strings) plus all
    * single-codepoint pieces, then `iters` rounds of the SHARED
    * [[graft.functions.expr.UnigramOps.viterbi]] E-step and
    * integer-count M-step with [[round6]] log-probs at each edge. */
  private[operators] def trainLocal(words: Array[(String, Long)], iters: Int,
      maxLen: Int, seedTopK: Int): Model = {
    def normalizedLocal(counts: Iterable[(String, Long)]): IndexedSeq[Piece] = {
      val tot = counts.iterator.map(_._2).sum
      counts.iterator
        .map { case (p, c) => Piece(p, c, round6(math.log(c / tot.toDouble))) }
        .toIndexedSeq.sortBy(_.piece)
    }
    // seed: occurrence-weighted counts of every ≤ maxLen-codepoint
    // substring (codepoint slicing = the SQL substring/char_length
    // semantics — BpeOps.codepointSyms, not UTF-16 units)
    val subCnt = new scala.collection.mutable.HashMap[String, Long]
    words.foreach { case (w, freq) =>
      val syms = graft.functions.expr.BpeOps.codepointSyms(w)
      var i = 0
      while (i < syms.length) {
        var l = 1
        val maxL = math.min(maxLen, syms.length - i)
        while (l <= maxL) {
          val piece = syms.slice(i, i + l).mkString
          subCnt.update(piece, subCnt.getOrElse(piece, 0L) + freq)
          l += 1
        }
        i += 1
      }
    }
    val top = subCnt.toIndexedSeq
      .sortWith { case ((p1, c1), (p2, c2)) =>
        if (c1 != c2) c1 > c2 else Bpe.utf8Compare(p1, p2) < 0 }
      .take(seedTopK)
    val chars = subCnt.iterator.filter { case (p, _) =>
      p.codePointCount(0, p.length) == 1 }
    val seed = (top.iterator ++ chars)
      .foldLeft(scala.collection.mutable.LinkedHashMap.empty[String, Long]) {
        case (m, (p, c)) => if (!m.contains(p)) m.update(p, c); m
      }
    var model = Model(normalizedLocal(seed), maxLen)
    for (_ <- 1 to iters) {
      val counts = new scala.collection.mutable.HashMap[String, Long]
      val lp = model.logps.toMap
      words.foreach { case (w, freq) =>
        graft.functions.expr.UnigramOps.viterbi(w, lp, maxLen, UnkLogp)
          .foreach(p => counts.update(p, counts.getOrElse(p, 0L) + freq))
      }
      model = Model(normalizedLocal(counts), maxLen)
    }
    model
  }

  /** Encode: one row per (id, word) occurrence with its Viterbi piece
    * array under the trained model — the Bpe.encodeWords shape. */
  def encodeWords(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), col("word"),
        NativeFunctions.unigram_encode(col("word"), model.logps,
          model.maxLen, UnkLogp).as("pieces"))
}
