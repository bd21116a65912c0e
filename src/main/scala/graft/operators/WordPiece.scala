package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expr.NativeFunctions

/** WordPiece subword tokenizer (Wu et al. '16; BERT's encoder) — the
  * third tokenizer family here, next to BPE (merge replay) and
  * Unigram (Viterbi): greedy LONGEST-MATCH-FIRST against a vocabulary
  * that distinguishes word-INITIAL pieces from CONTINUATION pieces
  * (the `##`-marked entries of a real WordPiece vocab), with BERT's
  * all-or-nothing unknown rule — a word with any unmatchable position
  * encodes to `[UNK]` whole.
  *
  * Vocabulary here is frequency-seeded (occurrence-weighted substring
  * counts, split by initial/continuation position, top-K plus ALL
  * single codepoints in both roles so coverage gaps are a property of
  * the DATA, not the seed): the deterministic stand-in for the
  * likelihood-greedy training a production WordPiece runs, keeping
  * the gated artifact — the ENCODER's greedy longest-match semantics
  * — exactly BERT's.
  *
  * Scale shape = the tokenizer-family loop: one corpus scan builds
  * the word-frequency vocab; substring counting touches only the
  * distinct-word frame (≪ corpus); the vocabulary is bounded driver
  * state riding the encode plan as literals (the BpeEncode pattern);
  * encoding is one native-expression pass over exploded words.
  */
object WordPiece {

  final case class Vocab(init: Seq[String], cont: Seq[String], maxLen: Int)

  private def wordsOf(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Build the frequency-seeded vocabulary: occurrence-weighted
    * counts of every ≤ `maxLen`-codepoint substring, kept separately
    * by role (initial = starts the word, continuation = starts past
    * position 1 — real WordPiece's `x` vs `##x` split), top `topK`
    * rows by (count desc, role, piece) plus all single codepoints in
    * both roles. */
  def vocab(docs: DataFrame, textCol: String, maxLen: Int = 3,
      topK: Int = 200): Vocab = {
    require(maxLen >= 1 && topK >= 1)
    val w = wordsOf(docs, textCol)
    val init = w.select(
        explode(expr(s"""transform(sequence(1, least($maxLen, char_length(w))),
          | l -> substring(w, 1, l))""".stripMargin)).as("piece"),
        col("freq"), lit(0).as("cont"))
    // CASE guard: Spark's sequence(2, 1) DESCENDS instead of being
    // empty, so single-char words must short-circuit to array()
    val cont = w.select(
        explode(expr(
          s"""CASE WHEN char_length(w) < 2 THEN CAST(array() AS array<string>)
             | ELSE flatten(transform(sequence(2, char_length(w)),
             |  i -> transform(sequence(1, least($maxLen, char_length(w) - i + 1)),
             |       l -> substring(w, i, l)))) END""".stripMargin)).as("piece"),
        col("freq"), lit(1).as("cont"))
    val counts = Boundary.stage(init.unionByName(cont)
      .groupBy("piece", "cont").agg(sum(col("freq")).as("cnt")))
    try {
      val top = counts.orderBy(col("cnt").desc, col("cont"), col("piece"))
        .limit(topK)
      val chars = counts.filter(length(col("piece")) === 1)
      val rows = top.unionByName(chars).dropDuplicates("piece", "cont")
        .select(col("piece"), col("cont")).collect()
      Vocab(
        rows.filter(_.getInt(1) == 0).map(_.getString(0)).sorted.toSeq,
        rows.filter(_.getInt(1) == 1).map(_.getString(0)).sorted.toSeq,
        maxLen)
    } finally Boundary.release(counts)
  }

  /** Greedy-encode every word occurrence: `(idCol, word, pieces)` —
    * continuation pieces carry the `##` marker, unmatchable words
    * come back as the single piece `[UNK]`. */
  def encodeWords(docs: DataFrame, idCol: String, textCol: String,
      v: Vocab): DataFrame =
    docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .select(col(idCol), col("word"),
        NativeFunctions.wordpiece_encode(col("word"), v.init, v.cont,
          v.maxLen).as("pieces"))
}
