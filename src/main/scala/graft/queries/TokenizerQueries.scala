package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.functions.Text
import Query.t

/** SURVEY §2c, tokenizers and language models: BPE, Unigram and
  * WordPiece, the n-gram LMs, PMI, chunking and sequence packing. */
object TokenizerQueries {

  lazy val all: Seq[Query] = Seq(
    // PMI collocations (r11): phrase-mining signal over unordered
    // token pairs within a 2-position window; pairs generated IN-ROW
    // (no positional self-join), min-count 5, corpus totals broadcast
    Query("text_pmi", (s, dir) =>
      Curation.pmiCollocations(t(s, dir, "documents"), col("text"),
        window = 2, minCount = 5L),
      // PMI collocations: unordered pairs at distances 1 and 2 via the
      // positional tk[i]/tk[i+d] replay (the bigram-LM pattern); pair
      // and token totals stay BIGINT until the single double ratio
      """WITH t AS (SELECT list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '') AS tk
             FROM documents),
         prs AS (
           SELECT least(tk[i], tk[i+1]) AS w1, greatest(tk[i], tk[i+1]) AS w2
           FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
           WHERE len(tk) >= 2
           UNION ALL
           SELECT least(tk[i], tk[i+2]) AS w1, greatest(tk[i], tk[i+2]) AS w2
           FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)
           WHERE len(tk) >= 3),
         cxy AS (SELECT w1, w2, count(*) AS n_cooc FROM prs GROUP BY 1, 2),
         np AS (SELECT count(*) AS np FROM prs),
         toks AS (SELECT unnest(tk) AS token FROM t),
         uc AS (SELECT token, count(*) AS cx FROM toks GROUP BY 1),
         nt AS (SELECT count(*) AS nt FROM toks)
         SELECT w1, w2, n_cooc,
                round(ln((CAST(n_cooc AS DOUBLE) * nt * nt)
                         / (CAST(np AS DOUBLE) * c1.cx * c2.cx)), 4) AS pmi
         FROM cxy JOIN uc c1 ON cxy.w1 = c1.token
                  JOIN uc c2 ON cxy.w2 = c2.token
         CROSS JOIN np CROSS JOIN nt
         WHERE n_cooc >= 5"""),

    // 128-token chunks every 64 tokens (retrieval/embedding prep)
    Query("text_chunk", (s, dir) =>
      Curation.chunkTokens(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), chunkLen = 128, stride = 64),
      """WITH t AS (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       tok -> tok <> '') AS toks
                    FROM documents),
         f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1)
         SELECT doc_id, CAST(start AS INTEGER) AS start,
                CAST(least(128, n - start + 1) AS INTEGER) AS n_chunk_tokens,
                array_to_string(toks[start:start+127], ' ') AS chunk
         FROM (SELECT doc_id, toks, n,
                      unnest(generate_series(1,
                        CASE WHEN n <= 128 THEN 1
                             ELSE 1 + 64 * ((n - 128 + 63) // 64) END, 64)) AS start
               FROM f)"""),

    // corpus-unigram average log-likelihood per doc (quality signal)
    Query("text_logprob", (s, dir) =>
      Curation.unigramLogProb(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text"))),
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
         freq AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM tk)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(cnt / CAST(total AS DOUBLE))), 4) AS avg_logprob
         FROM tk JOIN freq USING (token) CROSS JOIN tot
         GROUP BY 1"""),

    // conditional bigram LM score (CCNet direction): word ORDER now
    // matters, unlike the unigram signal
    Query("text_bigram_lm", (s, dir) =>
      Curation.bigramLogProb(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text"))),
      """WITH t AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '') AS tk
             FROM documents),
         b AS (SELECT doc_id, tk[i] AS prefix, tk[i] || ' ' || tk[i+1] AS bigram
               FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
               WHERE len(tk) >= 2),
         bf AS (SELECT bigram, count(*) AS bcnt FROM b GROUP BY 1),
         pf AS (SELECT prefix, count(*) AS pcnt FROM b GROUP BY 1)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(bcnt / CAST(pcnt AS DOUBLE))), 4) AS avg_logprob
         FROM b JOIN bf USING (bigram) JOIN pf USING (prefix)
         GROUP BY 1"""),

    // interpolated (Jelinek-Mercer) bigram+unigram LM — the CCNet
    // shape: rare-prefix MLE overconfidence cushioned by the unigram
    // mixture; hash-keyed like bigramLogProb
    Query("text_interp_lm", (s, dir) =>
      Curation.interpLogProb(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), lambda = interpLambda),
      // λ and 1−λ are interpolated from the SAME Scala doubles the plan
      // uses (shortest-repr round trip), so both engines mix with
      // bit-identical coefficients
      s"""WITH $interpLmCtes
         SELECT doc_id, n_bigrams, avg_logprob FROM ilp"""),

    // CCNet-style perplexity triage (r10): head/middle/tail buckets
    // by interpolated-LM likelihood, cut at exact score quantiles —
    // two percentile scalars broadcast back over the scored corpus,
    // no global sort (the shape CCNet runs on Common Crawl)
    Query("quality_perplexity", (s, dir) =>
      Curation.perplexityBuckets(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), lambda = interpLambda,
        headQ = 0.3, tailQ = 0.3),
      // quality_perplexity oracle: the interp-LM score chain reused,
      // head/middle/tail thresholds as exact quantiles (quantile_cont =
      // Spark's percentile, linear interpolation at p·(n−1)), CASE
      // order head-then-tail mirroring the operator's when-chain
      s"""WITH $interpLmCtes,
         plc AS (SELECT quantile_cont(avg_logprob, 0.7) AS th,
                        quantile_cont(avg_logprob, 0.3) AS tt
                 FROM ilp)
         SELECT doc_id, n_bigrams, avg_logprob,
                CASE WHEN avg_logprob >= th THEN 'head'
                     WHEN avg_logprob <= tt THEN 'tail'
                     ELSE 'middle' END AS ppl_bucket
         FROM ilp CROSS JOIN plc"""),

    // fixed-budget sequence packing per source shard (2048 tokens)
    Query("pack_sequences", (s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "source", "doc_id",
        Text.tokenCount(col("text")), budget = 2048),
      """WITH t AS (SELECT source, doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
         FROM documents)
         SELECT source, doc_id, n_tokens,
                CAST(floor((sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
                  AS pack_id
         FROM t"""),

    // packing EFFICIENCY readout: per-source pack count, token load
    // and fill fraction vs the 2048 budget — the waste monitor of
    // the sequence writer (fill well under 1 means the budget or the
    // doc-length mix needs retuning)
    Query("pack_eval", (s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "source", "doc_id",
          Text.tokenCount(col("text")), budget = 2048)
        .groupBy(col("source"))
        .agg(countDistinct(col("pack_id")).as("n_packs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"))
        .select(col("source"), col("n_packs"), col("n_tokens"),
          round(col("n_tokens") / (col("n_packs") * lit(2048.0)), 4)
            .as("fill")),
      """WITH t AS (SELECT source, doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
         FROM documents),
         packed AS (
           SELECT source, n_tokens,
                  CAST(floor((sum(n_tokens) OVER (
                          PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
                    AS pack_id
           FROM t)
         SELECT source, count(DISTINCT pack_id) AS n_packs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                round(sum(n_tokens) / (count(DISTINCT pack_id) * 2048.0), 4) AS fill
         FROM packed GROUP BY 1"""),

    // BPE subword training, hash-gated end to end: 3 unrolled merge
    // rounds (the emb_kmeans gate pattern — production raises
    // nMerges; identical loop, longer trajectory). Each round = one
    // adjacent-pair aggregation over the word-frequency vocab with
    // deterministic (count desc, lhs, rhs) ties; the oracle re-runs
    // every round in SQL, replaying the shared fold-merge as a
    // recursive CTE, so the learned rules must match exactly
    Query("text_bpe", (s, dir) => {
      import s.implicits._
      graft.operators.Bpe.train(t(s, dir, "documents"), "text", nMerges = 3)
        .merges.toDF()
    },
      bpeOracleSql),

    // the learned rules APPLIED (r5 verdict item 7): every
    // (doc_id, word) occurrence encoded by the trained model — the
    // train→apply path under ONE gate. The oracle joins occurrences
    // to its fully-merged training vocab (which IS 3-rule encode of
    // every vocab word); subwords '|'-joined for engine-comparable
    // hashing
    Query("text_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, "text", nMerges = 3)
      graft.operators.Bpe.encodeWords(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("word"),
          concat_ws("|", col("subwords")).as("subwords"))
    },
      bpeEncodeOracleSql),

    // tokenizer EVALUATION: corpus-level fertility (subwords/word)
    // and compression (chars/subword) of the trained BPE — the
    // quality readout a tokenizer deployment monitors (a fertility
    // regression means the vocab no longer fits the corpus); one
    // aggregate over the same train→apply pipeline the encode gate
    // replays
    Query("text_bpe_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, "text", nMerges = 3)
      graft.operators.Bpe.encodeWords(docs, "doc_id", "text", model)
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("subwords"))).as("n_subwords"),
          sum(length(col("word"))).as("n_chars"))
        .select(col("n_words"), col("n_subwords"), col("n_chars"),
          round(col("n_subwords") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars") / col("n_subwords").cast("double"), 4)
            .as("chars_per_subword"))
    },
      bpeEvalOracleSql),

    // unigram-LM subword tokenizer (SentencePiece's other half, Kudo
    // 2018), hash-gated end to end: substring-seeded piece table, 2
    // unrolled hard-EM rounds (Viterbi E-step via the native
    // UnigramEncode expression, exact-count M-step with prune), 6dp
    // log-probs at every iteration edge; the oracle replays the
    // Viterbi DP as a state-carrying recursive CTE (dp value + path
    // for the last maxLen positions ride in each row)
    Query("text_unigram", (s, dir) => {
      import s.implicits._
      graft.operators.Unigram.train(t(s, dir, "documents"), "text",
        iters = 2, maxLen = 3, seedTopK = 200).pieces.toDF()
    },
      unigramOracleSql),

    // the trained unigram model APPLIED: every (doc_id, word)
    // occurrence Viterbi-segmented under the fitted piece table — the
    // train→apply path under one gate (the text_bpe_encode shape);
    // pieces '|'-joined for engine-comparable hashing
    Query("text_unigram_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Unigram.train(docs, "text",
        iters = 2, maxLen = 3, seedTopK = 200)
      graft.operators.Unigram.encodeWords(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("word"),
          concat_ws("|", col("pieces")).as("pieces"))
    },
      unigramEncodeOracleSql),

    // unigram tokenizer EVALUATION: corpus fertility (pieces/word)
    // and compression (chars/piece) of the trained model — the same
    // quality readout text_bpe_eval gives BPE, so the two tokenizer
    // families are directly comparable on one corpus
    Query("text_unigram_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Unigram.train(docs, "text",
        iters = 2, maxLen = 3, seedTopK = 200)
      graft.operators.Unigram.encodeWords(docs, "doc_id", "text", model)
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("pieces"))).as("n_pieces"),
          sum(length(col("word"))).as("n_chars"))
        .select(col("n_words"), col("n_pieces"), col("n_chars"),
          round(col("n_pieces") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars") / col("n_pieces").cast("double"), 4)
            .as("chars_per_piece"))
    },
      unigramEvalOracleSql),

    // WordPiece greedy encode (r11 — the THIRD tokenizer family next
    // to BPE's merge replay and unigram's Viterbi): longest-match-
    // first against a frequency-seeded vocab split by word-initial vs
    // ##-continuation role, BERT's all-or-nothing [UNK] rule; the
    // oracle replays the greedy loop as a recursive CTE
    Query("text_wordpiece_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v = graft.operators.WordPiece.vocab(docs, "text",
        maxLen = 3, topK = 200)
      graft.operators.WordPiece.encodeWords(docs, "doc_id", "text", v)
        .select(col("doc_id"), col("word"),
          concat_ws("|", col("pieces")).as("pieces"))
    },
      wordpieceEncodeOracleSql),

    // WordPiece fertility/compression — directly comparable with
    // text_bpe_eval and text_unigram_eval on the same corpus: the
    // three-way tokenizer bake-off a data team actually runs
    Query("text_wordpiece_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v = graft.operators.WordPiece.vocab(docs, "text",
        maxLen = 3, topK = 200)
      graft.operators.WordPiece.encodeWords(docs, "doc_id", "text", v)
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("pieces"))).as("n_pieces"),
          sum(length(col("word"))).as("n_chars"))
        .select(col("n_words"), col("n_pieces"), col("n_chars"),
          round(col("n_pieces") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars") / col("n_pieces").cast("double"), 4)
            .as("chars_per_piece"))
    },
      wordpieceEvalOracleSql),

    Query("text_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("n_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num")),
      """SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_alpha,
                CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num
         FROM documents"""),

    // EXACT vocabulary construction (the tokenizer-training
    // precursor the CMS approx_topk approximates): top-50 tokens by
    // corpus count with rank and cumulative coverage share. Scale
    // shape: map-side-combined (token,count) agg, then TakeOrdered
    // top-k (per-partition heaps + a 50-row driver merge) — the
    // rank/cum-sum window only ever sees the 50 survivors, never the
    // vocabulary; the corpus total is a 1-row crossJoin.
    Query("text_vocab", (s, dir) => {
      val cnt = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("__tot"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      cnt.orderBy(col("n").desc, col("token")).limit(50)
        .withColumn("rank", row_number().over(w))
        .withColumn("__cum", sum(col("n")).over(w))
        .crossJoin(tot)
        .select(col("token"), col("n"), col("rank"),
          round(col("__cum") / col("__tot"), 6).as("cum_share"))
    },
      // exact vocab: (n DESC, token) is a total order, so the RANGE
      // default window frame degenerates to ROWS in both engines and
      // the cumulative sum is engine-agnostic
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                     tok -> tok <> '')) AS token
           FROM documents),
         cnt AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
         tot AS (SELECT sum(n) AS tot FROM cnt),
         r AS (SELECT token, n,
                      CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
                        AS rank,
                      sum(n) OVER (ORDER BY n DESC, token) AS cum
               FROM cnt)
         SELECT token, n, rank, round(cum * 1.0 / tot, 6) AS cum_share
         FROM r, tot WHERE rank <= 50""")
  )

  /** Jelinek-Mercer mixture weight shared by the text_interp_lm plan
    * and its oracle (both coefficients interpolated from these exact
    * doubles). */
  private val interpLambda = 0.9

  /** Shared CTE chain of the interp-LM oracles, ending in
    * `ilp(doc_id, n_bigrams, avg_logprob)` — lets the perplexity
    * triage compose the score with its quantile thresholds in one
    * statement. */
  private def interpLmCtes: String =
    s"""t AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '') AS tk
             FROM documents),
         u AS (SELECT unnest(tk) AS token FROM t),
         uf AS (SELECT token, count(*) AS ucnt FROM u GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM u),
         b AS (SELECT doc_id, tk[i] AS prefix, tk[i] || ' ' || tk[i+1] AS bigram,
                      tk[i+1] AS token
               FROM t, unnest(generate_series(1, len(tk) - 1)) AS g(i)
               WHERE len(tk) >= 2),
         bf AS (SELECT bigram, count(*) AS bcnt FROM b GROUP BY 1),
         pf AS (SELECT prefix, count(*) AS pcnt FROM b GROUP BY 1),
         ilp AS (
           SELECT doc_id, count(*) AS n_bigrams,
                  round(avg(ln($interpLambda * (bcnt / CAST(pcnt AS DOUBLE))
                    + ${1.0 - interpLambda} * (ucnt / CAST(total AS DOUBLE)))), 4)
                    AS avg_logprob
           FROM b JOIN bf USING (bigram) JOIN pf USING (prefix)
                  JOIN uf USING (token) CROSS JOIN tot
           GROUP BY 1)"""

  /** Shared WITH-prefix of the two BPE oracles: vocab build + `iters`
    * training rounds. The original word `w` rides through every fold
    * round, so v$iters is BOTH the final training vocab and the
    * encode table (training applies each learned merge to the vocab
    * as it goes — exactly what encoding a vocab word replays). */
  private def bpeWithPrefix(iters: Int): String = {
    // v$n / r$n are MATERIALIZED (r12): r$n sits in f${n}'s recurring
    // term and v$n seeds round n+1 — DuckDB 1.0's default inlining
    // re-planned the whole previous-round recursion per level, the
    // same cost cliff the unigram oracle hit (318 s → <1 s fixed).
    def round(n: Int): String =
      s"""pc$n AS (SELECT syms[i] AS lhs, syms[i+1] AS rhs, sum(freq) AS cnt
           FROM v${n - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
           GROUP BY 1, 2),
         r$n AS MATERIALIZED (
           SELECT lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM pc$n
           ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         f$n AS (
           SELECT wid, w, 1 AS i, [syms[1]] AS acc, syms, freq FROM v${n - 1}
           UNION ALL
           SELECT f.wid, f.w, f.i + 1,
             CASE WHEN f.acc[-1] = r.lhs AND f.syms[f.i + 1] = r.rhs
                  THEN list_append(f.acc[1:len(f.acc) - 1], r.lhs || r.rhs)
                  ELSE list_append(f.acc, f.syms[f.i + 1]) END,
             f.syms, f.freq
           FROM f$n f CROSS JOIN r$n r WHERE f.i < len(f.syms)),
         v$n AS MATERIALIZED (
           SELECT wid, w, acc AS syms, freq FROM f$n WHERE i = len(syms))"""
    s"""WITH RECURSIVE
       w0 AS MATERIALIZED (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
           FROM documents)
         WHERE w <> '' GROUP BY w),
       v0 AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY w) AS wid, w,
                string_split(w, '') AS syms, freq FROM w0),
       ${(1 to iters).map(round).mkString(",\n")}"""
  }

  /** text_bpe oracle: the whole BPE training loop replayed in SQL —
    * word-frequency vocab, then per round (unrolled ×3) the
    * adjacent-pair aggregation with (count desc, lhs, rhs) argmax and
    * the merge application as a RECURSIVE-CTE FOLD: symbols are
    * consumed one at a time, merging when the accumulator's tail is
    * lhs and the incoming symbol is rhs — exactly the fold the native
    * BpeOps.mergeOnce computes (and provably the classic left-to-
    * right scan, see BpeOps). Integer counts and binary string
    * ordering end to end — nothing float anywhere. */
  private def bpeOracleSql: String = {
    val iters = 3
    s"""${bpeWithPrefix(iters)}
       ${(1 to iters).map(n =>
        s"SELECT $n AS merge_idx, lhs, rhs, cnt AS pair_count FROM r$n")
        .mkString("\n UNION ALL ")}"""
  }

  /** text_bpe_encode oracle: the learned-rules APPLICATION gated —
    * every (doc_id, word) occurrence joined to the fully-merged vocab
    * entry (v3 IS encode-with-3-rules of each vocab word, see
    * [[bpeWithPrefix]]); subwords joined with '|' for an
    * engine-comparable string. */
  private def bpeEncodeOracleSql: String =
    s"""${bpeWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents)
       SELECT d.doc_id, d.word, array_to_string(v.syms, '|') AS subwords
       FROM dw d JOIN v3 v ON d.word = v.w
       WHERE d.word <> ''"""

  /** text_bpe_eval oracle: the encode pipeline's per-occurrence
    * splits aggregated to corpus fertility/compression. */
  private def bpeEvalOracleSql: String =
    s"""${bpeWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents),
       j AS (
         SELECT len(v.syms) AS ns, length(d.word) AS nc
         FROM dw d JOIN v3 v ON d.word = v.w
         WHERE d.word <> '')
       SELECT count(*) AS n_words,
              CAST(sum(ns) AS BIGINT) AS n_subwords,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              round(sum(ns) / CAST(count(*) AS DOUBLE), 4) AS fertility,
              round(sum(nc) / CAST(sum(ns) AS DOUBLE), 4) AS chars_per_subword
       FROM j"""

  /** Shared WITH-prefix of the unigram-tokenizer oracles: vocab →
    * substring-seeded piece table m0 → `iters` hard-EM rounds, each a
    * Viterbi-segmentation recursive CTE (e$n) plus an exact-count
    * M-step (m$n). The DP state RIDES IN THE ROW: (v0,p0) is the best
    * log-prob and piece path at the current position, (v1,p1)/(v2,p2)
    * at the previous two — exactly the window a maxLen=3 Viterbi
    * needs, so each recursion step advances one codepoint per word.
    * Candidate order mirrors UnigramEncode: longest piece first with
    * strictly-greater replacement (the `c3 >= c2 AND c3 >= c1` CASE),
    * single-codepoint fallback at the shared unk floor. All dp values
    * are sums of 6dp-rounded decimals accumulated in the same order
    * as the native expression, so comparisons agree bit-for-bit.
    *
    * COST SHAPE (r12): every model CTE is `AS MATERIALIZED` and the
    * per-position piece lookups are LEFT JOINs against it, not
    * correlated scalar subqueries. DuckDB 1.0 inlines CTEs by
    * default, so a correlated `(SELECT logp FROM m2 ...)` inside the
    * e3 recursion re-planned the ENTIRE m2←e2←m1←e1 chain per
    * recursion level — the r11 driver sweep measured 318 s for this
    * one oracle at sf0.01 and the artifact timed out empty. The
    * materialized-join form is the same DP bit-for-bit and runs in
    * <1 s. (Materializing alone without de-correlating trips a
    * DuckDB 1.0 wrong-result on correlated subqueries over
    * materialized CTEs inside recursion — hence joins, not hints.) */
  private def unigramWithPrefix(iters: Int): String = {
    val maxLen = 3
    val seedTopK = 200
    val unk = graft.operators.Unigram.UnkLogp
    def viterbi(n: Int): String = {
      val m = s"m${n - 1}"
      s"""e$n AS (
           SELECT wid, w, freq, syms, 0 AS i,
                  CAST(0.0 AS DOUBLE) AS v0, []::VARCHAR[] AS p0,
                  CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS VARCHAR[]) AS p1,
                  CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR[]) AS p2
           FROM v0
           UNION ALL
           SELECT wid, w, freq, syms, i + 1,
                  CASE WHEN c3 IS NOT NULL AND c3 >= coalesce(c2, -1e308)
                            AND c3 >= c1 THEN c3
                       WHEN c2 IS NOT NULL AND c2 >= c1 THEN c2
                       ELSE c1 END,
                  CASE WHEN c3 IS NOT NULL AND c3 >= coalesce(c2, -1e308)
                            AND c3 >= c1 THEN list_append(p2, s3)
                       WHEN c2 IS NOT NULL AND c2 >= c1 THEN list_append(p1, s2)
                       ELSE list_append(p0, s1) END,
                  v0, p0, v1, p1
           FROM (
             SELECT a.*,
                    a.v0 + coalesce(j1.logp, CAST($unk AS DOUBLE)) AS c1,
                    CASE WHEN a.s2 IS NOT NULL
                         THEN a.v1 + j2.logp END AS c2,
                    CASE WHEN a.s3 IS NOT NULL
                         THEN a.v2 + j3.logp END AS c3
             FROM (
               SELECT *, syms[i + 1] AS s1,
                      CASE WHEN i >= 1
                           THEN array_to_string(syms[i:i + 1], '') END AS s2,
                      CASE WHEN i >= 2
                           THEN array_to_string(syms[i - 1:i + 1], '') END AS s3
               FROM e$n WHERE i < len(syms)) a
             LEFT JOIN $m j1 ON j1.piece = a.s1
             LEFT JOIN $m j2 ON j2.piece = a.s2
             LEFT JOIN $m j3 ON j3.piece = a.s3) b),
         c$n AS MATERIALIZED (
           SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
           FROM (SELECT freq, unnest(p0) AS piece FROM e$n
                 WHERE i = len(syms))
           GROUP BY 1),
         m$n AS MATERIALIZED (
           SELECT piece, cnt,
                  round(ln(cnt / (SELECT sum(cnt) FROM c$n)::DOUBLE), 6) AS logp
           FROM c$n)"""
    }
    s"""WITH RECURSIVE
       w0 AS MATERIALIZED (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
           FROM documents)
         WHERE w <> '' GROUP BY w),
       v0 AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY w) AS wid, w,
                string_split(w, '') AS syms, freq FROM w0),
       sub0 AS MATERIALIZED (
         SELECT substr(w, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
         FROM w0,
              unnest(generate_series(1, length(w))) AS a(i),
              unnest(generate_series(1, least($maxLen, length(w) - i + 1))) AS b(l)
         GROUP BY 1),
       top0 AS (SELECT piece, cnt FROM sub0
                ORDER BY cnt DESC, piece LIMIT $seedTopK),
       seed AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM (
                  SELECT piece, cnt FROM top0
                  UNION ALL
                  SELECT piece, cnt FROM sub0 WHERE length(piece) = 1)),
       m0 AS MATERIALIZED (
         SELECT piece, cnt,
               round(ln(cnt / (SELECT sum(cnt) FROM seed)::DOUBLE), 6) AS logp
         FROM seed),
       ${(1 to iters).map(viterbi).mkString(",\n")}"""
  }

  /** WordPiece oracle machinery: the frequency-seeded role-split
    * vocabulary, then the greedy longest-match loop replayed as a
    * recursive CTE over DISTINCT words — per step the three candidate
    * slices probe the vocab in their position's role, the longest hit
    * wins (the WordPieceEncode while-loop verbatim), a miss marks the
    * word failed → [UNK]. Yields `wp_e(wid, w, pieces)`. */
  private def wordpieceCtes: String = {
    val (maxLen, topK) = (3, 200)
    s"""WITH RECURSIVE
       wp_w0 AS (SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
           FROM documents)
         WHERE w <> '' GROUP BY w),
       wp_init AS (
         SELECT substr(w, 1, l) AS piece, 0 AS cont,
                CAST(sum(freq) AS BIGINT) AS cnt
         FROM wp_w0,
              unnest(generate_series(1, least($maxLen, length(w)))) AS b(l)
         GROUP BY 1, 2),
       wp_cont AS (
         SELECT substr(w, i, l) AS piece, 1 AS cont,
                CAST(sum(freq) AS BIGINT) AS cnt
         FROM wp_w0,
              unnest(generate_series(2, length(w))) AS a(i),
              unnest(generate_series(1, least($maxLen, length(w) - i + 1))) AS b(l)
         GROUP BY 1, 2),
       wp_all AS (SELECT * FROM wp_init UNION ALL SELECT * FROM wp_cont),
       wp_top AS (SELECT piece, cont FROM wp_all
                  ORDER BY cnt DESC, cont, piece LIMIT $topK),
       wp_vocab AS (SELECT DISTINCT piece, cont FROM (
           SELECT piece, cont FROM wp_top
           UNION ALL
           SELECT piece, cont FROM wp_all WHERE length(piece) = 1)),
       wp_v0 AS (SELECT row_number() OVER (ORDER BY w) AS wid, w FROM wp_w0),
       wp_g AS (
         SELECT wid, w, 0 AS pos, []::VARCHAR[] AS pieces, FALSE AS failed
         FROM wp_v0
         UNION ALL
         SELECT wid, w, pos + takel,
                CASE WHEN takel = 0 THEN pieces
                     WHEN pos = 0 THEN list_append(pieces, sp)
                     ELSE list_append(pieces, '##' || sp) END,
                takel = 0
         FROM (
           SELECT *,
                  CASE WHEN len3 AND in3 THEN 3
                       WHEN len2 AND in2 THEN 2
                       WHEN in1 THEN 1 ELSE 0 END AS takel,
                  CASE WHEN len3 AND in3 THEN s3
                       WHEN len2 AND in2 THEN s2
                       WHEN in1 THEN s1 END AS sp
           FROM (
             SELECT *,
                    EXISTS(SELECT 1 FROM wp_vocab vv
                           WHERE vv.piece = s1 AND vv.cont = cc) AS in1,
                    EXISTS(SELECT 1 FROM wp_vocab vv
                           WHERE vv.piece = s2 AND vv.cont = cc) AS in2,
                    EXISTS(SELECT 1 FROM wp_vocab vv
                           WHERE vv.piece = s3 AND vv.cont = cc) AS in3
             FROM (
               SELECT wid, w, pos, pieces, failed,
                      substr(w, pos + 1, 1) AS s1,
                      substr(w, pos + 1, 2) AS s2,
                      substr(w, pos + 1, 3) AS s3,
                      length(w) - pos >= 2 AS len2,
                      length(w) - pos >= 3 AS len3,
                      CASE WHEN pos = 0 THEN 0 ELSE 1 END AS cc
               FROM wp_g WHERE pos < length(w) AND NOT failed) a) b) c),
       wp_e AS (
         SELECT wid, w,
                CASE WHEN failed THEN ['[UNK]'] ELSE pieces END AS pieces
         FROM wp_g
         WHERE failed OR (NOT failed AND pos = length(w))),
       wp_dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents)"""
  }

  private def wordpieceEncodeOracleSql: String =
    s"""$wordpieceCtes
       SELECT d.doc_id, d.word, array_to_string(e.pieces, '|') AS pieces
       FROM wp_dw d JOIN wp_e e ON d.word = e.w
       WHERE d.word <> ''"""

  private def wordpieceEvalOracleSql: String =
    s"""$wordpieceCtes,
       wp_j AS (
         SELECT len(e.pieces) AS np, length(d.word) AS nc
         FROM wp_dw d JOIN wp_e e ON d.word = e.w
         WHERE d.word <> '')
       SELECT count(*) AS n_words,
              CAST(sum(np) AS BIGINT) AS n_pieces,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              round(sum(np) / CAST(count(*) AS DOUBLE), 4) AS fertility,
              round(sum(nc) / CAST(sum(np) AS DOUBLE), 4) AS chars_per_piece
       FROM wp_j"""

  /** text_unigram oracle: the final model table after `iters` hard-EM
    * rounds — exact piece counts + 6dp log-probs. */
  private def unigramOracleSql: String =
    s"""${unigramWithPrefix(2)}
       SELECT piece, cnt, logp FROM m2"""

  /** text_unigram_encode oracle: one more Viterbi pass (e3) under the
    * trained m2, joined to every (doc_id, word) occurrence — encode of
    * a vocab word IS its segmentation row. */
  private def unigramEncodeOracleSql: String =
    s"""${unigramWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents)
       SELECT d.doc_id, d.word, array_to_string(e.p0, '|') AS pieces
       FROM dw d JOIN (SELECT w, p0 FROM e3 WHERE i = len(syms)) e
         ON d.word = e.w
       WHERE d.word <> ''"""

  /** text_unigram_eval oracle: the encode segmentations aggregated to
    * corpus fertility/compression (the bpe_eval shape). */
  private def unigramEvalOracleSql: String =
    s"""${unigramWithPrefix(3)},
       dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         FROM documents),
       j AS (
         SELECT len(e.p0) AS np, length(d.word) AS nc
         FROM dw d JOIN (SELECT w, p0, syms, i FROM e3 WHERE i = len(syms)) e
           ON d.word = e.w
         WHERE d.word <> '')
       SELECT count(*) AS n_words,
              CAST(sum(np) AS BIGINT) AS n_pieces,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              round(sum(np) / CAST(count(*) AS DOUBLE), 4) AS fertility,
              round(sum(nc) / CAST(sum(np) AS DOUBLE), 4) AS chars_per_piece
       FROM j"""
}
