package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Profile}
import graft.functions.Text
import Query.t
import DedupQueries.{bloomOracleSqlFor, jaccardCtesFor}
import SamplingQueries.epochShares

/** SURVEY §2c, quality and curation: heuristic filters, the
  * classifiers, the ensemble, drift, and the end-to-end curation
  * pipeline. */
object QualityQueries {

  lazy val all: Seq[Query] = Seq(
    // C4-style cleaning flags: word-count bounds, >=2 sentences, no
    // curly braces / lorem-ipsum boilerplate
    Query("text_c4_filters", (s, dir) =>
      Curation.c4Filters(t(s, dir, "documents"), "doc_id", "text",
        minWords = 10, maxWords = 50000, minSentences = 2),
      c4OracleSql),

    // fastText-style classifier gate: logistic score over cheap text
    // features, literal weights, one codegen'd pass — keep = z > 0
    Query("quality_classifier", (s, dir) =>
      Curation.qualityClassifier(t(s, dir, "documents"), "doc_id", "text",
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0),
      // feature arithmetic mirrored term-by-term (left-assoc) so the
      // logit is bit-identical; keep thresholds the raw logit (no
      // transcendental in the decision), sigmoid rounded at the edge
      qualityClassifierOracleSql),

    // the composite gate a production corpus actually ships: C4
    // heuristics ∧ classifier logit ∧ repetition screen, with each
    // component flag kept for filter attribution; the two in-row
    // gates share one scan/projection, only repetition aggregates.
    // minSentences = 0 here: the synthetic corpus carries no
    // sentence punctuation, and a constant-false composite would
    // gate nothing — the word-bound, classifier and repetition
    // components all vary on this corpus
    Query("quality_ensemble", (s, dir) =>
      Curation.qualityEnsemble(t(s, dir, "documents"), "doc_id", "text",
        minWords = 10, maxWords = 50000, minSentences = 0,
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0,
        maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05),
      qualityEnsembleOracleSql),

    // the FUNNEL over the ensemble's attribution flags: how many
    // docs each gate kills (counted independently — gates overlap)
    // and how many survive everything — the one-row dashboard a
    // curation run publishes
    Query("quality_report", (s, dir) =>
      Curation.qualityEnsemble(t(s, dir, "documents"), "doc_id", "text",
          minWords = 10, maxWords = 50000, minSentences = 0,
          bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
          wTokenLen = 0.1, wPunct = -4.0,
          maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("c4_keep"), 1L).otherwise(0L)).as("killed_c4"),
          sum(when(!col("clf_keep"), 1L).otherwise(0L)).as("killed_classifier"),
          sum(when(!col("rep_ok"), 1L).otherwise(0L)).as("killed_repetition"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("survivors"))
        .select(col("n_docs"), col("killed_c4"), col("killed_classifier"),
          col("killed_repetition"), col("survivors"),
          round(col("survivors") / col("n_docs").cast("double"), 4)
            .as("keep_rate")),
      qualityReportOracleSql),

    // PSI drift monitor (r11): Laplace-smoothed population-stability
    // index between the even and odd doc_id halves over fixed char-
    // and token-count buckets — the standing data-quality monitor;
    // shuffles move ≤ B rows per feature, totals are broadcast scalars
    Query("quality_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      Profile.driftPsi(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        Seq(
          "chars" -> least(floor(col("n_chars") / lit(64)), lit(9)),
          "tokens" -> least(floor(size(Text.tokens(col("text"))) / lit(16)), lit(9))),
        nBuckets = 10)
    },
      // PSI drift: every probability is built in DOUBLE from the first
      // add (no DECIMAL detours), bucket spine from generate_series —
      // empty buckets surface with their smoothed mass, not dropped
      """WITH d AS (SELECT doc_id, n_chars,
                    len(string_split_regex(trim(text), '\s+')) AS n_toks,
                    doc_id % 2 AS side
             FROM documents),
         b AS (SELECT side, 'chars' AS feature,
                      least(CAST(floor(n_chars / 64) AS BIGINT), 9) AS bucket
               FROM d
               UNION ALL
               SELECT side, 'tokens' AS feature,
                      least(CAST(floor(n_toks / 16) AS BIGINT), 9) AS bucket
               FROM d),
         g AS (SELECT feature, bucket,
                      count(*) FILTER (WHERE side = 0) AS nr0,
                      count(*) FILTER (WHERE side = 1) AS nc0
               FROM b GROUP BY 1, 2),
         sp AS (SELECT f.feature, gs.bucket
                FROM (SELECT 'chars' AS feature UNION ALL SELECT 'tokens') f
                CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) gs),
         j AS (SELECT sp.feature, sp.bucket,
                      COALESCE(nr0, 0) AS n_ref, COALESCE(nc0, 0) AS n_cur
               FROM sp LEFT JOIN g
                 ON sp.feature = g.feature AND sp.bucket = g.bucket),
         -- denominators = per-feature SUMS of the bucket counts (the
         -- r12-fixed operator contract: what the numerators counted
         -- is what the totals divide by), NOT whole-side row counts —
         -- they coincide here only because these bucket expressions
         -- never yield NULL/out-of-range (r13 advice)
         p AS (SELECT feature, bucket, n_ref, n_cur,
                      (CAST(n_ref AS DOUBLE) + 0.5)
                        / (CAST(sum(n_ref) OVER (PARTITION BY feature) AS DOUBLE) + 5.0) AS pr,
                      (CAST(n_cur AS DOUBLE) + 0.5)
                        / (CAST(sum(n_cur) OVER (PARTITION BY feature) AS DOUBLE) + 5.0) AS pc
               FROM j)
         SELECT feature, bucket, n_ref, n_cur,
                round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
                round((pc - pr) * ln(pc / pr), 6) AS psi,
                round(sum((pc - pr) * ln(pc / pr))
                        OVER (PARTITION BY feature), 4) AS psi_total
         FROM p"""),

    // Gopher-style intra-doc repetition stats + keep flag
    Query("text_repetition", (s, dir) =>
      Curation.repetitionStats(t(s, dir, "documents"), "doc_id", "text",
        maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05),
      textRepetitionOracleSql),

    // cross-doc boilerplate: fraction of each doc's distinct
    // 3-grams appearing in >= 3 docs corpus-wide (template/header
    // text the within-doc repetition stats never see)
    Query("quality_boilerplate", (s, dir) =>
      Curation.boilerplateStats(t(s, dir, "documents"), "doc_id", "text",
        k = 3, dfMin = 3L),
      // cross-doc boilerplate: distinct string 3-grams per doc (the
      // Spark side's 8-byte shingle hashes group identically modulo
      // ~|V|^2/2^64 collisions), df over docs, per-doc flagged share
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
         dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         agg AS (
           SELECT doc_id, count(*) AS n_grams,
                  sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_boiler
           FROM sh JOIN dfc USING (s) GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
                round(n_boiler * 1.0 / n_grams, 4) AS boiler_ratio
         FROM documents d LEFT JOIN agg USING (doc_id)"""),

    // per-source distribution gate: trim the 5% tails of n_chars
    Query("quality_gate", (s, dir) =>
      Curation.percentileGate(t(s, dir, "documents"), "source", col("n_chars"),
          0.05, 0.95, col("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("pct_rank"), 4).as("pct_rank")),
      """SELECT doc_id, source, n_chars,
                round(percent_rank() OVER w, 4) AS pct_rank
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
         QUALIFY (percent_rank() OVER w) >= 0.05
            AND (percent_rank() OVER w) <= 0.95"""),

    // quality-classifier TRAINING, hash-gated end to end: 3 unrolled
    // gradient-descent iterations over exact/4dp-rounded text features
    // with a deterministic label (lang = 'en'); the mean gradient is
    // rounded 6dp at each iteration edge (the emb_kmeans trade), so
    // the learned weights are exact sums of decimals the oracle
    // re-derives bit-identically
    Query("quality_classifier_train", (s, dir) => {
      import s.implicits._
      val w = graft.operators.Curation.logisticTrain(
        logregFeatures(t(s, dir, "documents")),
        "y", Seq("x0", "x1", "x2", "x3"), iters = 3)
      w.toSeq.zipWithIndex.map { case (wi, i) => (s"x$i", wi) }
        .toDF("feature", "weight")
        .select(col("feature"), round(col("weight"), 6).as("weight"))
    },
      logregOracleSql),

    // the trained model EVALUATED on a deterministic held-out split
    // (md5 buckets ≥ 80): integer confusion matrix + accuracy —
    // train → apply → evaluate under one hash gate. 3 iterations is
    // the GATE trajectory (the emb_kmeans/text_bpe convention:
    // production raises iters — the spec proves the trainer separates
    // at 50); the gate proves the distributed fit + scoring pipeline
    // is engine-reproducible, not that 3 steps converge
    Query("quality_classifier_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      val w = graft.operators.Curation.logisticTrain(
        logregFeatures(docs.filter(bucket < 80)),
        "y", Seq("x0", "x1", "x2", "x3"), iters = 3)
      val z = Seq("x0", "x1", "x2", "x3").zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
      confusionMetrics(logregFeatures(docs.filter(bucket >= 80))
        .select(col("y"), when(z > 0, 1.0).otherwise(0.0).as("yhat")))
    },
      logregEvalOracleSql),

    // hashed-ngram (fastText-shape) classifier TRAINING, hash-gated:
    // the same 3 unrolled GD iterations, but over 16 poly-31-hashed
    // token-bucket frequency features + bias — the feature map that
    // sees VOCABULARY (the aggregate features can't; CurationNewSpec
    // plants a lexical rule only this map separates). The oracle
    // re-derives each token's bucket with the list_reduce poly-31
    // fold and replays the trajectory bit-identically
    Query("quality_ngram_train", (s, dir) => {
      import s.implicits._
      val cols = (0 to ngramBuckets).map(i => s"x$i")
      val w = graft.operators.Curation.logisticTrain(
        ngramFeatures(t(s, dir, "documents")), "y", cols, iters = 3)
      w.toSeq.zipWithIndex.map { case (wi, i) => (f"x$i%02d", wi) }
        .toDF("feature", "weight")
        .select(col("feature"), round(col("weight"), 6).as("weight"))
    },
      ngramTrainOracleSql),

    // the hashed-ngram model EVALUATED on the same md5-bucket ≥ 80
    // holdout as quality_classifier_eval: same split, same metric
    // rows — the two feature maps' confusion matrices are directly
    // comparable under one gate convention
    Query("quality_ngram_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      val cols = (0 to ngramBuckets).map(i => s"x$i")
      val w = graft.operators.Curation.logisticTrain(
        ngramFeatures(docs.filter(bucket < 80)), "y", cols, iters = 3)
      val z = cols.zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
      val scored = ngramFeatures(docs.filter(bucket >= 80))
        .select(col("y"), when(z > 0, 1.0).otherwise(0.0).as("yhat"))
      confusionMetrics(scored)
    },
      ngramEvalOracleSql),

    // quality_ok thresholds the UNROUNDED ratio (the oracle compares
    // the raw value to 0.5; rounding first would flip documents whose
    // ratio lands in [0.49995, 0.5))
    Query("text_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        Text.tokenCount(col("text")).as("n_tokens"),
        round(Text.avgTokenLen(col("text")), 4).as("avg_token_len"),
        round(Text.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        (Text.tokenCount(col("text")) >= 5 && Text.tokenCount(col("text")) <= 10000 &&
          Text.stopwordRatio(col("text")) < 0.5).as("quality_ok")),
      """WITH b AS (
           SELECT doc_id, length(text) AS len_chars,
                  string_split_regex(trim(text), '\s+') AS toks,
                  length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace
           FROM documents)
         SELECT doc_id, len_chars,
                CAST(len(toks) AS INTEGER) AS n_tokens,
                round(n_nonspace / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len,
                round(len(list_filter(toks,
                    tok -> tok IN ('the','a','of','and','in','to','is')))
                  / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
                (len(toks) >= 5 AND len(toks) <= 10000 AND
                 len(list_filter(toks,
                    tok -> tok IN ('the','a','of','and','in','to','is')))
                  / CAST(len(toks) AS DOUBLE) < 0.5) AS quality_ok
         FROM b"""),

    // THE CAPSTONE: the end-to-end batch curation pipeline — every
    // stage is the SAME operator its standalone gate runs, wired
    // through survivor sets (dedup_keep → quality_ensemble →
    // decon_bloom → sample_mixture → sample_epochs → sample_shards →
    // pack_sequences). The oracle nests the component CTEs in
    // sequence, so this row proves the individually-green stages
    // COMPOSE — corpus in, training-ready packed shards out
    Query("pipeline_curate", (s, dir) => curatedFor(s, dir).packed,
      pipelineCurateOracleSql),

    // the pipeline's one-row funnel: per-stage survivor counts plus
    // the final sequence-writer stats — the dashboard a corpus run
    // publishes next to its shards
    Query("pipeline_report", (s, dir) => curatedFor(s, dir).report,
      pipelineReportOracleSql)
  )

  /** Memoized pipeline instance per (session, dir) — a REAL memo (r9
    * verdict fixed the SURVEY claim): pipeline_report after
    * pipeline_curate reuses the SAME persisted stage boundaries
    * instead of rebuilding the funnel. Staleness-aware: the
    * Verify/Bench harness clearCache()s between queries, which
    * deregisters a live instance's persists behind our back — reusing
    * THAT instance would recompute the dedup subtree once per
    * downstream reference, so a non-[[graft.operators.CuratePipeline.Curated.isLive]]
    * entry is release()d (bounds the leak the r9 verdict flagged: at
    * most ONE instance's 3 frames per (session identity, dir), stale
    * ones dropped at the next call) and rebuilt fresh. Long-lived callers
    * use [[graft.operators.CuratePipeline.curate]] directly and own
    * release(). */
  private val curatedMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.operators.CuratePipeline.Curated]()

  private def curatedFor(s: SparkSession, dir: String) = {
    // keyed on the SparkSession INSTANCE (identity equality — the r10
    // ADVICE fix: identityHashCode is not unique and can be reused
    // after GC, resurrecting a Curated bound to a dead session).
    // Entries whose session has stopped are evicted first: their
    // cached boundaries died with the session, and the strong key
    // reference would otherwise pin the dead session forever.
    curatedMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    curatedMemo.compute((s, dir), (_, prev) => {
      if (prev != null && prev.isLive) prev
      else {
        if (prev != null) prev.release() // no-op unpersists when cleared
        curatedBuild(s, dir)
      }
    })
  }

  private[graft] def curatedBuild(s: SparkSession, dir: String) =
    graft.operators.CuratePipeline.curate(
        t(s, dir, "documents"), "doc_id", "text", "lang", "source",
        col("n_chars"), benchSources = Seq("src0", "src1"),
        shingleK = 3, tau = 0.6,
        minWords = 10, maxWords = 50000, minSentences = 0,
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0,
        maxTopTokenRatio = 0.12, maxDupTrigramRatio = 0.05,
        deconN = 5, bloomBits = 1 << 22, bloomHashes = 3,
        langShares = Map("en" -> 0.25, "de" -> 0.35), defaultRate = 0.6,
        epochShares = epochShares, budgetFactor = 1.0, maxEpochs = 4.0,
        nShards = 8, packBudget = 2048)

  /** The logreg gate's labeled feature frame: exact-rational / 4dp
    * text features + the deterministic lang='en' label (shared by the
    * train and eval queries; mirrored column-for-column in
    * [[logregCtes]]). */
  private def logregFeatures(docs: DataFrame): DataFrame =
    docs.select(
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        (least(Text.tokenCount(col("text")), lit(1000)) / lit(1000.0)).as("x1"),
        round(Text.stopwordRatio(col("text")), 4).as("x2"),
        round(Text.avgTokenLen(col("text")) / lit(10.0), 4).as("x3"),
        Text.tokenCount(col("text")).as("__n"))
      .filter(col("__n") >= 1)

  /** Bucket count of the hashed-ngram gate feature map (power of two:
    * the signed-long `& (B-1)` bucket must equal the oracle's
    * unsigned mod-2^64 hash mod B). 16 buckets + bias = 17 features
    * — the GATE width; production fastText raises B to millions via
    * [[graft.operators.Curation.logisticTrainSparse]]. */
  private val ngramBuckets = 16

  /** The hashed-ngram gate's labeled feature frame: bias + 16
    * poly-31 token-bucket frequencies (4dp), lang='en' label —
    * mirrored in [[ngramFeatureSqlCols]]. */
  private def ngramFeatures(docs: DataFrame): DataFrame =
    graft.operators.Curation.hashedTokenFeatures(docs,
      when(col("lang") === "en", 1.0).otherwise(0.0), col("text"),
      ngramBuckets)

  /** Integer confusion matrix + rounded accuracy over a (y, yhat)
    * frame — the shared tail of both classifier eval gates. */
  private def confusionMetrics(scored: DataFrame): DataFrame =
    scored.agg(
        sum(when(col("yhat") === 1.0 && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(col("yhat") === 1.0 && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("yhat") === 0.0 && col("y") === 0.0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("yhat") === 0.0 && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
        count(lit(1)).as("n"))
      .select(explode(array(
        struct(lit("tp").as("metric"), col("tp").cast("double").as("value")),
        struct(lit("fp").as("metric"), col("fp").cast("double").as("value")),
        struct(lit("tn").as("metric"), col("tn").cast("double").as("value")),
        struct(lit("fn").as("metric"), col("fn").cast("double").as("value")),
        struct(lit("accuracy").as("metric"),
          round((col("tp") + col("tn")) / col("n").cast("double"), 4).as("value"))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))

  private val logregXs = 0 to 3

  private def logregDot(w: String, f: String) = gdDot(logregXs, w, f)

  /** Left-folded dot product over feature columns x0..x{n} and weight
    * columns w0..w{n} — the same association order as the Scala
    * `reduce(_ + _)`, so both engines evaluate the identical
    * expression tree. */
  private def gdDot(xs: Range, w: String, f: String) =
    xs.map(i => s"$w.w$i * $f.x$i").mkString(" + ")

  /** Unrolled gradient-descent iteration CTEs (g1/w1 .. gN/wN for
    * N = iters) over a feature CTE `f` with columns y, x0..x{n} —
    * the shared machinery of every classifier-training oracle: σ from
    * the previous round's accumulated weights (0.5 exactly at w=0),
    * mean gradient rounded 6dp at each iteration edge, lr = 1. */
  private def gdIterCtes(xs: Range, iters: Int): String = {
    def gradCte(n: Int): String =
      if (n == 1)
        s"""g1 AS (SELECT ${xs.map(i =>
          s"round(avg(x$i * (y - 0.5)), 6) AS g$i").mkString(", ")} FROM f),
           w1 AS (SELECT ${xs.map(i => s"g$i AS w$i").mkString(", ")} FROM g1)"""
      else
        s"""g$n AS (SELECT ${xs.map(i =>
          s"round(avg(f.x$i * (f.y - 1.0 / (1.0 + exp(-(${gdDot(xs, "w", "f")}))))), 6) AS g$i")
            .mkString(", ")}
             FROM f CROSS JOIN w${n - 1} w),
           w$n AS (SELECT ${xs.map(i => s"w.w$i + g.g$i AS w$i").mkString(", ")}
                   FROM w${n - 1} w CROSS JOIN g$n g)"""
    (1 to iters).map(gradCte).mkString(",\n")
  }

  /** Shared confusion-matrix SQL tail of both classifier eval
    * oracles: expects a CTE `p` with (y, yhat). */
  private val confusionSqlTail: String =
    """c AS (SELECT
               sum(CASE WHEN yhat = 1 AND y = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN yhat = 1 AND y = 0 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN yhat = 0 AND y = 0 THEN 1 ELSE 0 END) AS tn,
               sum(CASE WHEN yhat = 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
               count(*) AS n
             FROM p)
       SELECT 'tp' AS metric, CAST(tp AS DOUBLE) AS value FROM c
       UNION ALL SELECT 'fp', CAST(fp AS DOUBLE) FROM c
       UNION ALL SELECT 'tn', CAST(tn AS DOUBLE) FROM c
       UNION ALL SELECT 'fn', CAST(fn AS DOUBLE) FROM c
       UNION ALL SELECT 'accuracy', round((tp + tn) / CAST(n AS DOUBLE), 4) FROM c"""

  /** Shared CTE prefix of the logreg oracles: labeled features with a
    * hash-split bucket, plus 3 unrolled GD iterations over the rows
    * matching `trainWhere` (empty = train on everything). */
  private def logregCtes(trainWhere: String): String = {
    val featCols =
      s"""y, 1.0 AS x0,
         least(len(toks), 1000) / 1000.0 AS x1,
         round(len(list_filter(toks,
             tok -> tok IN ('the','a','of','and','in','to','is')))
           / CAST(len(toks) AS DOUBLE), 4) AS x2,
         round(n_nonspace / CAST(len(toks) AS DOUBLE) / 10.0, 4) AS x3"""
    s"""WITH b AS (
         SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                string_split_regex(trim(text), '\\s+') AS toks,
                length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nonspace,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents),
       f AS (
         SELECT $featCols
         FROM b WHERE len(toks) >= 1 $trainWhere),
       ${gdIterCtes(logregXs, 3)}"""
  }

  /** quality_classifier_train oracle: 3 unrolled GD iterations — the
    * same feature derivation (exact rationals + 4dp rounds), σ from
    * the previous round's accumulated weights, mean gradient rounded
    * 6dp at each iteration edge, weights summed in the same
    * association order as the Scala loop (bit-identical doubles). */
  private def logregOracleSql: String =
    s"""${logregCtes("")}
       ${logregXs.map(i =>
        s"SELECT 'x$i' AS feature, round(w$i, 6) AS weight FROM w3")
        .mkString("\n UNION ALL ")}"""

  /** quality_classifier_eval oracle: train on the md5-bucket < 80
    * split, score the held-out rows with the learned weights (same
    * left-folded dot), and emit the INTEGER confusion matrix +
    * rounded accuracy. */
  private def logregEvalOracleSql: String =
    s"""${logregCtes("AND bucket < 80")},
       feval AS (
         SELECT y, 1.0 AS x0,
                least(len(toks), 1000) / 1000.0 AS x1,
                round(len(list_filter(toks,
                    tok -> tok IN ('the','a','of','and','in','to','is')))
                  / CAST(len(toks) AS DOUBLE), 4) AS x2,
                round(n_nonspace / CAST(len(toks) AS DOUBLE) / 10.0, 4) AS x3
         FROM b WHERE len(toks) >= 1 AND bucket >= 80),
       p AS (SELECT f.y,
                    CASE WHEN (${logregDot("w", "f")}) > 0 THEN 1.0 ELSE 0.0 END AS yhat
             FROM feval f CROSS JOIN w3 w),
       $confusionSqlTail"""

  /** The hashed-ngram feature columns in DuckDB SQL, mirroring
    * [[ngramFeatures]] column-for-column: expects a CTE with `y`,
    * `toks` (empty tokens removed) and `hb` (per-token poly-31
    * bucket). */
  private def ngramFeatureSqlCols: String =
    (Seq("y", "1.0 AS x0") ++
      (0 until ngramBuckets).map(b =>
        s"round(len(list_filter(hb, h -> h = $b)) / CAST(len(toks) AS DOUBLE), 4) AS x${b + 1}"))
      .mkString(",\n                ")

  /** Shared CTE prefix of the hashed-ngram classifier oracles: the
    * per-token poly-31 rolling hash (the list_reduce fold every hash
    * oracle in this file uses) bucketed mod 16 — equal to the JVM's
    * signed `& 15` because 16 divides 2^64 — then the same 3
    * unrolled GD iterations as the dense gate. */
  private def ngramCtes(trainWhere: String): String = {
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(string_split(tok, ''), c -> ord(c)::HUGEINT)), " +
      "(a, b2) -> (a * 31 + b2) % 18446744073709551616::HUGEINT)"
    s"""WITH b0 AS (
         SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                list_filter(string_split_regex(trim(text), '\\s+'),
                  t0 -> t0 <> '') AS toks,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents),
       bh AS (
         SELECT y, toks, bucket,
                list_transform(toks,
                  tok -> CAST($poly % $ngramBuckets AS INTEGER)) AS hb
         FROM b0),
       f AS (
         SELECT $ngramFeatureSqlCols
         FROM bh WHERE len(toks) >= 1 $trainWhere),
       ${gdIterCtes(0 to ngramBuckets, 3)}"""
  }

  /** quality_ngram_train oracle: bucket hashes re-derived in SQL, 3
    * unrolled GD iterations, weights emitted with zero-padded
    * feature labels (x00..x16). */
  private def ngramTrainOracleSql: String =
    s"""${ngramCtes("")}
       ${(0 to ngramBuckets).map(i =>
        f"SELECT 'x$i%02d' AS feature, round(w$i, 6) AS weight FROM w3")
        .mkString("\n UNION ALL ")}"""

  /** quality_ngram_eval oracle: train on md5-bucket < 80, score the
    * held-out rows, emit the confusion matrix — the dense eval
    * oracle's shape over the hashed feature map. */
  private def ngramEvalOracleSql: String =
    s"""${ngramCtes("AND bucket < 80")},
       feval AS (
         SELECT $ngramFeatureSqlCols
         FROM bh WHERE len(toks) >= 1 AND bucket >= 80),
       p AS (SELECT f.y,
                    CASE WHEN (${gdDot(0 to ngramBuckets, "w", "f")}) > 0
                         THEN 1.0 ELSE 0.0 END AS yhat
             FROM feval f CROSS JOIN w3 w),
       $confusionSqlTail"""

  /** The end-to-end curation pipeline oracle's shared CTE chain:
    * each stage's CTEs are the STANDALONE component oracle
    * re-rooted at the previous stage's survivor CTE (d1..d4), ending
    * in `packed(doc_id, copy, shard, pos, n_tokens, pack_id)`.
    * Stage params mirror [[curatedFor]] exactly; the expansion uid
    * (doc_id*16 + copy), the (copy ':' text) shard hash and the
    * pos-ordered pack window mirror CuratePipeline.curate. */
  private def pipelineCtes: String = {
    val shareCase = epochShares.toSeq.sortBy(_._1)
      .map { case (s, v) => s"WHEN source = '$s' THEN CAST($v AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE NULL END")
    val polyId = "CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT)"
    s"""${jaccardCtesFor("documents", "pl_")},
       |pl_pairs AS (
       |  SELECT da, db
       |  FROM pl_shared JOIN pl_sz za ON da = za.doc_id
       |  JOIN pl_sz zb ON db = zb.doc_id
       |  WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
       |pl_edges AS (
       |  SELECT da AS src, db AS dst FROM pl_pairs
       |  UNION ALL SELECT db, da FROM pl_pairs),
       |pl_reach(node, lbl) AS (
       |  SELECT src, src FROM pl_edges
       |  UNION
       |  SELECT e.src, r.lbl FROM pl_edges e JOIN pl_reach r ON e.dst = r.node),
       |pl_clusters AS (SELECT node, min(lbl) AS cluster_id FROM pl_reach GROUP BY 1),
       |d1 AS MATERIALIZED (SELECT * FROM documents
       |       WHERE doc_id NOT IN
       |             (SELECT node FROM pl_clusters WHERE node <> cluster_id)),
       |ens AS MATERIALIZED (${qualityEnsembleOracleSqlFor("d1")}),
       |d2 AS MATERIALIZED (SELECT d1.* FROM d1 JOIN ens USING (doc_id) WHERE ens.keep),
       |bl AS MATERIALIZED (${bloomOracleSqlFor("d2")}),
       |d3 AS MATERIALIZED (SELECT d2.* FROM d2 JOIN bl USING (doc_id) WHERE NOT bl.flagged),
       |mw AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt FROM d3 GROUP BY 1),
       |mg AS (SELECT sum(wt) AS wtot FROM mw),
       |mr AS (SELECT lang,
       |         CASE WHEN lang IN ('en', 'de')
       |              THEN least(1.0,
       |                (CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.35 END
       |                 * wtot) / wt)
       |              ELSE 0.6 END AS rate
       |       FROM mw CROSS JOIN mg),
       |d4 AS MATERIALIZED (SELECT d3.* FROM d3 JOIN mr USING (lang)
       |       WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
       |             < rate * 10000),
       |eb AS (SELECT doc_id, source,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS tok
       |       FROM d4),
       |eav AS (SELECT source, sum(tok) AS avail FROM eb GROUP BY 1),
       |ett AS (SELECT sum(tok) AS tot FROM eb),
       |ee AS (
       |  SELECT eb.doc_id,
       |         CASE WHEN ($shareCase) IS NOT NULL
       |              THEN least(($shareCase) * 1.0 * tot / avail, 4.0)
       |              ELSE 1.0 END AS epochs,
       |         (CAST($polyId % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
       |  FROM eb LEFT JOIN eav USING (source) CROSS JOIN ett),
       |ncopies AS (
       |  SELECT doc_id,
       |         CAST(floor(epochs) +
       |              (CASE WHEN u < epochs - floor(epochs) THEN 1 ELSE 0 END)
       |              AS INTEGER) AS n_copies
       |  FROM ee),
       |expanded AS (
       |  SELECT d4.doc_id, d4.text, CAST(c.c AS INTEGER) AS copy,
       |         d4.doc_id * 16 + c.c AS uid
       |  FROM d4 JOIN ncopies USING (doc_id),
       |       unnest(generate_series(0, CAST(n_copies AS BIGINT) - 1)) AS c(c)
       |  WHERE n_copies >= 1),
       |shd AS (
       |  SELECT doc_id, copy, uid,
       |         CAST(('0x' || substr(md5(CAST(copy AS VARCHAR) || ':' || text), 1, 8))
       |              AS BIGINT) % 8 AS shard,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
       |           AS n_tokens
       |  FROM expanded),
       |positioned AS (
       |  SELECT doc_id, copy, shard, n_tokens,
       |         CAST(row_number() OVER (
       |           PARTITION BY shard
       |           ORDER BY md5(CAST(uid AS VARCHAR)), uid) AS INTEGER) AS pos
       |  FROM shd),
       |packed AS MATERIALIZED (
       |  SELECT doc_id, copy, shard, pos, n_tokens,
       |         CAST(floor((sum(n_tokens) OVER (
       |                 PARTITION BY shard ORDER BY pos
       |                 ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
       |           AS pack_id
       |  FROM positioned)""".stripMargin
  }

  private def pipelineCurateOracleSql: String =
    s"""WITH RECURSIVE $pipelineCtes
       |SELECT doc_id, copy, shard, pos, n_tokens, pack_id FROM packed""".stripMargin

  private def pipelineReportOracleSql: String =
    s"""WITH RECURSIVE $pipelineCtes
       |SELECT (SELECT count(*) FROM documents) AS n_raw,
       |       (SELECT count(*) FROM d1) AS n_dedup,
       |       (SELECT count(*) FROM d2) AS n_quality,
       |       (SELECT count(*) FROM d3) AS n_decon,
       |       (SELECT count(*) FROM d4) AS n_mixture,
       |       (SELECT count(*) FROM packed) AS n_copies,
       |       (SELECT count(DISTINCT (shard, pack_id)) FROM packed) AS n_packs,
       |       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM packed) AS n_tokens""".stripMargin

  /** quality_classifier oracle (also a CTE of the ensemble): feature
    * arithmetic mirrored term-by-term, keep thresholds the raw
    * logit. */
  private def qualityClassifierOracleSql: String =
    qualityClassifierOracleSqlFor("documents")

  private def qualityClassifierOracleSqlFor(rel: String): String =
    s"""WITH f AS (
         SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ntok,
                CAST(len(regexp_extract_all(
                      regexp_replace(' ' || lower(text) || ' ', '\\s+', '  ', 'g'),
                      ' (the|a|of|and|in|to|is) ')) AS DOUBLE)
                  / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS swr,
                length(regexp_replace(trim(text), '\\s+', '', 'g'))
                  / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS atl,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                  / CAST(length(text) AS DOUBLE) AS pr
         FROM $rel),
       z AS (SELECT doc_id,
               -2.0 + 0.6 * ln(1.0 + ntok)
                    + (-6.0) * (swr - 0.4) * (swr - 0.4)
                    + 0.1 * atl + (-4.0) * pr AS zv
             FROM f)
       SELECT doc_id, round(1.0 / (1.0 + exp(-zv)), 4) AS score,
              (zv > 0) AS keep
       FROM z"""

  /** text_c4_filters oracle (also a CTE of the ensemble, which runs
    * it at minSentences = 0 — the corpus carries no sentence
    * punctuation). */
  private def c4OracleSql: String = c4OracleSqlFor(minSentences = 2)

  private def c4OracleSqlFor(minSentences: Int,
      rel: String = "documents"): String =
    s"""WITH b AS (
         SELECT doc_id,
                len(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS nw,
                length(text) - length(replace(replace(replace(
                    text, '.', ''), '!', ''), '?', '')) AS ns,
                (contains(text, '{') OR contains(text, '}')) AS has_curly,
                contains(lower(text), 'lorem ipsum') AS has_lorem
         FROM $rel)
       SELECT doc_id, CAST(nw AS INTEGER) AS n_words,
              CAST(ns AS INTEGER) AS n_sentences,
              has_curly, has_lorem,
              (nw >= 10 AND nw <= 50000 AND ns >= $minSentences
               AND NOT has_curly AND NOT has_lorem) AS c4_keep
       FROM b"""

  /** text_repetition oracle (also a CTE of the ensemble). */
  private def textRepetitionOracleSql: String =
    textRepetitionOracleSqlFor("documents")

  private def textRepetitionOracleSqlFor(rel: String): String =
    s"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM $rel),
       tf AS (
         SELECT doc_id, token, count(*) AS c
         FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         WHERE token <> '' GROUP BY 1, 2),
       ts AS (
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct_tokens, max(c) AS top_c
         FROM tf GROUP BY 1),
       sh AS (
         SELECT doc_id,
                count(DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS n_distinct_tri
         FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
         GROUP BY 1)
       SELECT ts.doc_id, ts.n_tokens, ts.n_distinct_tokens,
              round(ts.top_c / ts.n_tokens, 4) AS top_token_ratio,
              round(CASE WHEN ts.n_tokens > 2
                    THEN 1.0 - COALESCE(sh.n_distinct_tri, 0) / (ts.n_tokens - 2)
                    ELSE 0.0 END, 4) AS dup_trigram_ratio,
              (ts.top_c / ts.n_tokens <= 0.12 AND
               CASE WHEN ts.n_tokens > 2
                    THEN 1.0 - COALESCE(sh.n_distinct_tri, 0) / (ts.n_tokens - 2)
                    ELSE 0.0 END <= 0.05) AS rep_ok
       FROM ts LEFT JOIN sh ON ts.doc_id = sh.doc_id"""

  /** quality_ensemble oracle: the three component oracles as nested
    * CTEs (each carries its own WITH — legal as a subquery), joined
    * on doc_id with the same left-join + coalesce(false) the plan
    * uses for token-less docs. */
  private def qualityEnsembleOracleSql: String =
    qualityEnsembleOracleSqlFor("documents")

  private def qualityEnsembleOracleSqlFor(rel: String): String =
    s"""WITH c4r AS (${c4OracleSqlFor(minSentences = 0, rel)}),
       |clfr AS (${qualityClassifierOracleSqlFor(rel)}),
       |repr AS (${textRepetitionOracleSqlFor(rel)})
       |SELECT c4r.doc_id, c4r.c4_keep, clfr.keep AS clf_keep,
       |       coalesce(repr.rep_ok, FALSE) AS rep_ok,
       |       (c4r.c4_keep AND clfr.keep AND coalesce(repr.rep_ok, FALSE)) AS keep
       |FROM c4r
       |JOIN clfr ON c4r.doc_id = clfr.doc_id
       |LEFT JOIN repr ON c4r.doc_id = repr.doc_id""".stripMargin

  /** quality_report oracle: the ensemble CTE aggregated to the
    * per-gate kill funnel. */
  private def qualityReportOracleSql: String =
    s"""WITH ens AS ($qualityEnsembleOracleSql)
       |SELECT count(*) AS n_docs,
       |       CAST(sum(CASE WHEN NOT c4_keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS killed_c4,
       |       CAST(sum(CASE WHEN NOT clf_keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS killed_classifier,
       |       CAST(sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT)
       |         AS killed_repetition,
       |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS survivors,
       |       round(sum(CASE WHEN keep THEN 1 ELSE 0 END)
       |             / CAST(count(*) AS DOUBLE), 4) AS keep_rate
       |FROM ens""".stripMargin
}
