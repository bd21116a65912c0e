package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.functions.Text
import Query.t
import DedupQueries.jaccardCtes

/** SURVEY §2c, sampling and privacy: splits, stratified, mixture,
  * temperature, DSIR and epoch sampling, sharding, and the
  * k-anonymity family. */
object SamplingQueries {

  lazy val all: Seq[Query] = Seq(
    // deterministic 20% content-hash sample (train/val/test splitting
    // that survives task retries — no rand())
    Query("sample_hash", (s, dir) =>
      Curation.hashSplit(t(s, dir, "documents"), col("text"), buckets = 100, takeBuckets = 20)
        .select(col("doc_id"), col("bucket")),
      """SELECT doc_id,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 20"""),

    // LEAKAGE-FREE holdout: the 20% hash split hardened against
    // near-dup leakage — train docs sharing a jaccard≥0.6 cluster
    // with a test doc are quarantined as 'leaked' (a plain hash split
    // trains on near-copies of its own eval set)
    Query("sample_holdout", (s, dir) =>
      Curation.holdoutSplit(t(s, dir, "documents"), "doc_id", "text",
        buckets = 100, testBuckets = 20, k = 3, tau = 0.6),
      // leakage-free holdout: the SAME jaccard-pair + min-label CC CTEs
      // as dedup_clusters label each doc's cluster (singletons default
      // to their own id); test = md5 bucket < 20; train docs in a
      // cluster containing any test doc become 'leaked'
      s"""WITH RECURSIVE $jaccardCtes,
         pairs AS (
           SELECT da, db
           FROM shared JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
           WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
         edges AS (
           SELECT da AS src, db AS dst FROM pairs
           UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
         clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1),
         lab AS (
           SELECT d.doc_id,
                  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 20
                    AS is_test,
                  coalesce(c.cluster_id, d.doc_id) AS cl
           FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node),
         contam AS (SELECT DISTINCT cl FROM lab WHERE is_test)
         SELECT doc_id,
                CASE WHEN is_test THEN 'test'
                     WHEN cl IN (SELECT cl FROM contam) THEN 'leaked'
                     ELSE 'train' END AS split
         FROM lab"""),

    // per-stratum hash sampling: rebalance the corpus by keeping 10%
    // of English, 50% of every other language — stateless filter
    Query("sample_stratified", (s, dir) =>
      Curation.stratifiedHashSample(t(s, dir, "documents"), "lang", col("text"),
          rates = Map("en" -> 0.1), defaultRate = 0.5)
        .select(col("doc_id"), col("lang"), col("bucket")),
      """SELECT doc_id, lang,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000 AS bucket
         FROM documents
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
               < CASE WHEN lang = 'en' THEN 1000 ELSE 5000 END"""),

    // per-source quota: at most 20 docs per source, chosen by
    // deterministic hash order — the per-domain cap of a web corpus
    Query("sample_domain_cap", (s, dir) =>
      Curation.stratumCap(t(s, dir, "documents"), "source", "doc_id", maxPerStratum = 20)
        .select(col("doc_id"), col("source"), col("cap_rank").cast("int").as("cap_rank")),
      """SELECT doc_id, source, CAST(rn AS INTEGER) AS cap_rank
         FROM (SELECT doc_id, source, row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents)
         WHERE rn <= 20"""),

    // mixture resampling: pull en down to a 25% share and de toward
    // 35%, leave unmapped languages at a flat 60% keep rate
    Query("sample_mixture", (s, dir) =>
      Curation.mixtureSample(t(s, dir, "documents"), "lang", col("n_chars"),
          col("text"), targetShares = Map("en" -> 0.25, "de" -> 0.35),
          defaultRate = 0.6)
        .select(col("doc_id"), col("lang")),
      """WITH w AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt
                    FROM documents GROUP BY 1),
         g AS (SELECT sum(wt) AS wtot FROM w),
         r AS (SELECT lang,
                 CASE WHEN lang IN ('en', 'de')
                      THEN least(1.0,
                        (CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.35 END
                         * wtot) / wt)
                      ELSE 0.6 END AS rate
               FROM w CROSS JOIN g)
         SELECT doc_id, d.lang AS lang
         FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
               < rate * 10000"""),

    // token-budget planner (r11): per-language available vs target
    // tokens under a 100k budget with a 4-epoch repetition ceiling —
    // one map-side-combined aggregate, shares as literal CASE
    Query("sample_token_budget", (s, dir) =>
      Curation.tokenBudget(t(s, dir, "documents"), "lang",
        Text.tokens(col("text")),
        shares = Map("en" -> 0.3, "de" -> 0.2, "es" -> 0.2,
          "fr" -> 0.2, "zh" -> 0.1),
        totalBudget = 100000L, maxEpochs = 4.0),
      // token-budget planner: share enters as DOUBLE before any
      // arithmetic so every multiply/divide replays the engine's IEEE
      // ops; sum(len()) cast to BIGINT (HUGEINT guard)
      """WITH a AS (SELECT lang AS "group", count(*) AS n_docs,
                    CAST(sum(len(string_split_regex(trim(text), '\s+')))
                         AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
         s AS (SELECT "group", n_docs, n_tokens,
                      CAST(CASE "group" WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.2
                                        WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2
                                        WHEN 'zh' THEN 0.1 ELSE 0.0 END
                           AS DOUBLE) AS share
               FROM a),
         x AS (SELECT *, CAST(floor(share * 100000) AS BIGINT) AS target_tokens
               FROM s),
         y AS (SELECT *, CAST(target_tokens AS DOUBLE) / n_tokens AS need
               FROM x),
         z AS (SELECT *,
                      CAST(floor(least(need, 4.0) * n_tokens) AS BIGINT)
                        AS alloc_tokens
               FROM y)
         SELECT "group", n_docs, n_tokens, share, target_tokens,
                round(least(need, 4.0), 4) AS epochs, alloc_tokens,
                CASE WHEN target_tokens > 0
                     THEN round(CAST(alloc_tokens AS DOUBLE) / target_tokens, 4)
                     ELSE 1.0 END AS fill_ratio
         FROM z"""),

    // temperature-scaled mixture (alpha=0.5): output language shares
    // follow w^alpha normalization — low-resource languages
    // up-weighted, no stratum up-sampled, retention maximal
    Query("sample_temperature", (s, dir) =>
      Curation.temperatureSample(t(s, dir, "documents"), "lang",
          col("n_chars"), col("text"), alpha = 0.5)
        .select(col("doc_id"), col("lang")),
      // arithmetic mirrored step-by-step (pow, share normalization,
      // K = min(w/q), rate = K*q/w left-assoc) so rates agree to the
      // ulp; zero-weight strata excluded from the normalization and
      // given rate 0 — mirroring the operator's explicit handling (a
      // 0/0 NaN here would slip through least() as rate 1.0)
      """WITH w AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt
                    FROM documents GROUP BY 1),
         p AS (SELECT lang, wt FROM w WHERE wt > 0),
         s AS (SELECT sum(pow(wt, CAST(0.5 AS DOUBLE))) AS tot FROM p),
         q AS (SELECT lang, wt, pow(wt, CAST(0.5 AS DOUBLE)) / tot AS qs
               FROM p CROSS JOIN s),
         k AS (SELECT min(wt / qs) AS kk FROM q),
         pr AS (SELECT lang, least(1.0, kk * qs / wt) AS rate
                FROM q CROSS JOIN k),
         r AS (SELECT w.lang, coalesce(pr.rate, 0.0) AS rate
               FROM w LEFT JOIN pr ON w.lang = pr.lang)
         SELECT doc_id, d.lang AS lang
         FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000
               < rate * 10000"""),

    // DSIR importance weights (Xie et al. 2023): per-doc hashed-bag
    // log likelihood ratio of the en target slice vs the raw corpus
    // over 32 poly-31 unigram buckets — the data-selection scorer;
    // model state is 32 log-ratios, corpus scanned twice, no shuffle
    Query("sample_dsir", (s, dir) =>
      Curation.dsirWeights(t(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en", nBuckets = dsirBuckets),
      dsirOracleSql),

    // the DSIR draw: Gumbel-top-100 ∝ exp(logweight) with
    // deterministic hash-derived noise (retry/speculation-safe),
    // selection a distributed TakeOrdered — never a global sort
    Query("sample_dsir_select", (s, dir) =>
      Curation.dsirSelect(t(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en", nBuckets = dsirBuckets, k = 100),
      dsirSelectOracleSql),

    // data-recipe repeat factors (epochs): src0 pushed past the 4.0
    // clamp, src1 up-sampled ~3.5x, src2 slightly down-sampled,
    // everything else held at 1 epoch — budget is a factor of total
    // corpus tokens, so the recipe is scale-invariant
    Query("sample_epochs", (s, dir) =>
      Curation.epochsSample(t(s, dir, "documents"), "source", "doc_id",
        Text.tokenCount(col("text")), epochShares,
        budgetFactor = 1.0, maxEpochs = 4.0),
      epochsOracleSql),

    // k-anonymity suppression over the (lang, source) quasi-identifier
    // pair: rows in combinations seen < 25 times are dropped
    Query("privacy_kanon", (s, dir) =>
      Curation.kAnonymize(t(s, dir, "documents"), Seq("lang", "source"), k = 25)
        .select(col("doc_id"), col("lang"), col("source")),
      // null-safe key compare mirrors the operator: a NULL combination
      // seen >= k times is an anonymous crowd and stays
      """SELECT doc_id, d.lang AS lang, d.source AS source
         FROM documents d
         JOIN (SELECT lang, source FROM documents
               GROUP BY 1, 2 HAVING count(*) >= 25) g
         ON d.lang IS NOT DISTINCT FROM g.lang
        AND d.source IS NOT DISTINCT FROM g.source"""),

    // l-diversity (r10): the homogeneity-attack guard k-anonymity
    // lacks — quasi-groups (source, size bucket) keep only if they
    // carry >= 3 distinct langs (the sensitive column here); the
    // gate suppresses a quarter of the corpus, so the arithmetic is
    // live, not vacuous
    Query("privacy_ldiv", (s, dir) =>
      Curation.lDiversify(
        t(s, dir, "documents").withColumn("size_bucket",
          floor(col("n_chars") / lit(100.0)).cast("long")),
        Seq("source", "size_bucket"), "lang", l = 3)
        .select(col("doc_id"), col("source"), col("size_bucket"),
          col("lang")),
      // l-diversity: qualifying quasi-groups by DISTINCT sensitive
      // count (count(DISTINCT) skips NULLs in both engines), broadcast
      // membership back — the kanon shape with a diversity HAVING
      """WITH d AS (SELECT doc_id, source,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS size_bucket, lang
         FROM documents),
         g AS (SELECT source, size_bucket FROM d
               GROUP BY 1, 2 HAVING count(DISTINCT lang) >= 3)
         SELECT doc_id, d.source AS source, d.size_bucket AS size_bucket,
                lang
         FROM d JOIN g ON d.source IS NOT DISTINCT FROM g.source
                      AND d.size_bucket IS NOT DISTINCT FROM g.size_bucket"""),

    // t-closeness (r11): the skewness-attack guard — quasi-groups
    // whose lang distribution drifts more than TV = 1/4 from the
    // corpus distribution are suppressed; the gate is exact integer
    // arithmetic (no float threshold), the reported tv is display-
    // rounded. Live at both SFs (suppresses ~75% / ~1% of rows)
    Query("privacy_tclose", (s, dir) =>
      Curation.tCloseness(
        t(s, dir, "documents").withColumn("size_bucket",
          floor(col("n_chars") / lit(100.0)).cast("long")),
        Seq("source", "size_bucket"), "lang", tNum = 1, tDen = 4)
        .select(col("doc_id"), col("source"), col("size_bucket"),
          col("lang"), col("tv")),
      // t-closeness: total-variation distance of each quasi-group's
      // lang distribution from the corpus distribution, gated by the
      // exact rational inequality tDen·num ≤ 2·tNum·g·n (num = the
      // present-value |gc·n − cv·g| terms + missing-mass·g) — integer
      // compares only; tv rounds at the display edge
      """WITH d AS (SELECT doc_id, source,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS size_bucket, lang
         FROM documents),
         nn AS (SELECT * FROM d WHERE lang IS NOT NULL),
         ct AS (SELECT count(*) AS n FROM nn),
         vals AS (SELECT lang, count(*) AS cv FROM nn GROUP BY 1),
         gv AS (SELECT source, size_bucket, lang, count(*) AS gc
                FROM nn GROUP BY 1, 2, 3),
         gn AS (SELECT source, size_bucket, sum(gc) AS g FROM gv GROUP BY 1, 2),
         terms AS (SELECT gv.source, gv.size_bucket,
                          abs(gv.gc * ct.n - vals.cv * gn.g) AS nm,
                          vals.cv AS cv, gn.g AS g, ct.n AS n
                   FROM gv
                   JOIN vals ON gv.lang IS NOT DISTINCT FROM vals.lang
                   JOIN gn ON gv.source IS NOT DISTINCT FROM gn.source
                          AND gv.size_bucket IS NOT DISTINCT FROM gn.size_bucket
                   CROSS JOIN ct),
         grp AS (SELECT source, size_bucket,
                        sum(nm) + (max(n) - sum(cv)) * max(g) AS num,
                        max(g) AS g, max(n) AS n
                 FROM terms GROUP BY 1, 2),
         keep AS (SELECT source, size_bucket,
                         round(num / (2.0 * g * n), 6) AS tv
                  FROM grp WHERE 4 * num <= 2 * 1 * g * n)
         SELECT d.doc_id, d.source AS source, d.size_bucket AS size_bucket,
                d.lang, keep.tv
         FROM d JOIN keep ON d.source IS NOT DISTINCT FROM keep.source
                         AND d.size_bucket IS NOT DISTINCT FROM keep.size_bucket"""),

    // deterministic shard assignment + within-shard pseudo-random
    // order — the training-corpus "global shuffle" without a global sort
    Query("sample_shards", (s, dir) =>
      Curation.shardAssign(t(s, dir, "documents"), "doc_id", col("text"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos")),
      """SELECT doc_id,
                CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8 AS shard,
                CAST(row_number() OVER (
                  PARTITION BY CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS pos
         FROM documents"""),

    // shard BALANCE readout: per-shard doc/token loads plus each
    // shard's share of corpus tokens — the skew monitor a sharded
    // training-data writer runs before shipping (hash sharding keeps
    // shares near 1/n; a hot shard means a content-hash pathology)
    Query("sample_shards_eval", (s, dir) => {
      val sharded = Curation.shardAssign(t(s, dir, "documents"),
        "doc_id", col("text"), nShards = 8)
      val perShard = sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
      perShard
        .crossJoin(broadcast(perShard.agg(
          sum(col("n_tokens")).as("__tot"))))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens") / col("__tot").cast("double"), 4)
            .as("token_share"))
    },
      """WITH s AS (
           SELECT CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8 AS shard,
                  len(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         p AS (SELECT shard, count(*) AS n_docs,
                      CAST(sum(tok) AS BIGINT) AS n_tokens
               FROM s GROUP BY 1),
         t AS (SELECT sum(n_tokens) AS tot FROM p)
         SELECT shard, n_docs, n_tokens,
                round(n_tokens / CAST(tot AS DOUBLE), 4) AS token_share
         FROM p CROSS JOIN t""")
  )

  /** DSIR gate width (power of two for the same signed-& reason);
    * production DSIR uses 10k+ buckets via the sparse twin. */
  private val dsirBuckets = 32

  /** sample_epochs target shares — chosen so the gate exercises all
    * three regimes: clamp (src0: raw epochs ≈ 5.7), genuine
    * up-sampling (src1 ≈ 3.5×), slight down-sampling (src2 ≈ 0.97). */
  private[queries] val epochShares = Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.05)

  /** sample_dsir CTE chain, shared with the select oracle: poly-31
    * token buckets, add-one-smoothed bucket log-ratios (a bucket
    * absent from the corpus coalesces to 0 — its per-doc count is 0
    * everywhere, so the value is never weighted), and the per-doc
    * fixed-order chained dot that mirrors the Scala `reduce(_ + _)`
    * association tree term for term. */
  private def dsirCtes: String = {
    val B = dsirBuckets
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(string_split(tok, ''), c -> ord(c)::HUGEINT)), " +
      "(a, b2) -> (a * 31 + b2) % 18446744073709551616::HUGEINT)"
    val lrCols = (0 until B).map(b =>
      s"coalesce(max(CASE WHEN b = $b THEN lr END), 0) AS lr$b")
      .mkString(", ")
    val dot = (0 until B).map(b =>
      s"len(list_filter(hb, h -> h = $b)) * l.lr$b").mkString(" + ")
    s"""WITH t0 AS (
       |  SELECT doc_id, (lang = 'en') AS tgt,
       |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, tgt,
       |         list_transform(ts, tok -> CAST($poly % $B AS INTEGER)) AS hb
       |  FROM t0 WHERE len(ts) >= 1),
       |bc AS (
       |  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, count(*) AS cr
       |  FROM (SELECT tgt, unnest(hb) AS b FROM db) GROUP BY 1),
       |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
       |lr AS (
       |  SELECT b, ln((ct + 1) / CAST(nt + $B AS DOUBLE))
       |           - ln((cr + 1) / CAST(nr + $B AS DOUBLE)) AS lr
       |  FROM bc CROSS JOIN tot),
       |lrrow AS (SELECT $lrCols FROM lr),
       |wts AS (
       |  SELECT doc_id, round($dot, 6) AS dsir_logweight
       |  FROM db CROSS JOIN lrrow l)""".stripMargin
  }

  private def dsirOracleSql: String =
    s"""$dsirCtes
       |SELECT doc_id, dsir_logweight FROM wts""".stripMargin

  /** sample_dsir_select oracle: the same weights plus the
    * deterministic Gumbel key — md5 bucket of 'dsir:'||id (the
    * hashBucket holdout convention; avalanched so u is uniform),
    * u ∈ (0,1), g = −ln(−ln u) — then ORDER BY key DESC, id LIMIT k
    * (the TakeOrdered the plan runs). */
  private def dsirSelectOracleSql: String = {
    val mdId = "CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT) % 1048576"
    s"""$dsirCtes,
       |sel AS (
       |  SELECT doc_id, dsir_logweight,
       |         round(dsir_logweight - ln(-ln(
       |           (CAST($mdId AS DOUBLE) + 0.5) / 1048576.0)), 6)
       |           AS dsir_key
       |  FROM wts)
       |SELECT doc_id, dsir_logweight, dsir_key
       |FROM sel ORDER BY dsir_key DESC, doc_id LIMIT 100""".stripMargin
  }

  /** sample_epochs oracle: stratum/total token sums (integral,
    * order-free), the share CASE, the clamped epochs expression in
    * the plan's association order, and the per-doc hash draw u <
    * frac(epochs) replayed with the md5 'epoch:'||id bucket. */
  private def epochsOracleSql: String = {
    val shareCase = epochShares.toSeq.sortBy(_._1)
      .map { case (s, v) => s"WHEN source = '$s' THEN CAST($v AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE NULL END")
    val polyId = "CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT)"
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS tok
       |  FROM documents),
       |av AS (SELECT source, sum(tok) AS avail FROM b GROUP BY 1),
       |tt AS (SELECT sum(tok) AS tot FROM b),
       |e AS (
       |  SELECT b.doc_id, b.source,
       |         CASE WHEN ($shareCase) IS NOT NULL
       |              THEN least(($shareCase) * 1.0 * tot / avail, 4.0)
       |              ELSE 1.0 END AS epochs,
       |         (CAST($polyId % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
       |  FROM b LEFT JOIN av USING (source) CROSS JOIN tt)
       |SELECT doc_id, source, round(epochs, 6) AS epochs,
       |       CAST(floor(epochs) +
       |            (CASE WHEN u < epochs - floor(epochs) THEN 1 ELSE 0 END)
       |            AS INTEGER) AS n_copies
       |FROM e""".stripMargin
  }
}
