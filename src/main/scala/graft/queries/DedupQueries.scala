package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Clusters, Curation, Dedup}
import Query.t

/** SURVEY §2c, dedup and decontamination: exact, n-gram Jaccard,
  * MinHash, SimHash, CDC, substring and URL dedup, the cluster
  * queries, and the benchmark-contamination probes. */
object DedupQueries {

  lazy val all: Seq[Query] = Seq(
    Query("dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1"""),

    Query("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.6),
      s"""WITH $jaccardCtes
         SELECT da AS doc_a, db AS doc_b,
                round(c / (za.n + zb.n - c), 4) AS jaccard
         FROM shared
         JOIN sz za ON da = za.doc_id
         JOIN sz zb ON db = zb.doc_id
         WHERE round(c / (za.n + zb.n - c), 4) >= 0.6"""),

    // directed containment (r10): |S_in intersect S_out| / |S_in| >= 0.8
    // catches NESTED duplication (a doc quoted whole inside a longer
    // one) that symmetric Jaccard under-scores by construction; both
    // directions derive from the same shared-count row, zero extra
    // shuffles over the Jaccard operator
    Query("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, tauC = 0.8),
      // directed containment: both orientations off the SAME a<b
      // shared-count CTE, each normalized by its inner side's pruned
      // shingle-set size — the Jaccard CTE chain reused verbatim
      s"""WITH $jaccardCtes,
         cb AS (SELECT da, db, c, za.n AS na, zb.n AS nb
                FROM shared
                JOIN sz za ON da = za.doc_id
                JOIN sz zb ON db = zb.doc_id)
         SELECT da AS doc_inner, db AS doc_outer,
                round(c / na, 4) AS containment
         FROM cb WHERE round(c / na, 4) >= 0.8
         UNION ALL
         SELECT db AS doc_inner, da AS doc_outer,
                round(c / nb, 4) AS containment
         FROM cb WHERE round(c / nb, 4) >= 0.8"""),

    // content-defined chunking (r11): Rabin-style boundaries at word
    // granularity (window w=4, expected chunk ≈ 8 words) — chunk
    // hashes survive the prefix/infix edits that shift every
    // fixed-stride window; no self-join, the groupBy on the 8-byte
    // chunk hash IS the candidate structure
    Query("dedup_cdc", (s, dir) =>
      Dedup.cdcDuplicateChunks(t(s, dir, "documents"), "doc_id", "text",
        w = 4, modD = 8, minLen = 4),
      // content-defined chunking: the full word-hash → window-fold →
      // boundary → per-chunk fold pipeline replayed in HUGEINT mod-2^64
      // arithmetic; signed CAST at the output edge (the rolling_fp
      // convention)
      s"""WITH $cdcCtes
         SELECT CAST(CASE WHEN ch >= 9223372036854775808::HUGEINT
                          THEN ch - 18446744073709551616::HUGEINT
                          ELSE ch END AS BIGINT) AS chunk_hash,
                count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_occ,
                min(doc_id) AS min_doc
         FROM cdc_chunks WHERE len >= 4
         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2"""),

    // the doc-level CDC duplication profile: fraction of each doc
    // made of cross-document chunks — the thresholdable gate
    Query("dedup_cdc_docs", (s, dir) =>
      Dedup.cdcDocStats(t(s, dir, "documents"), "doc_id", "text",
        w = 4, modD = 8, minLen = 4),
      s"""WITH $cdcCtes,
         cdc_dup AS (SELECT ch FROM cdc_chunks WHERE len >= 4
                     GROUP BY ch HAVING count(DISTINCT doc_id) >= 2)
         SELECT c.doc_id,
                count(*) AS n_chunks,
                CAST(sum(CASE WHEN c.len >= 4 AND d.ch IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                round(CAST(sum(CASE WHEN c.len >= 4 AND d.ch IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
                      / count(*), 4) AS dup_ratio
         FROM cdc_chunks c LEFT JOIN cdc_dup d ON c.ch = d.ch
         GROUP BY 1"""),

    // incremental CDC: a 10% "incoming batch" probed against the
    // standing chunk index of the remaining 90% corpus — only the
    // batch is chunked, its hashes broadcast; the edit-robust twin of
    // dedup_incremental at passage granularity
    Query("dedup_cdc_inc", (s, dir) => {
      val d = t(s, dir, "documents")
      val ix = graft.operators.CdcIndex.cdcIndexBuild(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3), "doc_id", "text",
        w = 4, modD = 8, minLen = 4)
      val out = graft.operators.CdcIndex.cdcProbeFromIndex(ix,
        d.filter(pmod(col("doc_id"), lit(10)) === 3), "doc_id", "text")
      ix.release()
      out
    },
      // incremental CDC: batch chunks vs the DISTINCT corpus chunk-hash
      // set (the standing index's probe view), denominators over ALL
      // batch chunks (the cdcDocStats convention)
      s"""WITH $cdcCtes,
         cdc_corpus AS (SELECT DISTINCT ch FROM cdc_chunks
                        WHERE doc_id % 10 <> 3 AND len >= 4),
         cdc_batch AS (SELECT * FROM cdc_chunks WHERE doc_id % 10 = 3),
         cdc_shared AS (SELECT b.doc_id, count(*) AS n_shared
                        FROM cdc_batch b JOIN cdc_corpus c ON b.ch = c.ch
                        WHERE b.len >= 4 GROUP BY 1)
         SELECT t.doc_id, t.n_chunks,
                CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
                round(CAST(COALESCE(s.n_shared, 0) AS BIGINT)
                      / t.n_chunks, 4) AS shared_ratio
         FROM (SELECT doc_id, count(*) AS n_chunks FROM cdc_batch GROUP BY 1) t
         LEFT JOIN cdc_shared s ON t.doc_id = s.doc_id"""),

    // 64 perms / 16 bands (r=4): candidate recall at j=0.7 is
    // 1-(1-0.7^4)^16 ≈ 0.99 at half the signature cost of 128 perms
    Query("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, perms = 64, bands = 16, tau = 0.5),
      minhashOracleSql),

    Query("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3),
      simhashOracleSql),

    // incremental exact dedup: a 10% "incoming batch" probed against
    // the remaining 90% corpus — batch hashes broadcast, corpus
    // scanned but never shuffled; dup_of = lowest matching corpus id
    Query("dedup_incremental", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.exactIncremental(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3),
        d.filter(pmod(col("doc_id"), lit(10)) === 3),
        "doc_id", "text")
    },
      """WITH b AS (SELECT doc_id, md5(text) AS h
                    FROM documents WHERE doc_id % 10 = 3),
         c AS (SELECT md5(text) AS h, min(doc_id) AS dup_of
               FROM documents WHERE doc_id % 10 <> 3 GROUP BY 1)
         SELECT b.doc_id, c.dup_of FROM b LEFT JOIN c USING (h)"""),

    // incremental MinHash-LSH: the same batch/corpus split probed
    // through the banded index (batch bands broadcast); same sig
    // pipeline as dedup_minhash_lsh, pair sides corpus × batch
    Query("dedup_minhash_inc", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashLshIncremental(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3),
        d.filter(pmod(col("doc_id"), lit(10)) === 3),
        "doc_id", "text", k = 3, perms = 64, bands = 16, tau = 0.5)
    },
      minhashIncOracleSql),

    // dedup-index-quality monitoring (the dedup-side ann_recall):
    // exact 3-gram Jaccard ≥ 0.6 pairs are ground truth, the
    // registered minhash-LSH pipeline the candidates — corpus-level
    // integer counts, so the gate is exact even though the index is
    // probabilistic. n_hit/n_true = pair recall.
    Query("dedup_recall", (s, dir) => {
      val d = t(s, dir, "documents")
      // BOTH pipelines start from the identical k=3 shingle stream —
      // build the inverted index once, persist it, feed exact-Jaccard
      // truth AND the MinHash candidates from the cache (r20, guide
      // §1.2: the standalone operators each paid their own
      // scan+shingle pass; outputs are expression-identical, so the
      // declared results don't change). Both FromIndex forms return
      // filled boundaries, so the corpus-sized index is releasable
      // here and the final agg runs over the small cached pair frames.
      val cap = Dedup.autoCap(d)
      val sh = Boundary.stage(Dedup.shingleIndexOf(d, "doc_id", "text", k = 3))
      // NOTE (r20): submitting the two pipelines from two driver
      // threads (guide §2.6 back-fill) was A/B'd and measured WORSE —
      // 2.65-3.47 s wall / 4.9-7.3 s Σ executor run vs 2.40-2.47 s /
      // 3.4-3.9 s sequential over 7 quiet reps: at this SF each
      // pipeline's stages already fill all 32 cores, so concurrency
      // only adds scheduler/deserialize contention. Kept sequential.
      val truth = Dedup.ngramJaccardPairsFromIndex(sh, cap, tau = 0.6)
        .select("doc_a", "doc_b")
      val cand = Dedup.minhashLshPairsFromShingles(sh,
          perms = 64, bands = 16, tau = 0.5)
        .select("doc_a", "doc_b")
      Boundary.release(sh)
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      // ONE aggregate over a tagged union of the three (cached/
      // derived) pair sets, not three crossJoined 1-row aggregates
      // (r20, the CuratePipeline report finding): the crossJoin form
      // paid two BroadcastNestedLoopJoins plus a sequential AQE
      // micro-stage chain per term. count(when(tag)) ≡ per-source
      // count(*); values and schema unchanged.
      Seq(truth.select(lit("t").as("__t")), cand.select(lit("c").as("__t")),
          hit.select(lit("h").as("__t")))
        .reduce(_ unionByName _)
        .agg(count(when(col("__t") === "t", 1)).as("n_true"),
          count(when(col("__t") === "c", 1)).as("n_candidates"),
          count(when(col("__t") === "h", 1)).as("n_hit"))
    },
      dedupRecallOracleSql),

    // fuzzy near-dup by edit distance: prefix+length blocking (equi-
    // join, never n²), exact levenshtein verify on block-local pairs.
    // lenBucket = maxDist: edit distance bounds the length gap by
    // maxDist, so every within-threshold pair lands in the same or
    // adjacent bucket and the adjacent-bucket probe guarantees
    // recall. maxDist 32 (r4, was 64): bucket = maxDist means the
    // threshold ALSO sets block width — 64 doubled occupancy (pair
    // work ∝ |block|²) and the per-pair banded-DP cost for a looser
    // bound than ~1 KB near-dups need. maxBlock stays the explicit
    // gate constant the oracle mirrors (bs <= 1000); production
    // callers omit it and get the stats-derived autoCap default
    Query("dedup_edit", (s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 32, lenBucket = 32, maxBlock = Dedup.CapPolicy.Fixed(1000)),
      // the count(*) OVER block-size filter mirrors the operator's
      // maxBlock=1000 hot-block guard, so the two engines agree even at
      // a scale (or on a boilerplate-heavy corpus) where the guard fires
      """WITH d AS (
           SELECT doc_id, text,
                  CAST(floor(length(text) / 32.0) AS BIGINT) AS lb,
                  substr(text, 1, 4) AS p
           FROM documents),
         sized AS (
           SELECT *, count(*) OVER (PARTITION BY lb, p) AS bs FROM d),
         keep AS (SELECT doc_id, text, lb, p FROM sized WHERE bs <= 1000),
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.text AS ta, b.text AS tb
           FROM keep a JOIN keep b
             ON a.lb = b.lb AND a.p = b.p AND a.doc_id < b.doc_id
           UNION ALL
           SELECT least(a.doc_id, b.doc_id),
                  greatest(a.doc_id, b.doc_id),
                  CASE WHEN a.doc_id < b.doc_id THEN a.text ELSE b.text END,
                  CASE WHEN a.doc_id < b.doc_id THEN b.text ELSE a.text END
           FROM keep a JOIN keep b
             ON a.lb + 1 = b.lb AND a.p = b.p)
         SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS INTEGER) AS lev
         FROM cand
         WHERE levenshtein(ta, tb) <= 32"""),

    // pairwise near-dup output → dedup decisions: connected components
    // by min-label propagation; cluster_id = min doc id of the cluster
    Query("dedup_clusters", (s, dir) =>
      Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.6),
          "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster_id")),
      // connected components over the SAME pair set as dedup_ngram_jaccard:
      // min reachable id per node via a recursive min-label CTE
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
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1"""),

    // INCREMENTAL connected components: the standing cluster state a
    // continuous-ingestion dedup keeps. Old labeling = CC over the
    // pairs internal to the standing corpus; new edges (any pair
    // touching a new doc) merge through the frontier-sized QUOTIENT
    // graph (labels as nodes) and a single remap join — never a full
    // recompute. r16 (verdict item 3): the standing state (labeling +
    // batch edges) is built ONCE per (session, dir) via
    // [[clustersIncStanding]] — in production both exist before the
    // fold, so the timed query is the OPERATOR (quotient CC + one
    // remap join), not the corpus pair derivation + from-scratch CC
    // the old entry re-ran per invocation. The oracle is UNCHANGED:
    // from-scratch recursive CC over ALL pairs in DuckDB, so every
    // gated run still proves incremental ≡ recompute on the emitted
    // labeling (old∪new = all pairs by construction).
    Query("dedup_clusters_inc", (s, dir) => {
      val (labels, newEdges) = clustersIncStanding(s, dir)
      Clusters.incrementalComponents(labels, newEdges, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster_id"))
    },
      // incremental CC's gate: the Spark side folds CC(old-internal
      // pairs) + pairs-touching-new through the quotient graph; since
      // those two arms partition the FULL pair set, the oracle is the
      // from-scratch recursive CC over all pairs (identical to
      // dedup_clusters' derivation) — hash equality proves
      // incremental ≡ recompute without replaying the pair build twice
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
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1"""),

    // substring-level dedup: maximal duplicated 20-token spans across
    // docs (passage granularity whole-doc near-dup can't see)
    Query("dedup_substring", (s, dir) =>
      Dedup.substringDupSpans(t(s, dir, "documents"), "doc_id", "text", k = 20),
      // duplicated-window spans via string windows (≡ positional window
      // hashes absent collisions — same convention as dedup_ngram_jaccard);
      // islands of consecutive duplicated positions merge via the
      // pos − row_number trick in both engines
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         w AS (
           SELECT doc_id, CAST(i AS INTEGER) AS pos,
                  array_to_string(t[i:i+19], ' ') AS s
           FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)),
         cap AS (SELECT greatest(50, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM documents),
         d AS (
           SELECT s, count(DISTINCT doc_id) AS n_docs
           FROM w CROSS JOIN cap GROUP BY s, c
           HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= c),
         hits AS (
           SELECT w.doc_id, w.pos, d.n_docs FROM w JOIN d USING (s)),
         g AS (
           SELECT doc_id, pos, n_docs,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM hits)
         SELECT doc_id,
                CAST(min(pos) AS INTEGER) AS span_start,
                CAST(max(pos) + 19 AS INTEGER) AS span_end,
                count(*) AS n_windows,
                CAST(max(n_docs) AS BIGINT) AS max_n_docs
         FROM g GROUP BY doc_id, grp"""),

    // the REMOVAL transform over the same spans: duplicated passages
    // dropped everywhere but their first-occurrence (min doc_id)
    // document — one surviving copy per passage corpus-wide
    Query("dedup_substring_remove", (s, dir) =>
      Dedup.substringDupRemove(t(s, dir, "documents"), "doc_id", "text", k = 20),
      // the removal twin: same window/cap derivation as dedup_substring,
      // plus the representative (min doc per window string), victim
      // token positions exploded per covered window, and the per-doc
      // rebuild as an ordered string_agg over surviving positions
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         tok AS (
           SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i] AS tokn
           FROM toks, unnest(generate_series(1, len(t))) AS u(i)
           WHERE t[i] <> ''),
         w AS (
           SELECT doc_id, CAST(i AS INTEGER) AS pos,
                  array_to_string(t[i:i+19], ' ') AS s
           FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)),
         cap AS (SELECT greatest(50, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM documents),
         d AS (
           SELECT s, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS rep_doc
           FROM w CROSS JOIN cap GROUP BY s, c
           HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= c),
         victims AS (
           SELECT DISTINCT w.doc_id, CAST(tp.p AS INTEGER) AS pos
           FROM w JOIN d USING (s),
                unnest(generate_series(w.pos, w.pos + 19)) AS tp(p)
           WHERE w.doc_id <> d.rep_doc),
         kept AS (
           SELECT t.doc_id, t.pos, t.tokn
           FROM tok t LEFT JOIN victims v ON t.doc_id = v.doc_id AND t.pos = v.pos
           WHERE v.pos IS NULL),
         agg AS (
           SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS clean_text,
                  count(*) AS n_kept
           FROM kept GROUP BY doc_id),
         cnt AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(a.clean_text, '') AS clean_text,
                CAST(coalesce(c.n_tok, 0) - coalesce(a.n_kept, 0) AS BIGINT)
                  AS n_removed
         FROM documents b
         LEFT JOIN cnt c USING (doc_id)
         LEFT JOIN agg a USING (doc_id)"""),

    // the dedup pipeline's end product: the corpus with every
    // non-representative cluster member removed (keep the min-id doc
    // per near-dup cluster, keep all singletons)
    Query("dedup_keep", (s, dir) => {
      val docs = t(s, dir, "documents")
      val drop = Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.6),
          "doc_a", "doc_b")
        .filter(col("node") =!= col("cluster_id"))
      docs.join(drop, docs("doc_id") === drop("node"), "left_anti")
        .select("doc_id")
    },
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
         clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)"""),

    // URL canonicalization dedup, oracle-gated end-to-end by the
    // synthesize-parse round trip (the xml_roundtrip pattern): build a
    // messy URL per order (case-jittered host, default port, tracking
    // params, trailing-slash jitter, fragment), canonicalize, group —
    // the oracle derives the expected canonical DIRECTLY from the base
    // columns, so any canonicalization defect hash-mismatches
    Query("dedup_url", (s, dir) => {
      import graft.functions.Urls
      val even = col("o_orderkey") % 2 === 0
      val url = concat(
        when(even, lit("HTTPS://WWW.Shop")).otherwise(lit("https://www.shop")),
        (col("o_custkey") % 5).cast("string"),
        when(even, lit(".COM:443")).otherwise(lit(".com")),
        lit("/cat/"), lower(col("o_orderpriority")), lit("/"),
        (col("o_orderkey") % 200).cast("string"),
        when(col("o_orderkey") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&z=9&a="), (col("o_orderkey") % 7).cast("string"),
        lit("#sec"), col("o_orderkey").cast("string"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), Urls.canonicalize(url).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count("*").as("n_dups"), min(col("o_orderkey")).as("min_key"))
    },
      """WITH c AS (
           SELECT o_orderkey,
                  'https://www.shop' || CAST(o_custkey % 5 AS VARCHAR) ||
                  '.com/cat/' || lower(o_orderpriority) || '/' ||
                  CAST(o_orderkey % 200 AS VARCHAR) ||
                  '?a=' || CAST(o_orderkey % 7 AS VARCHAR) || '&z=9'
                    AS canonical_url
           FROM orders)
         SELECT canonical_url, count(*) AS n_dups, min(o_orderkey) AS min_key
         FROM c GROUP BY 1"""),

    // semantic decontamination: corpus embeddings probed against a
    // broadcast eval set (vec_id < 8 plays the benchmark) — the
    // paraphrase leakage n-gram/Bloom decon can't see
    Query("decon_embedding", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Curation.contaminationFlagsEmbedding(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", tau = 0.4)
    },
      """WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
         ev AS (SELECT embedding AS e FROM embeddings WHERE vec_id < 8),
         hits AS (SELECT DISTINCT c.vec_id
                  FROM c CROSS JOIN ev
                  WHERE list_cosine_similarity(c.embedding, ev.e) >= 0.4)
         SELECT c.vec_id, (h.vec_id IS NOT NULL) AS flagged
         FROM c LEFT JOIN hits h ON c.vec_id = h.vec_id"""),

    // benchmark decontamination: docs from sources src0/src1 act as the
    // held-out eval set; corpus docs sharing any word-5-gram are flagged
    Query("decon_ngram", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      Curation.contaminationFlags(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", k = 5)
    },
      // word-5-gram overlap between the corpus and the src0/src1 "eval"
      // docs; distinct STRING 5-grams here ≡ distinct shingle hashes in
      // the Spark plan (collision-free at these scales, same convention
      // as dedup_ngram_jaccard)
      deconNgramOracleSql),

    // the STANDING decon index's exact probe, driver-gated against
    // the SAME oracle as decon_ngram — the stored-tables path must
    // flag identically to the one-shot operator (the probe is a
    // filled leaf, so the index is released before returning)
    Query("decon_index_probe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      val ix = graft.operators.DeconIndex.deconIndexBuild(
        docs.filter(isBench), "doc_id", "text", n = 5)
      val out = graft.operators.DeconIndex.deconProbeFromIndex(
        ix, docs.filter(!isBench), "doc_id", "text")
      ix.release()
      out
    },
      // the standing-index probe must flag IDENTICALLY to the one-shot
      // operator — same oracle, verbatim
      deconNgramOracleSql),

    // the INVERSE decon view: per benchmark doc, how much of it
    // leaked (distinct shingles + corpus docs carrying them,
    // zero-leak bench docs kept) — the compromised-eval report an
    // eval owner reads before trusting a score
    Query("decon_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      Curation.contaminationReport(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", k = 5)
    },
      // the same shingle universes aggregated per BENCH doc, zero-leak
      // docs kept via the LEFT JOIN
      """WITH toks AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
           FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         bench AS (SELECT s, doc_id FROM sh WHERE source IN ('src0', 'src1')),
         corpus AS (SELECT doc_id, s FROM sh WHERE source NOT IN ('src0', 'src1')),
         hits AS (
           SELECT b.doc_id AS bench_id,
                  count(DISTINCT b.s) AS n_leaked_shingles,
                  count(DISTINCT c.doc_id) AS n_corpus_docs
           FROM bench b JOIN corpus c ON b.s = c.s
           GROUP BY 1),
         u AS (SELECT DISTINCT doc_id AS bench_id FROM bench)
         SELECT u.bench_id,
                coalesce(h.n_leaked_shingles, 0) AS n_leaked_shingles,
                coalesce(h.n_corpus_docs, 0) AS n_corpus_docs
         FROM u LEFT JOIN hits h ON u.bench_id = h.bench_id"""),

    // Bloom-filter decontamination: benchmark compresses to a 512 KB
    // broadcast bit array; every corpus doc probed in-row (native
    // BloomAgg/BloomContainsAny) — the corpus is NEVER shuffled.
    // Oracle reproduces the exact bit pipeline in HUGEINT SQL, so
    // even the false positives must match
    Query("decon_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("source").isin("src0", "src1")
      Curation.contaminationFlagsBloom(
        docs.filter(!isBench), docs.filter(isBench),
        "doc_id", "text", n = 5, numBits = 1 << 22, kHashes = 3)
    },
      bloomOracleSql)
  )

  /** Standing cluster state for dedup_clusters_inc (r16): the
    * labeling a continuous-ingestion dedup KEEPS and the new batch's
    * probe edges — both exist before the fold in production, so the
    * timed entry is the incremental apply only. Built once per
    * (session, dir) — the [[QualityQueries.curatedMemo]] keying convention,
    * identity-keyed with dead-session eviction — and materialized via
    * eager localCheckpoint: lineage-free (no pair-index cache pinned
    * behind the caller's back) and untouched by catalog clearCache.
    * Old labeling = CC over pairs internal to the standing corpus
    * (doc_id % 10 ≠ 3 on both ends); new edges = any pair touching a
    * batch doc. old ∪ new = ALL pairs, which is what keeps the
    * DuckDB from-scratch-CC oracle an equivalence proof.
    *
    * Staleness contract (same as [[QualityQueries.curatedMemo]]): the memo keys on
    * (session identity, dir) and assumes the documents table under
    * `dir` is immutable for the session — rewriting it mid-session
    * serves stale labels/edges (production owns its standing state
    * explicitly via the Clusters/Dedup index APIs; this memo exists
    * for the harness surface). Measurement note: the FIRST invocation
    * per (session, dir) pays the standing-state build — a timing tool
    * must read a warmed run, or the wall includes the build (Bench's
    * warm-up is at another dir, so its rep 1 pays the build and its
    * min-of-2 reports rep 2). */
  private val incStateMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  private def clustersIncStanding(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    incStateMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    incStateMemo.computeIfAbsent((s, dir), _ => {
      val allPairs = Dedup.ngramJaccardPairs(
          t(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.6)
      val newA = pmod(col("doc_a"), lit(10)) === 3
      val newB = pmod(col("doc_b"), lit(10)) === 3
      val labels = Clusters.connectedComponents(
          allPairs.filter(!newA && !newB), "doc_a", "doc_b")
        .localCheckpoint(true)
      val newEdges = allPairs.filter(newA || newB).localCheckpoint(true)
      Boundary.release(allPairs)
      (labels, newEdges)
    })
  }

  /** dedup_minhash_lsh oracle: the full ShingleHashes → MinHash-mix →
    * banded-LSH pipeline reproduced in DuckDB HUGEINT arithmetic mod
    * 2^64 (token poly-31 hash, k=3 shingle fold, the murmur-style
    * finalizer per permutation with signed-min slots). Band agreement
    * is checked by direct slot-slice equality — band-hash equality in
    * the Spark plan is equivalent up to hash collisions, so the band
    * hash itself never needs reproduction. Multiplications go through
    * a 32-bit-split mulmod so 128-bit intermediates never overflow
    * HUGEINT. Parameters mirror the query: perms=64, bands=16 (4
    * rows/band), k=3, tau=0.5. */
  private def minhashOracleSql: String =
    minhashOracleCore("sa.doc_id < sb.doc_id")

  /** dedup_minhash_inc oracle: identical sig pipeline, pair sides
    * split corpus (left) × batch (right) instead of a<b. */
  private def minhashIncOracleSql: String =
    minhashOracleCore("(sa.doc_id % 10 <> 3) AND (sb.doc_id % 10 = 3)")

  private def minhashOracleCore(pairCond: String): String =
    s"""WITH ${minhashCandCtes(pairCond)}
       |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin

  /** The minhash-LSH candidate pipeline as a bare CTE chain ending in
    * `cand(doc_a, doc_b, est_jaccard)` — lets the recall gate compose
    * it with the exact-Jaccard CTEs in one statement. */
  private def minhashCandCtes(pairCond: String): String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val mult = -7046029254386353131L // MinHashAgg.mix / ShingleHashes combine constant
    val M = u(mult)
    val m1 = u(-49064778989728563L)
    val m2 = u(-4265267296055464877L)
    val c0 = (BigInt(1125899906842597L) * M) % T // shingle seed pre-multiplied
    val consts = (0 until 64).map(i => u(i.toLong * mult + 1442695040888963407L))
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val h1 = s"($c0::HUGEINT + th[i]) % $T::HUGEINT"
    val h2 = s"(${mm(h1, M)} + th[i+1]) % $T::HUGEINT"
    val h3 = s"(${mm(h2, M)} + th[i+2]) % $T::HUGEINT"
    val constRows = consts.zipWithIndex
      .map { case (c, i) => s"($i, $c::HUGEINT)" }.mkString(", ")
    val bandOr = (0 until 16)
      .map(b => s"(sa.sig[${4 * b + 1}:${4 * b + 4}] = sb.sig[${4 * b + 1}:${4 * b + 4}])")
      .mkString(" OR ")
    val eqSum = (0 until 64)
      .map(i => s"(CASE WHEN sa.sig[${i + 1}] = sb.sig[${i + 1}] THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM documents),
       |tokh AS (SELECT doc_id, $tokH AS th FROM toks),
       |shl AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(th) - 2), i -> $h3)) AS sh
       |  FROM tokh WHERE len(th) >= 3),
       |sh_rows AS (SELECT doc_id, unnest(sh) AS h FROM shl),
       |consts(i, c) AS (VALUES $constRows),
       |m0 AS (SELECT doc_id, i, xor(h, c) AS x FROM sh_rows CROSS JOIN consts),
       |m1 AS (SELECT doc_id, i, xor(x, x >> 33) AS x FROM m0),
       |m2 AS (SELECT doc_id, i, ${mm("x", m1)} AS x FROM m1),
       |m3 AS (SELECT doc_id, i, xor(x, x >> 33) AS x FROM m2),
       |m4 AS (SELECT doc_id, i, ${mm("x", m2)} AS x FROM m3),
       |m5 AS (SELECT doc_id, i, xor(x, x >> 33) AS x FROM m4),
       |slots AS (
       |  SELECT doc_id, i,
       |         min(CASE WHEN x >= 9223372036854775808::HUGEINT
       |                  THEN x - $T::HUGEINT ELSE x END) AS slot
       |  FROM m5 GROUP BY 1, 2),
       |sigs AS MATERIALIZED (SELECT doc_id, list(slot ORDER BY i) AS sig FROM slots GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
       |         round(($eqSum) / 64.0, 4) AS est_jaccard
       |  FROM sigs sa JOIN sigs sb ON $pairCond
       |  WHERE ($bandOr)
       |    AND round(($eqSum) / 64.0, 4) >= 0.5)""".stripMargin
  }

  /** decon_bloom oracle: the Bloom bit pipeline reproduced exactly in
    * HUGEINT mod-2^64 SQL — token poly-31 hashes, 5-gram shingle fold
    * (same chain as the minhash oracle, two tokens deeper), the k=3
    * CmsHash row mixes, and bit positions mod 2^22. A corpus doc is
    * flagged iff ANY of its shingles has ALL 3 positions inside the
    * benchmark's position set — bit-for-bit the broadcast-filter
    * probe, INCLUDING false positives. */
  private def bloomOracleSql: String = bloomOracleSqlFor("documents")

  /** The same Bloom pipeline with the CORPUS side drawn from `rel`
    * (the benchmark side always comes from the raw `documents`
    * table — a held-out eval set is a fixed artifact, independent of
    * whatever funnel produced the corpus being decontaminated). With
    * rel = documents the union is documents itself. */
  private[queries] def bloomOracleSqlFor(rel: String): String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val mult = -7046029254386353131L // ShingleHashes combine / CmsHash row constant
    val M = u(mult)
    val mu1 = u(-49064778989728563L)
    val mu2 = u(-4265267296055464877L)
    val c0 = (BigInt(1125899906842597L) * M) % T // shingle seed pre-multiplied
    val consts = (0 until 3).map(i => u(i.toLong * mult + 1442695040888963407L))
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val h1 = s"($c0::HUGEINT + th[i]) % $T::HUGEINT"
    val h2 = s"(${mm(h1, M)} + th[i+1]) % $T::HUGEINT"
    val h3 = s"(${mm(h2, M)} + th[i+2]) % $T::HUGEINT"
    val h4 = s"(${mm(h3, M)} + th[i+3]) % $T::HUGEINT"
    val h5 = s"(${mm(h4, M)} + th[i+4]) % $T::HUGEINT"
    val constRows = consts.zipWithIndex
      .map { case (c, i) => s"($i, $c::HUGEINT)" }.mkString(", ")
    s"""WITH corpus_bench AS (
       |  SELECT doc_id, source, text FROM $rel
       |  WHERE source NOT IN ('src0', 'src1')
       |  UNION ALL
       |  SELECT doc_id, source, text FROM documents
       |  WHERE source IN ('src0', 'src1')),
       |toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM corpus_bench),
       |tokh AS (SELECT doc_id, source, $tokH AS th FROM toks),
       |shl AS (
       |  SELECT doc_id, source,
       |         list_distinct(list_transform(generate_series(1, len(th) - 4), i -> $h5)) AS sh
       |  FROM tokh WHERE len(th) >= 5),
       |sh_rows AS (SELECT doc_id, source, unnest(sh) AS h FROM shl),
       |consts(i, c) AS (VALUES $constRows),
       |m0 AS (SELECT doc_id, source, h, i, xor(h, c) AS x FROM sh_rows CROSS JOIN consts),
       |m1 AS (SELECT doc_id, source, h, i, xor(x, x >> 33) AS x FROM m0),
       |m2 AS (SELECT doc_id, source, h, i, ${mm("x", mu1)} AS x FROM m1),
       |m3 AS (SELECT doc_id, source, h, i, xor(x, x >> 33) AS x FROM m2),
       |m4 AS (SELECT doc_id, source, h, i, ${mm("x", mu2)} AS x FROM m3),
       |m5 AS (SELECT doc_id, source, h, i, xor(x, x >> 33) AS x FROM m4),
       |pos AS (SELECT doc_id, source, h, i,
       |        (x % 9223372036854775808::HUGEINT) % 4194304 AS p FROM m5),
       |bench_pos AS (SELECT DISTINCT p FROM pos WHERE source IN ('src0', 'src1')),
       |corp AS (
       |  SELECT c.doc_id, c.h,
       |         count(*) FILTER (WHERE bp.p IS NOT NULL) AS hits
       |  FROM (SELECT doc_id, h, p FROM pos
       |        WHERE source NOT IN ('src0', 'src1')) c
       |  LEFT JOIN bench_pos bp ON c.p = bp.p
       |  GROUP BY 1, 2),
       |flags AS (SELECT doc_id, bool_or(hits = 3) AS flagged FROM corp GROUP BY 1)
       |SELECT d.doc_id, coalesce(f.flagged, FALSE) AS flagged
       |FROM (SELECT doc_id FROM $rel WHERE source NOT IN ('src0', 'src1')) d
       |LEFT JOIN flags f ON d.doc_id = f.doc_id""".stripMargin
  }

  /** dedup_simhash oracle: token poly-31 hashes avalanched by the
    * murmur-style finalizer (the same mod-2^64 HUGEINT stages as the
    * minhash oracle, minus the permutation constant), per-bit ±1 sign
    * sums, signature packed as a signed BIGINT, pigeonhole 16-bit
    * block-agreement candidates, exact Hamming verify via
    * bit_count(xor). Mirrors simhashPairs(maxHamming = 3). */
  private def simhashOracleSql: String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val m1 = u(-49064778989728563L)
    val m2 = u(-4265267296055464877L)
    def mm(x: String, m: BigInt): String =
      s"((($x) % 4294967296) * $m::HUGEINT + " +
        s"(((($x) >> 32) * $m::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val blocksOr = (0 until 4)
      .map(i => s"(((ua.us >> ${16 * i}) & 65535) = ((ub.us >> ${16 * i}) & 65535))")
      .mkString(" OR ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM documents),
       |tokh AS (SELECT doc_id, $tokH AS th FROM toks WHERE len(ts) >= 1),
       |tok_rows AS (SELECT doc_id, unnest(th) AS h FROM tokh),
       |a1 AS (SELECT doc_id, xor(h, h >> 33) AS x FROM tok_rows),
       |a2 AS (SELECT doc_id, ${mm("x", m1)} AS x FROM a1),
       |a3 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM a2),
       |a4 AS (SELECT doc_id, ${mm("x", m2)} AS x FROM a3),
       |a5 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM a4),
       |bits AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END) AS ss
       |  FROM a5 CROSS JOIN generate_series(0, 63) g(b)
       |  GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN ss >= 0 THEN
       |           CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT
       |                ELSE (1::HUGEINT << b) END
       |           ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1),
       |usigs AS (
       |  SELECT doc_id, sig,
       |         CASE WHEN sig < 0 THEN sig + $T::HUGEINT ELSE sig::HUGEINT END AS us
       |  FROM sigs)
       |SELECT ua.doc_id AS doc_a, ub.doc_id AS doc_b,
       |       CAST(bit_count(xor(ua.sig, ub.sig)) AS BIGINT) AS hamming
       |FROM usigs ua JOIN usigs ub ON ua.doc_id < ub.doc_id
       |WHERE ($blocksOr)
       |  AND bit_count(xor(ua.sig, ub.sig)) <= 3""".stripMargin
  }

  /** Shared CTE prefix for the n-gram Jaccard oracle family
    * (dedup_ngram_jaccard, dedup_clusters, dedup_keep): tokens →
    * distinct 3-gram shingles → the stats-derived hot-shingle cap the
    * registered plans apply by default (Dedup.autoCap: max(50,
    * ceil(sqrt(N)))), reproduced STRUCTURALLY in SQL so oracle parity
    * holds at any scale instead of resting on the cap being inert at
    * one particular SF. Yields `sh` (pruned shingles), `sz` (per-doc
    * sizes from the pruned universe — the operator's correct-bias
    * rule) and `shared` (pair co-counts). */
  private[queries] def jaccardCtes: String = jaccardCtesFor("documents", "")

  /** The same CTE block over an arbitrary source relation with a
    * name prefix — lets one statement carry TWO independent pair
    * computations (the incremental-components oracle needs the
    * old-corpus pairs AND the full-corpus pairs, each with its own
    * structurally-mirrored sqrt(N) cap). */
  private[queries] def jaccardCtesFor(rel: String, p: String): String =
    s"""${p}toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM $rel),
         ${p}sh0 AS (
           SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM ${p}toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
         ${p}cap AS (SELECT greatest(50, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM $rel),
         ${p}hot AS (SELECT s FROM ${p}sh0 CROSS JOIN ${p}cap
                 GROUP BY s, c HAVING count(*) > c),
         ${p}sh AS MATERIALIZED (SELECT doc_id, s FROM ${p}sh0
                    WHERE s NOT IN (SELECT s FROM ${p}hot)),
         ${p}sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM ${p}sh GROUP BY 1),
         ${p}shared AS MATERIALIZED (
           SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
           FROM ${p}sh a JOIN ${p}sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""

  /** CDC chunking replayed in HUGEINT mod-2^64 SQL — word hashes via
    * the engine-wide token poly hash (seed 17), window/chunk folds
    * via the shingle seed + mix multiplier, boundary where the w=4
    * window fold ≡ D-1 (mod D). Yields CTE `cdc_chunks(doc_id, s,
    * len, ch)` — one row per chunk, `ch` the unsigned chunk fold. */
  private def cdcCtes: String = {
    val T = BigInt(1) << 64
    def u(l: Long): BigInt = BigInt(l) & ((BigInt(1) << 64) - 1)
    val M = u(-7046029254386353131L) // ShingleHashes/CdcChunkHashes mix
    val c0 = (BigInt(1125899906842597L) * M) % T // seed pre-multiplied
    def mm(x: String): String =
      s"((($x) % 4294967296) * $M::HUGEINT + " +
        s"(((($x) >> 32) * $M::HUGEINT) % 4294967296) * 4294967296) % $T::HUGEINT"
    val tokH = "list_transform(ts, t -> list_reduce(" +
      "list_prepend(17::HUGEINT, list_transform(string_split(t, ''), c -> ord(c)::HUGEINT))," +
      s"(a, b) -> (a * 31 + b) % $T::HUGEINT))"
    val h1 = s"($c0::HUGEINT + th[i]) % $T::HUGEINT"
    val h2 = s"(${mm(h1)} + th[i+1]) % $T::HUGEINT"
    val h3 = s"(${mm(h2)} + th[i+2]) % $T::HUGEINT"
    val h4 = s"(${mm(h3)} + th[i+3]) % $T::HUGEINT"
    s"""cdc_toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
       |  FROM documents),
       |cdc_tokh AS (SELECT doc_id, $tokH AS th FROM cdc_toks),
       |cdc_pos AS (
       |  SELECT doc_id, p, th[p] AS wh
       |  FROM cdc_tokh, unnest(generate_series(1, len(th))) AS u(p)),
       |cdc_winb AS (
       |  SELECT doc_id, i + 3 AS p,
       |         CASE WHEN ($h4) % 8 = 7 THEN 1 ELSE 0 END AS b
       |  FROM cdc_tokh, unnest(generate_series(1, len(th) - 3)) AS u(i)),
       |cdc_seg AS (
       |  SELECT r.doc_id, r.p, r.wh,
       |         COALESCE(sum(w.b) OVER (PARTITION BY r.doc_id ORDER BY r.p
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
       |  FROM cdc_pos r LEFT JOIN cdc_winb w ON w.doc_id = r.doc_id AND w.p = r.p),
       |cdc_chunks AS (
       |  SELECT doc_id, s, count(*) AS len,
       |         list_reduce(
       |           list_prepend(1125899906842597::HUGEINT, list(wh ORDER BY p)),
       |           (a, b) -> (${mm("a")} + b) % $T::HUGEINT) AS ch
       |  FROM cdc_seg GROUP BY doc_id, s)""".stripMargin
  }

  /** decon_ngram oracle — ALSO the decon_index_probe oracle: the
    * standing benchmark index stores distinct shingle membership, so
    * its exact probe is definitionally the same computation. */
  private def deconNgramOracleSql: String =
    """WITH toks AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
           FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         bench AS (SELECT s, doc_id FROM sh WHERE source IN ('src0', 'src1')),
         corpus AS (SELECT doc_id, s FROM sh WHERE source NOT IN ('src0', 'src1'))
         SELECT c.doc_id,
                count(DISTINCT c.s) AS n_shared_shingles,
                count(DISTINCT b.doc_id) AS n_bench_docs
         FROM corpus c JOIN bench b ON c.s = b.s
         GROUP BY 1"""

  /** dedup_recall oracle: the minhash candidate CTE chain and the
    * exact-Jaccard CTE chain (prefix j) composed in one statement;
    * the three corpus-level counts are scalar subqueries. */
  private def dedupRecallOracleSql: String =
    s"""WITH ${minhashCandCtes("sa.doc_id < sb.doc_id")},
       |${jaccardCtesFor("documents", "j")},
       |truth AS MATERIALIZED (
       |  SELECT da, db FROM jshared
       |  JOIN jsz za ON da = za.doc_id
       |  JOIN jsz zb ON db = zb.doc_id
       |  WHERE round(c / (za.n + zb.n - c), 4) >= 0.6),
       |hits AS (
       |  SELECT t.da FROM truth t
       |  JOIN cand cd ON t.da = cd.doc_a AND t.db = cd.doc_b)
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |       (SELECT count(*) FROM cand) AS n_candidates,
       |       (SELECT count(*) FROM hits) AS n_hit""".stripMargin
}
