package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Clusters, Dedup, Similarity}
import Query.t

/** SURVEY §2c, similarity, ANN and embeddings: embedding-LSH dedup,
  * k-means, PCA, coresets and the ANN indexes. */
object SimilarityQueries {

  lazy val all: Seq[Query] = Seq(
    // synthetic embeddings top out at cos~0.51; tau=0.4 keeps the
    // operator's output non-trivial while staying a "near"-dup filter.
    // Blocking = seeded-hyperplane LSH buckets (bits × tables is an
    // index tunable, so bucket occupancy stays bounded as the corpus
    // grows — a label-column block would grow linearly and its
    // within-block all-pairs join quadratically); measured recall on
    // the gate corpus is ~8× the label-blocked form's (DedupSpec)
    Query("dedup_embedding", (s, dir) =>
      Dedup.embeddingPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4),
      s"""WITH $embLshPairsCtes
         SELECT vec_a, vec_b FROM pairs"""),

    // multi-probe variant: 3 tables + Hamming-1 probing buys the
    // recall of ~8 exact-probe tables with 2.7x less signature
    // storage (the FALCONN trade); oracle expands the same probe list
    Query("dedup_embedding_mp", (s, dir) =>
      Dedup.embeddingPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, bits = 4, tables = 3, seed = 42L, tau = 0.4,
        probeRadius = 1),
      s"""WITH ${embLshCtes(tables = 3, probeRadius = 1)}
         SELECT vec_a, vec_b FROM pairs"""),

    // embedding-index pair recall on a SAMPLED audit slice (the
    // production audit shape: exact ground truth is only ever
    // affordable for a sample — audit × corpus, never corpus²):
    // per-audit-vector integer counts of exact cosine-pairs vs the
    // registered LSH pipeline's candidates, zero-recall vecs kept
    Query("emb_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val audit = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val corpus = e.select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("pv"))
      val truth = corpus.crossJoin(broadcast(audit))
        .filter(col("qid") =!= col("pid") &&
          graft.functions.Vectors.cosine(col("qv"), col("pv")) >= 0.4)
        .select(col("qid"), least(col("qid"), col("pid")).as("vec_a"),
          greatest(col("qid"), col("pid")).as("vec_b"))
      val cand = Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
          dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("__hit"))
      // mark-join instead of a branched semi-join: the audit×corpus
      // cosine pass runs ONCE (truth is unbranched lineage — a
      // branch would re-scan and re-verify the corpus), the cand
      // side is the operator's eagerly-persisted pair result
      val cnt = truth.join(broadcast(cand), Seq("vec_a", "vec_b"), "left")
        .groupBy("qid").agg(count(lit(1)).as("n_true"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      audit.select(col("qid").as("vec_id"))
        .join(cnt.withColumnRenamed("qid", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    },
      embRecallOracleSql),

    // SemDeDup-style semantic dedup end-to-end: embedding-cosine
    // pairs -> connected components -> keep min-id per cluster (the
    // composition of dedup_embedding + dedup_clusters + dedup_keep
    // over the vector space instead of the token space)
    Query("dedup_semantic", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val drop = Clusters.connectedComponents(
          Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
            dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4),
          "vec_a", "vec_b")
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("vec_id"))
      e.join(drop, Seq("vec_id"), "left_anti").select(col("vec_id"))
    },
      s"""WITH RECURSIVE $embLshPairsCtes,
         edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
                   UNION ALL SELECT vec_b, vec_a FROM pairs),
         reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
         clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)"""),

    // distributed Lloyd k-means over embeddings (ids-only output).
    // Hash-gated: centroids round to 6dp at each iteration edge, which
    // makes the whole Lloyd trajectory engine-reproducible (unrounded,
    // distributed summation order leaves centroid ulps engine-
    // specific); the oracle unrolls all 3 iterations in SQL
    Query("emb_kmeans", (s, dir) =>
      Similarity.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3, roundTo = Some(6)),
      embKmeansOracle),

    // power-iteration PCA (r11): 3 unrolled iterations from the
    // uniform unit start, iteration-edge 6dp rounding (the emb_kmeans
    // trade), per-vector projection onto the dominant component as
    // dot(v, pc) − dot(μ, pc) — the two folds the oracle mirrors
    // term-for-term
    Query("emb_pca", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, pc, _) = Similarity.pcaTopComponent(e, "embedding", iters = 3)
      var muDot = 0.0
      var i = 0
      while (i < pc.length) { muDot += mu(i) * pc(i); i += 1 }
      e.select(col("vec_id"),
        round(graft.functions.Vectors.dot(col("embedding"),
          array(pc.map(lit).toIndexedSeq: _*)) - lit(muDot), 4).as("pc1"))
    },
      embPcaOracle),

    // the PCA monitor's second readout (r11): per-vector residual —
    // what the dominant direction does NOT explain; low residual =
    // the vector lives on the rogue axis
    Query("emb_pca_residual", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, pc, _) = Similarity.pcaTopComponent(e, "embedding", iters = 3)
      Similarity.pcaResiduals(e, "vec_id", "embedding", mu, pc)
    },
      embPcaResidualOracle),

    // k-center greedy coreset (r11 — farthest-point sampling,
    // Gonzalez '85 / Sener & Savarese '18): the diversity-selection
    // dial next to DSIR's importance dial; every vector labeled with
    // its nearest chosen center + exact squared distance
    Query("sample_coreset", (s, dir) =>
      Similarity.kCenterCoreset(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8)._2,
      coresetOracle),

    Query("ann_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    },
      annTopkOracle),

    // scalar-quantized (SQ8) top-k (r10): 1 byte/dim codes against
    // per-dimension corpus [min,max], queries rank exact cosine over
    // the DEQUANTIZED codes — the no-training compression point
    // between flat and PQ; oracle mirrors the quantize/dequantize
    // arithmetic term-for-term in list_transform
    Query("ann_sq8", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    },
      annSq8Oracle),

    // hash-gated: the oracle rebuilds the identical seeded hyperplane
    // set as ±1 literals and replays signature -> bucket join ->
    // cosine rerank in SQL
    Query("ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, bits = 4, tables = 8, seed = 42L, k = 5)
    },
      annLshOracle),

    // recall@5 of the LSH index vs exact brute force — the
    // index-quality EVALUATION loop (at 100 TB you monitor recall
    // continuously and retune bits/tables when it sags); integer
    // per-query intersection counts, zero-recall queries kept at 0
    Query("ann_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 8)
      val queries = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      val lsh = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
          dim = 64, bits = 4, tables = 8, seed = 42L, k = 5)
        .select("query_id", "neighbor_id")
      val m = lsh.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_match"))
      exact.select("query_id").distinct()
        .join(m, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          lit(5).as("k"))
    },
      // recall@5 of the LSH index vs exact brute force, per query —
      // integer intersection counts (the index-quality monitoring loop;
      // both rankings' tie-breaks are deterministic, so the counts are
      // engine-exact)
      s"""WITH lsh AS ($annLshOracle),
         exact AS ($annTopkOracle),
         m AS (SELECT l.query_id, count(*) AS n_match
               FROM lsh l JOIN exact e
                 ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
               GROUP BY 1),
         q AS (SELECT DISTINCT query_id FROM exact)
         SELECT q.query_id,
                CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match,
                CAST(5 AS INTEGER) AS k
         FROM q LEFT JOIN m USING (query_id)"""),

    Query("ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", nCentroids = 16, nprobe = 8, k = 5)
    },
      annIvfOracle),

    // product-quantization ANN: corpus vectors as packed 8-byte codes
    // + exact norms (32× compression), per-candidate scoring = m table
    // lookups (native PqEncode/PqAdc); recall vs ann_topk spec-tested.
    // HASH-GATED (r4): codebook training is deterministic seeded
    // Lloyd with 6dp centroid rounding at each iteration edge, so the
    // oracle re-derives the identical codebook in SQL (unrolled
    // per-subspace iterations) and replays encode -> ADC shortlist ->
    // exact rerank; gate iterations = 3 (production raises iters —
    // identical plan, the trajectory just runs longer)
    Query("ann_pq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", m = 8, kCent = 32, k = 5,
        iters = 3, roundTo = Some(6))
    },
      annPqOracle),

    // IVF-PQ composite (the FAISS-shape 100 TB index): coarse lists
    // prune the scan to nprobe/nCentroids of the corpus, PQ codes
    // shrink what IS scanned to 16 bytes/vector, exact rerank only
    // the shortlist. HASH-GATED by composing the ann_ivf and ann_pq
    // oracles: both the coarse centroid set and the PQ codebook are
    // re-derived in SQL, and ADC scoring is replayed restricted to
    // the probed lists
    Query("ann_ivfpq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", nCentroids = 16, nprobe = 8,
        m = 8, kCent = 32, k = 5, iters = 3, roundTo = Some(6))
    },
      annIvfPqOracle)
  )

  /** ann_sq8 oracle: per-dimension corpus [min,max] → the identical
    * quantize/round/dequantize arithmetic in list_transform → exact
    * cosine rank over the dequantized lists (the annTopkOracle rank
    * shape). Span-0 dimensions guard the division and dequantize to
    * the constant, exactly as the operator's when-branch. */
  private def annSq8Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       mm AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
              FROM e, unnest(generate_series(1, 64)) AS g(i)
              WHERE vec_id >= 8 GROUP BY 1),
       mml AS (SELECT list(mn ORDER BY i) AS mns,
                      list(mx - mn ORDER BY i) AS spans
               FROM mm),
       deq AS (SELECT vec_id,
                 list_transform(generate_series(1, 64),
                   i -> CASE WHEN spans[i] > 0
                             THEN mns[i]
                               + least(255, greatest(0,
                                   round((v[i] - mns[i]) / spans[i] * 255)))
                                 / 255.0 * spans[i]
                             ELSE mns[i] END) AS dv
               FROM e CROSS JOIN mml WHERE vec_id >= 8)
       SELECT q.vec_id AS query_id,
              CAST(row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.v, c.dv) DESC,
                         c.vec_id) AS INTEGER) AS rnk,
              c.vec_id AS neighbor_id
       FROM (SELECT vec_id, v FROM e WHERE vec_id < 8) q
       CROSS JOIN deq c
       QUALIFY rnk <= 5"""

  private def annTopkOracle: String =
    """SELECT q.vec_id AS query_id,
              CAST(row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                         c.vec_id) AS INTEGER) AS rnk,
              c.vec_id AS neighbor_id
       FROM embeddings q CROSS JOIN embeddings c
       WHERE q.vec_id < 8 AND c.vec_id >= 8
       QUALIFY rnk <= 5"""

  /** ann_lsh oracle: the full LSH pipeline replayed in SQL. The ±1
    * hyperplanes come from the SAME seeded generator the Spark plan
    * uses ([[graft.functions.Vectors.hyperplaneWeights]]), inlined as
    * literals; weights are ±1 so each inner-product term is exactly
    * ±v[i] and both engines fold the same doubles in array order —
    * signatures agree bit-for-bit, then bucket join → distinct pair →
    * cosine rerank mirror the plan 1:1. */
  private def annLshOracle: String = {
    val (dim, bits, tables, seed) = (64, 4, 8, 42L)
    def sigExpr(v: String, tableSeed: Long): String = {
      val w = graft.functions.Vectors.hyperplaneWeights(dim, bits, tableSeed)
      (0 until bits).map { b =>
        val wlist = w(b).map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product($v, $wlist) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
    val sigList = (0 until tables).map(ti => sigExpr("v", seed + ti))
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sigged AS (SELECT vec_id, v, $sigList AS sigs FROM e),
       qb AS (SELECT vec_id AS query_id, t.range AS tbl, sigs[t.range + 1] AS bucket
              FROM sigged, range($tables) t WHERE vec_id < 8),
       cb AS (SELECT vec_id AS neighbor_id, t.range AS tbl, sigs[t.range + 1] AS bucket
              FROM sigged, range($tables) t WHERE vec_id >= 8),
       pairs AS (SELECT DISTINCT query_id, neighbor_id
                 FROM qb JOIN cb USING (tbl, bucket)),
       scored AS (SELECT p.query_id, p.neighbor_id,
                         list_cosine_similarity(q.v, c.v) AS cos
                  FROM pairs p
                  JOIN e q ON p.query_id = q.vec_id
                  JOIN e c ON p.neighbor_id = c.vec_id)
       SELECT query_id,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk,
              neighbor_id
       FROM scored QUALIFY rnk <= 5"""
  }

  /** Shared CTE text for the LSH-blocked embedding-dedup oracles:
    * replays signature → (table, bucket) band → distinct candidate
    * pair → exact-cosine verify with the identical seeded ±1
    * hyperplanes inlined as literals (the annLshOracle pattern).
    * Yields CTEs `e` (vec_id, v) and `pairs` (vec_a, vec_b). */
  private def embLshPairsCtes: String = embLshCtes(tables = 8, probeRadius = 0)

  /** Parameterized LSH-pair CTE generator: `probeRadius = 1` expands
    * the probe side to the bits+1 buckets within Hamming distance 1
    * of each signature — exactly the plan's multi-probe explode. */
  private def embLshCtes(tables: Int, probeRadius: Int): String = {
    val (dim, bits, seed, tau) = (64, 4, 42L, 0.4)
    def sigExpr(v: String, tableSeed: Long): String = {
      val w = graft.functions.Vectors.hyperplaneWeights(dim, bits, tableSeed)
      (0 until bits).map { b =>
        val wlist = w(b).map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product($v, $wlist) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
    val sigList = (0 until tables).map(ti => sigExpr("v", seed + ti))
      .mkString("[", ", ", "]")
    val probeRel =
      if (probeRadius == 0) "bande"
      else {
        val masks = (0 until bits).map(b => s"xor(bucket, ${1L << b})")
        s"""(SELECT vec_id, tbl,
               unnest(${("bucket" +: masks).mkString("[", ", ", "]")}) AS bucket
             FROM bande)"""
      }
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sigged AS (SELECT vec_id, v, $sigList AS sigs FROM e),
       bande AS (SELECT vec_id, t.range AS tbl, sigs[t.range + 1] AS bucket
                 FROM sigged, range($tables) t),
       cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                FROM $probeRel a JOIN bande b
                  ON a.tbl = b.tbl AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id),
       pairs AS (SELECT vec_a, vec_b
                 FROM cand
                 JOIN e ea ON cand.vec_a = ea.vec_id
                 JOIN e eb ON cand.vec_b = eb.vec_id
                 WHERE list_cosine_similarity(ea.v, eb.v) >= $tau)"""
  }

  /** emb_kmeans oracle: 3 Lloyd iterations unrolled in SQL. Init =
    * the 8 lowest-id vectors; assignment = min_by over [d, cid] (the
    * plan's struct-min tie rule); means round to 6dp per iteration
    * (the plan's roundTo) so the trajectory is engine-reproducible;
    * an empty cluster keeps its previous centroid (LEFT JOIN +
    * coalesce = the plan's clone-then-update). */
  private def embKmeansOracle: String = {
    val iters = 3
    def assign(n: Int, centRel: String) =
      s"""a$n AS (SELECT e.vec_id, e.v,
             (min(struct_pack(d := list_inner_product(cent.c, cent.c)
               - 2 * list_inner_product(e.v, cent.c), cid := cent.cid))).cid AS cid
           FROM e CROSS JOIN $centRel cent GROUP BY e.vec_id, e.v)"""
    def recompute(n: Int) =
      s"""x$n AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a$n),
         m$n AS (SELECT cid, pos, round(avg(x), 6) AS m FROM x$n GROUP BY cid, pos),
         cent$n AS (SELECT prev.cid, coalesce(mm.c, prev.c) AS c
                    FROM cent${n - 1} prev
                    LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS c
                               FROM m$n GROUP BY cid) mm ON prev.cid = mm.cid)"""
    val steps = (1 to iters).map(n => s"${assign(n, s"cent${n - 1}")},\n${recompute(n)}")
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS c
                 FROM e ORDER BY vec_id LIMIT 8),
       $steps,
       ${assign(iters + 1, s"cent$iters")}
       SELECT vec_id, cid AS cluster_id FROM a${iters + 1}"""
  }

  /** emb_pca oracle: 3 power iterations unrolled in SQL — centered
    * rows (per-dim mean rounded 6dp), score s = xc·v_{t-1}
    * (list_inner_product = the plan's native dot, array-order fold),
    * sum vector u rounded 6dp at the iteration edge, normalization
    * u/√(ul·ul) over the ROUNDED list (array-order fold again), and
    * the final projection as dot(v, pc) − dot(μ, pc) — the exact two
    * folds the plan computes, NOT the algebraically-equal dot(xc, pc)
    * (distributing the subtraction lands different ulps). */
  private def embPcaOracle: String =
    s"""$embPcaCtes
       SELECT e.vec_id,
              round(list_inner_product(e.v, vv)
                    - list_inner_product(ml, vv), 4) AS pc1
       FROM e CROSS JOIN v3 CROSS JOIN mul"""

  /** emb_pca_residual oracle: score/residual from the SAME trained
    * component, both folds over the per-element-centered xc (the
    * iteration form — NOT algebraically redistributed). */
  private def embPcaResidualOracle: String =
    s"""$embPcaCtes
       SELECT c.vec_id,
              round(list_inner_product(c.xc, vv), 4) AS score,
              round(sqrt(greatest(0.0,
                list_inner_product(c.xc, c.xc)
                - list_inner_product(c.xc, vv)
                  * list_inner_product(c.xc, vv))), 4) AS residual
       FROM c CROSS JOIN v3"""

  private def embPcaCtes: String = {
    val iters = 3
    val dim = 64
    val v0 = Array.fill(dim)("0.125").mkString(", ") // round(1/√64, 6) exact
    def sCte(n: Int): String =
      if (n == 1)
        s"s1 AS (SELECT vec_id, xc, list_inner_product(xc, [$v0]) AS s FROM c)"
      else
        s"s$n AS (SELECT vec_id, xc, list_inner_product(xc, vv) AS s " +
          s"FROM c CROSS JOIN v${n - 1})"
    def vCte(n: Int): String =
      s"""x$n AS (SELECT s, generate_subscripts(xc, 1) AS pos, unnest(xc) AS x
             FROM s$n),
         u$n AS (SELECT pos, round(sum(x * s), 6) AS u FROM x$n GROUP BY pos),
         ul$n AS (SELECT list(u ORDER BY pos) AS ul FROM u$n),
         v$n AS (SELECT list_transform(ul,
                   u -> round(u / sqrt(list_inner_product(ul, ul)), 6)) AS vv
                 FROM ul$n)"""
    val steps = (1 to iters).map(n => s"${sCte(n)},\n${vCte(n)}").mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       mx AS (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
       mu AS (SELECT pos, round(avg(x), 6) AS m FROM mx GROUP BY pos),
       mul AS (SELECT list(m ORDER BY pos) AS ml FROM mu),
       c AS (SELECT vec_id,
                    list_transform(generate_series(1, $dim), i -> v[i] - ml[i]) AS xc
             FROM e CROSS JOIN mul),
       $steps"""
  }

  /** sample_coreset oracle: the k-center greedy trajectory unrolled —
    * c1 = lowest id; each step keeps a running min-distance frame
    * (least-chained, ≡ the plan's least fold) and picks the argmax
    * (ORDER BY dm DESC, vec_id LIMIT 1 = the plan's TakeOrdered);
    * assignment via the struct-min rule over the chosen centers with
    * the identical |v|²+|c|²−2v·c fold order. */
  private def coresetOracle: String = {
    val k = 8
    def lip(a: String, b: String) = s"list_inner_product($a, $b)"
    def dist(v: String, c: String) =
      s"(${lip(v, v)} + ${lip(c, c)} - 2 * ${lip(v, c)})"
    val steps = (2 to k).map { t =>
      val (dPrev, cPrev, dNew) = (s"d${t - 2}", s"c${t - 1}", s"d${t - 1}")
      val prevFrame = if (t == 2)
        s"""d1 AS (SELECT e.vec_id, e.v, ${dist("e.v", "c.v")} AS dm
               FROM e CROSS JOIN c1 c),"""
      else ""
      s"""$prevFrame
         c$t AS (SELECT vec_id, v FROM d${t - 1}
                 ORDER BY dm DESC, vec_id LIMIT 1)""" +
        (if (t < k)
          s""",
             d$t AS (SELECT d.vec_id, d.v,
                            least(d.dm, ${dist("d.v", "c.v")}) AS dm
                     FROM d${t - 1} d CROSS JOIN c$t c)"""
        else "")
    }.mkString(",\n")
    val cents = (1 to k).map(t => s"SELECT vec_id AS cid, v FROM c$t")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       $steps,
       cents AS ($cents),
       a AS (SELECT e.vec_id,
                    min(struct_pack(d := ${dist("e.v", "cent.v")},
                                    cid := cent.cid)) AS m
             FROM e CROSS JOIN cents cent GROUP BY e.vec_id)
       SELECT vec_id, m.cid AS center_id, round(m.d, 6) AS d2 FROM a"""
  }

  /** ann_ivf oracle: coarse-quantizer assignment (argmin via the
    * struct-min rule), nprobe nearest lists per query (row_number
    * over the same (d, cid) order), bucket join, exact cosine rerank
    * — the emb_kmeans oracle machinery applied to the IVF probe path.
    * Distances use the plan's exact arithmetic: |c|² − 2 v·c with
    * both inner products folding in array order. */
  private def annIvfOracle: String = {
    val (nCentroids, nprobe, k) = (16, 8, 5)
    def d(v: String) = s"list_inner_product(cent.cv, cent.cv) - 2 * list_inner_product($v, cent.cv)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id, v FROM e WHERE vec_id >= 8),
       q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
       cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS cv
                FROM c ORDER BY vec_id LIMIT $nCentroids),
       cass AS (SELECT c.vec_id AS neighbor_id, c.v,
                       (min(struct_pack(d := ${d("c.v")}, cid := cent.cid))).cid AS cid
                FROM c CROSS JOIN cent GROUP BY c.vec_id, c.v),
       qprobe AS (SELECT vec_id AS query_id, v, cid FROM (
                    SELECT q.vec_id, q.v, cent.cid,
                           row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY ${d("q.v")}, cent.cid) AS pr
                    FROM q CROSS JOIN cent) WHERE pr <= $nprobe),
       cand AS (SELECT qp.query_id, ca.neighbor_id,
                       list_cosine_similarity(qp.v, ca.v) AS cos
                FROM qprobe qp JOIN cass ca USING (cid))
       SELECT query_id,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk,
              neighbor_id
       FROM cand QUALIFY rnk <= $k"""
  }

  /** The PQ training/encode/ADC-table CTE block shared by the ann_pq
    * and ann_ivfpq oracles — assumes CTEs `c`/`q` with
    * (vec_id, v, n2) are already in scope; emits samp … enc, tq. */
  private def pqOracleCtes(m: Int, kCent: Int, subDim: Int,
      trainSample: Int, iters: Int): String = {
    // the exact left-assoc Σ(s.sv[i]-ct.cv[i])² chain of PqEncode
    val chain = (1 to subDim)
      .map(i => s"(s.sv[$i] - ct.cv[$i]) * (s.sv[$i] - ct.cv[$i])")
      .mkString(" + ")
    def assign(n: Int, rel: String, idCol: String, outCol: String,
        keepSv: Boolean): String = {
      val sv = if (keepSv) ", s.sv" else ""
      val grp = if (keepSv) s"s.$idCol, s.m, s.sv" else s"s.$idCol, s.m"
      s"""(SELECT s.$idCol, s.m$sv,
             (min(struct_pack(d := $chain, cid := ct.cid))).cid AS $outCol
           FROM $rel s JOIN cent${n} ct ON s.m = ct.m
           GROUP BY $grp)"""
    }
    val steps = (1 to iters).map { n =>
      s"""a$n AS ${assign(n - 1, "sub", "sid", "cid", keepSv = true)},
         x$n AS (SELECT m, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM a$n),
         m$n AS (SELECT m, cid, pos, round(avg(x), 6) AS mv FROM x$n GROUP BY m, cid, pos),
         cent$n AS (SELECT prev.m, prev.cid, coalesce(nw.cv, prev.cv) AS cv
                    FROM cent${n - 1} prev
                    LEFT JOIN (SELECT m, cid, list(mv ORDER BY pos) AS cv
                               FROM m$n GROUP BY m, cid) nw
                      ON prev.m = nw.m AND prev.cid = nw.cid)"""
    }.mkString(",\n")
    s"""samp AS (SELECT v, CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS sid
                FROM c ORDER BY vec_id LIMIT $trainSample),
       sub AS (SELECT sid, CAST(mr.range AS INTEGER) AS m,
                      v[mr.range * $subDim + 1 : mr.range * $subDim + $subDim] AS sv
               FROM samp, range($m) mr),
       cent0 AS (SELECT m, sid AS cid, sv AS cv FROM sub WHERE sid < $kCent),
       $steps,
       csub AS (SELECT vec_id, CAST(mr.range AS INTEGER) AS m,
                       v[mr.range * $subDim + 1 : mr.range * $subDim + $subDim] AS sv
                FROM c, range($m) mr),
       enc AS ${assign(iters, "csub", "vec_id", "code", keepSv = false)},
       tq AS (SELECT q.vec_id AS query_id, ct.m, ct.cid,
                     list_inner_product(q.v[ct.m * $subDim + 1 : ct.m * $subDim + $subDim],
                                        ct.cv) AS tval
              FROM q CROSS JOIN cent$iters ct)"""
  }

  /** Shortlist + exact-rerank tail shared by the PQ-family oracles:
    * rank `scoredRel` (query_id, neighbor_id, adc) by normalized ADC,
    * keep `rerank`, exact-cosine top-k. */
  private def pqOracleTail(rerank: Int, k: Int): String =
    s"""short AS (SELECT query_id, neighbor_id FROM (
                   SELECT sc.query_id, sc.neighbor_id,
                          row_number() OVER (PARTITION BY sc.query_id
                            ORDER BY sc.adc / sqrt(qq.n2 * cc.n2) DESC,
                                     sc.neighbor_id) AS arnk
                   FROM scored sc
                   JOIN q qq ON sc.query_id = qq.vec_id
                   JOIN c cc ON sc.neighbor_id = cc.vec_id) WHERE arnk <= $rerank)
       SELECT short.query_id,
              CAST(row_number() OVER (PARTITION BY short.query_id
                ORDER BY list_cosine_similarity(qq.v, cc.v) DESC,
                         short.neighbor_id) AS INTEGER) AS rnk,
              short.neighbor_id
       FROM short
       JOIN q qq ON short.query_id = qq.vec_id
       JOIN c cc ON short.neighbor_id = cc.vec_id
       QUALIFY rnk <= $k"""

  /** ann_pq oracle: the ENTIRE product-quantization pipeline replayed
    * in SQL — codebook training included. The trainer is seeded
    * deterministic Lloyd per subspace over the lowest-id sample with
    * 6dp mean rounding at each iteration edge (the emb_kmeans
    * determinism trade), so the oracle re-derives the identical
    * codebook: init = sub-slices of the kCent lowest-id samples,
    * assignment = struct-min over the EXACT left-folded Σ(diff²)
    * chain the native PqEncode computes (explicit left-associated
    * addition — both engines fold the same doubles in the same
    * order), mean recompute = round(avg, 6) with empty clusters
    * keeping their previous centroid (LEFT JOIN + coalesce). Encode,
    * the per-query ADC table (list_inner_product sub-dots), the
    * left-folded m-term ADC sum (list_reduce over list(tval ORDER BY
    * m) — PqAdc's summation order), the rerank-shortlist and the
    * exact-cosine top-k then mirror the plan 1:1. Gate params: the
    * sample covers ≥ kCent vectors at both verify SFs (no init
    * wrap-around), iters = 3. */
  private def annPqOracle: String = {
    val (m, kCent, subDim, trainSample, iters, rerank, k) = (8, 32, 8, 512, 3, 50, 5)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id >= 8),
       q AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id < 8),
       ${pqOracleCtes(m, kCent, subDim, trainSample, iters)},
       scored AS (SELECT tq.query_id, enc.vec_id AS neighbor_id,
                    list_reduce(list_prepend(0.0, list(tq.tval ORDER BY tq.m)),
                                (acc, x) -> acc + x) AS adc
                  FROM enc JOIN tq ON enc.m = tq.m AND enc.code = tq.cid
                  GROUP BY tq.query_id, enc.vec_id),
       ${pqOracleTail(rerank, k)}"""
  }

  /** ann_ivfpq oracle: the ann_ivf and ann_pq gates COMPOSED — the
    * coarse quantizer (lowest-id centroid set, struct-min list
    * assignment, ordered nprobe ranking) re-derived exactly as in
    * [[annIvfOracle]], the PQ codebook re-derived by the unrolled
    * edge-rounded Lloyd of [[annPqOracle]], and the ADC scoring
    * restricted to (query, neighbor) pairs whose list ids meet in the
    * query's probe set — then the shared shortlist/exact-rerank tail.
    * Coarse list ids are named `lid` to keep them distinct from the
    * PQ sub-centroid `cid`s. */
  private def annIvfPqOracle: String = {
    val (nCentroids, nprobe) = (16, 8)
    val (m, kCent, subDim, trainSample, iters, rerank, k) = (8, 32, 8, 512, 3, 50, 5)
    def d(v: String) =
      s"list_inner_product(cc2.cv, cc2.cv) - 2 * list_inner_product($v, cc2.cv)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id >= 8),
       q AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e WHERE vec_id < 8),
       ccent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS lid,
                        v AS cv
                 FROM c ORDER BY vec_id LIMIT $nCentroids),
       cass AS (SELECT c.vec_id AS neighbor_id,
                       (min(struct_pack(d := ${d("c.v")}, lid := cc2.lid))).lid AS lid
                FROM c CROSS JOIN ccent cc2 GROUP BY c.vec_id),
       qprobe AS (SELECT vec_id AS query_id, lid FROM (
                    SELECT q.vec_id, cc2.lid,
                           row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY ${d("q.v")}, cc2.lid) AS pr
                    FROM q CROSS JOIN ccent cc2) WHERE pr <= $nprobe),
       pairs AS (SELECT qp.query_id, ca.neighbor_id
                 FROM qprobe qp JOIN cass ca USING (lid)),
       ${pqOracleCtes(m, kCent, subDim, trainSample, iters)},
       scored AS (SELECT p.query_id, p.neighbor_id,
                    list_reduce(list_prepend(0.0, list(tq.tval ORDER BY tq.m)),
                                (acc, x) -> acc + x) AS adc
                  FROM pairs p
                  JOIN enc ON enc.vec_id = p.neighbor_id
                  JOIN tq ON tq.query_id = p.query_id
                         AND tq.m = enc.m AND tq.cid = enc.code
                  GROUP BY p.query_id, p.neighbor_id),
       ${pqOracleTail(rerank, k)}"""
  }

  /** emb_recall oracle: exact-cosine ground truth on the audit slice
    * (list_cosine_similarity — the same association as
    * Vectors.cosine) intersected with the hyperplane-literal LSH
    * pair chain; integer counts per audit vector, zero-recall rows
    * kept via LEFT JOIN + coalesce. */
  private def embRecallOracleSql: String =
    s"""WITH $embLshPairsCtes,
       |truth AS (
       |  SELECT q.vec_id AS qid,
       |         least(q.vec_id, p.vec_id) AS vec_a,
       |         greatest(q.vec_id, p.vec_id) AS vec_b
       |  FROM e q JOIN e p ON q.vec_id < 16 AND p.vec_id <> q.vec_id
       |  WHERE list_cosine_similarity(q.v, p.v) >= 0.4),
       |hit AS (
       |  SELECT t.qid FROM truth t
       |  JOIN pairs c ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b),
       |aud AS (SELECT vec_id FROM e WHERE vec_id < 16),
       |tc AS (SELECT qid, count(*) AS n_true FROM truth GROUP BY 1),
       |hc AS (SELECT qid, count(*) AS n_hit FROM hit GROUP BY 1)
       |SELECT a.vec_id, coalesce(tc.n_true, 0) AS n_true,
       |       coalesce(hc.n_hit, 0) AS n_hit
       |FROM aud a
       |LEFT JOIN tc ON a.vec_id = tc.qid
       |LEFT JOIN hc ON a.vec_id = hc.qid""".stripMargin
}
